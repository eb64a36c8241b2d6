package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar function library coverage (SURVEY.md §2.8 — cpp/src/strings,
  * cpp/include/cudf/datetime.hpp, binaryop.hpp, unary.hpp, replace.hpp,
  * hashing.hpp, json/json.hpp).
  *
  * Everything here is a codegen'd built-in (`functions._` / `expr`),
  * never a UDF, so expressions stay inside WholeStageCodegen. Cross-engine
  * notes: Spark floor/ceil on double return LONG (oracle casts to match);
  * Spark weekday = DuckDB isodow-1; Spark date_trunc returns TIMESTAMP
  * while DuckDB returns DATE (oracle casts); `round` on binary doubles is
  * engine-divergent (Spark rounds the decimal string) and is deliberately
  * not oracle-checked.
  */
object Funcs extends QueryPack {

  /** Case / substring / trim / pad / concat (strings/case.hpp:37,
    * slice.hpp:100, strip.hpp:56, padding.hpp:50, combine.hpp:69). */
  def strBasic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        upper($"p_name").as("up"),
        lower($"p_type").as("lo"),
        substring($"p_name", 1, 6).as("sub"),
        lpad($"p_size".cast("string"), 4, "0").as("padded"),
        repeat(substring($"p_name", 1, 2), 2).as("rep"),
        reverse($"p_name").as("rev"),
        length($"p_name").as("len"),
        concat_ws("|", $"p_brand", $"p_type").as("cw"),
        trim(concat(lit("  "), $"p_name", lit("  "))).as("trm"))
      .orderBy($"p_partkey")
  }

  val strBasicSql: String =
    """SELECT p_partkey, upper(p_name) AS up, lower(p_type) AS lo,
      |  substring(p_name, 1, 6) AS sub,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
      |  repeat(substring(p_name, 1, 2), 2) AS rep,
      |  reverse(p_name) AS rev, length(p_name) AS len,
      |  concat_ws('|', p_brand, p_type) AS cw,
      |  trim('  ' || p_name || '  ') AS trm
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Find / membership predicates (strings/find.hpp:47-310). */
  def strSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        instr($"p_name", "e").as("pos_e"),
        $"p_name".startsWith("red").as("sw"),
        $"p_name".endsWith("bolt").as("ew"),
        $"p_name".contains("ring").as("ct"),
        $"p_name".like("%gear%").as("lk"))
      .orderBy($"p_partkey")
  }

  val strSearchSql: String =
    """SELECT p_partkey, strpos(p_name, 'e') AS pos_e,
      |  starts_with(p_name, 'red') AS sw,
      |  ends_with(p_name, 'bolt') AS ew,
      |  contains(p_name, 'ring') AS ct,
      |  p_name LIKE '%gear%' AS lk
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Regex: extract / replace / match (strings/extract.hpp:54,
    * replace_re.hpp, contains.hpp:50 — the reference ships its own regex
    * engine; Spark's Java regex covers the same query surface). */
  def strRegex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select($"doc_id",
        regexp_extract($"text", "^([a-z]+)", 1).as("first_word"),
        regexp_replace(substring($"text", 1, 40), "[aeiou]", "*").as("no_vowel"),
        $"text".rlike("join [a-z]+ filter").as("has_pat"))
      .orderBy($"doc_id")
  }

  val strRegexSql: String =
    """SELECT doc_id,
      |  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
      |  regexp_replace(substring(text, 1, 40), '[aeiou]', '*', 'g') AS no_vowel,
      |  regexp_matches(text, 'join [a-z]+ filter') AS has_pat
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Split + explode + word count (strings/split/split.hpp:47; the
    * tokenize→count shape of nvtext/tokenize.hpp:51). */
  def strSplitExplode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
      .limit(20)
  }

  val strSplitExplodeSql: String =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin

  /** Edit distance (nvtext/edit_distance.hpp:52 → levenshtein built-in). */
  def strDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        levenshtein($"p_name", $"p_type").as("lev_nt"),
        levenshtein($"p_brand", lit("Brand#33")).as("lev_b33"))
      .orderBy($"p_partkey")
  }

  val strDistanceSql: String =
    """SELECT p_partkey, levenshtein(p_name, p_type) AS lev_nt,
      |  levenshtein(p_brand, 'Brand#33') AS lev_b33
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Edit-distance long tail: full (unrestricted) Damerau-Levenshtein
    * — transposition-aware, the Lowrance-Wagner DP
    * (plans/DamerauLevenshtein documents the variant choice) — and
    * Hamming, which requires equal widths in BOTH engines (DuckDB's
    * `hamming` rejects unequal lengths, so do we) — rpad to a fixed
    * width first, the standard fixed-key comparison idiom. Both custom
    * codegen expressions, both bit-exact against DuckDB's natives. */
  def strEditFamily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.GraftExpressions.{damerauLevenshtein, hammingDist}
    Tables.part(s, dir).select($"p_partkey",
        damerauLevenshtein($"p_name", $"p_type").as("dl_nt"),
        damerauLevenshtein($"p_brand", lit("Brand#33")).as("dl_b33"),
        hammingDist(rpad($"p_brand", 10, "."), lit("Brand#33..")).as("ham_b33"))
      .orderBy($"p_partkey")
  }

  val strEditFamilySql: String =
    """SELECT p_partkey,
      |  CAST(damerau_levenshtein(p_name, p_type) AS INT) AS dl_nt,
      |  CAST(damerau_levenshtein(p_brand, 'Brand#33') AS INT) AS dl_b33,
      |  CAST(hamming(rpad(p_brand, 10, '.'), 'Brand#33..') AS INT) AS ham_b33
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Datetime component extraction on dates (datetime.hpp:57,96,228). */
  def dtExtractDate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey",
        year($"o_orderdate").as("y"),
        month($"o_orderdate").as("mo"),
        dayofmonth($"o_orderdate").as("d"),
        quarter($"o_orderdate").as("q"),
        dayofyear($"o_orderdate").as("doy"),
        weekofyear($"o_orderdate").as("woy"),
        weekday($"o_orderdate").as("dow"))
      .orderBy($"o_orderkey")
  }

  val dtExtractDateSql: String =
    """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS mo,
      |  dayofmonth(o_orderdate) AS d, quarter(o_orderdate) AS q,
      |  dayofyear(o_orderdate) AS doy, week(o_orderdate) AS woy,
      |  isodow(o_orderdate) - 1 AS dow
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Time-of-day components on µs timestamps. */
  def dtExtractTime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select($"event_id",
        hour($"ts").as("h"), minute($"ts").as("mi"), second($"ts").as("sec"))
      .orderBy($"event_id")
  }

  val dtExtractTimeSql: String =
    """SELECT event_id, hour(ts) AS h, minute(ts) AS mi,
      |  CAST(second(ts) AS INT) AS sec
      |FROM events ORDER BY event_id""".stripMargin

  /** Calendrical arithmetic: trunc / last_day / add_months / day diff
    * (datetime.hpp:80,132,258; ceil/floor/round to precision →
    * date_trunc family). */
  def dtArith(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey",
        date_trunc("month", $"o_orderdate").as("mo_start"),
        date_trunc("week", $"o_orderdate").as("wk_start"),
        last_day($"o_orderdate").as("mo_end"),
        add_months($"o_orderdate", 3).as("plus3mo"),
        datediff(lit("1998-01-01").cast("timestamp"), $"o_orderdate").as("days_to_98"))
      .orderBy($"o_orderkey")
  }

  val dtArithSql: String =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo_start,
      |  CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS wk_start,
      |  last_day(o_orderdate) AS mo_end,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
      |  CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS INT)
      |    AS days_to_98
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Fixed-frequency timestamp rounding (datetime.hpp:258
    * ceil_datetimes, :275 floor_datetimes, :292 round_datetimes —
    * the sub-day-frequency family date_trunc can't express): floor /
    * ceil / round-half-up to the hour, and floor-to-15-min /
    * round-to-minute, all as exact integer-micros arithmetic
    * (floorDivExpr keeps pre-epoch instants floor-aligned on both
    * engines; half-up is this engine's documented contract). One
    * codegen map stage. */
  def dtRoundFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val us = "unix_micros(ts)"
    def fd(x: String, n: Long) = graft.operators.Resample.floorDivExpr(x, n)
    val H = 3600000000L
    val M = 60000000L
    val Q = 900000000L
    Tables.events(s, dir).select($"event_id", $"ts",
        expr(s"timestamp_micros((${fd(us, H)}) * ${H}L)").as("floor_h"),
        expr(s"timestamp_micros((${fd(s"$us + ${H - 1}L", H)}) * ${H}L)")
          .as("ceil_h"),
        expr(s"timestamp_micros((${fd(s"$us + ${H / 2}L", H)}) * ${H}L)")
          .as("round_h"),
        expr(s"timestamp_micros((${fd(us, Q)}) * ${Q}L)").as("floor_15m"),
        expr(s"timestamp_micros((${fd(s"$us + ${M / 2}L", M)}) * ${M}L)")
          .as("round_min"))
      .orderBy($"event_id")
  }

  val dtRoundFreqSql: String =
    """SELECT event_id, ts,
      |  make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
      |    AS floor_h,
      |  make_timestamp(((epoch_us(ts) + 3599999999) // 3600000000)
      |    * 3600000000) AS ceil_h,
      |  make_timestamp(((epoch_us(ts) + 1800000000) // 3600000000)
      |    * 3600000000) AS round_h,
      |  make_timestamp((epoch_us(ts) // 900000000) * 900000000)
      |    AS floor_15m,
      |  make_timestamp(((epoch_us(ts) + 30000000) // 60000000)
      |    * 60000000) AS round_min
      |FROM events ORDER BY event_id""".stripMargin

  /** Char-type predicates (strings/char_types.hpp
    * all_characters_of_type): whole-string class tests via anchored
    * patterns that parse identically in Java regex and DuckDB RE2. */
  def strChartypes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        isAlpha($"p_brand").as("brand_alpha"),
        isDigit($"p_size".cast("string")).as("size_digit"),
        isAlnum(regexp_replace($"p_name", "\\s", "")).as("name_alnum"),
        isSpaceStr($"p_name").as("name_space"),
        isUpperStr($"p_brand").as("brand_upper"),
        isLowerStr($"p_name").as("name_lower"))
      .orderBy($"p_partkey")
  }

  val strChartypesSql: String =
    raw"""SELECT p_partkey,
         |  regexp_matches(p_brand, '\A[a-zA-Z]+\z') AS brand_alpha,
         |  regexp_matches(CAST(p_size AS VARCHAR), '\A[0-9]+\z') AS size_digit,
         |  regexp_matches(regexp_replace(p_name, '\s', '', 'g'),
         |    '\A[a-zA-Z0-9]+\z') AS name_alnum,
         |  regexp_matches(p_name, '\A\s+\z') AS name_space,
         |  p_brand = upper(p_brand) AS brand_upper,
         |  p_name = lower(p_name) AS name_lower
         |FROM part ORDER BY p_partkey""".stripMargin

  /** Calendar predicates + month sequences (datetime.hpp:278
    * is_leap_year, days_in_month:292, calendrical_month_sequence:376). */
  def dtCalendar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feb = last_day(make_date(year($"o_orderdate"), lit(2), lit(1)))
    Tables.orders(s, dir).select($"o_orderkey",
        (dayofmonth(feb) === 29).as("is_leap"),
        dayofmonth(last_day($"o_orderdate")).as("days_in_mo"),
        // joined to one string: the driver's pandas comparator cannot
        // hash raw array cells
        array_join(
          sequence(trunc($"o_orderdate", "month"),
            add_months(trunc($"o_orderdate", "month"), 3),
            expr("interval 1 month")).cast("array<string>"), ",").as("mo_seq"))
      .orderBy($"o_orderkey")
  }

  val dtCalendarSql: String =
    """SELECT o_orderkey,
      |  dayofmonth(last_day(make_date(year(o_orderdate), 2, 1))) = 29 AS is_leap,
      |  dayofmonth(last_day(o_orderdate)) AS days_in_mo,
      |  array_to_string(list_transform(generate_series(
      |      CAST(date_trunc('month', o_orderdate) AS DATE),
      |      CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 3 MONTH,
      |      INTERVAL 1 MONTH), x -> CAST(CAST(x AS DATE) AS VARCHAR)), ',') AS mo_seq
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Center padding (strings/padding.hpp:46, side_type::BOTH =
    * str.center). Two widths so BOTH branches hash into the gate:
    * p_name (20–50 chars) at width 40 exercises pad and pass-through;
    * p_brand (8 chars) at width 13 always pads, odd/even pad splits
    * both occur. */
  def strPadCenter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.padCenter
    Tables.part(s, dir).select($"p_partkey",
        padCenter($"p_name", 40, "*").as("name_c40"),
        padCenter($"p_brand", 13, ".").as("brand_c13"))
      .orderBy($"p_partkey")
  }

  val strPadCenterSql: String = {
    // Reference split (pad_impl.cuh side_type::BOTH): odd WIDTH
    // right-justifies → left = pad - pad//2; even width → left = pad//2.
    def centerSql(c: String, w: Int, f: String) = {
      val leftExpr =
        if (w % 2 == 1) s"(($w - length($c)) - ($w - length($c)) // 2)"
        else s"(($w - length($c)) // 2)"
      s"""CASE WHEN length($c) >= $w THEN $c
         |     ELSE rpad(lpad($c,
         |            CAST(length($c) + $leftExpr AS INT),
         |            '$f'), $w, '$f') END""".stripMargin
    }
    s"""SELECT p_partkey,
       |  ${centerSql("p_name", 40, "*")} AS name_c40,
       |  ${centerSql("p_brand", 13, ".")} AS brand_c13
       |FROM part ORDER BY p_partkey""".stripMargin
  }

  /** Calendar-edge predicates (pandas .dt.is_month_start/_end,
    * is_quarter_start/_end, is_year_start/_end; cudf datetime.hpp
    * day_of_year:258) — each a pure codegen comparison against
    * trunc/last_day anchors, pushed-down-scan friendly. */
  def dtMonthEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = $"o_orderdate"
    Tables.orders(s, dir).select($"o_orderkey",
        (dayofmonth(d) === 1).as("mo_start"),
        (d === last_day(d)).as("mo_end"),
        (d === trunc(d, "quarter")).as("q_start"),
        (d === last_day(add_months(trunc(d, "quarter"), 2))).as("q_end"),
        (d === trunc(d, "year")).as("y_start"),
        ((month(d) === 12) && (dayofmonth(d) === 31)).as("y_end"),
        dayofyear(d).as("doy"))
      .orderBy($"o_orderkey")
  }

  val dtMonthEdgesSql: String =
    """SELECT o_orderkey,
      |  dayofmonth(o_orderdate) = 1 AS mo_start,
      |  o_orderdate = last_day(o_orderdate) AS mo_end,
      |  o_orderdate = CAST(date_trunc('quarter', o_orderdate) AS DATE)
      |    AS q_start,
      |  o_orderdate = last_day(CAST(date_trunc('quarter', o_orderdate)
      |    AS DATE) + INTERVAL 2 MONTH) AS q_end,
      |  o_orderdate = CAST(date_trunc('year', o_orderdate) AS DATE)
      |    AS y_start,
      |  month(o_orderdate) = 12 AND dayofmonth(o_orderdate) = 31 AS y_end,
      |  dayofyear(o_orderdate) AS doy
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Null utilities (replace.hpp:48-212): coalesce / nullif / greatest /
    * least / clamp. */
  def nullHandling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_custkey",
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
        coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("(none)")).as("seg_filled"),
        greatest($"c_acctbal", lit(1000.0)).as("hi"),
        least($"c_acctbal", lit(5000.0)).as("lo"),
        greatest(least($"c_acctbal", lit(5000.0)), lit(500.0)).as("clamped"))
      .orderBy($"c_custkey")
  }

  val nullHandlingSql: String =
    """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS seg_filled,
      |  greatest(c_acctbal, 1000.0) AS hi,
      |  least(c_acctbal, 5000.0) AS lo,
      |  greatest(least(c_acctbal, 5000.0), 500.0) AS clamped
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Conditional select copy_if_else (copying.hpp:661) → CASE WHEN. */
  def condCase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey",
        when($"o_totalprice" > 200000, "big")
          .when($"o_totalprice" > 50000, "mid")
          .otherwise("small").as("size_class"),
        when($"o_orderstatus" === "F", lit(1)).otherwise(lit(0)).as("is_final"))
      .orderBy($"o_orderkey")
  }

  val condCaseSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 200000 THEN 'big'
      |       WHEN o_totalprice > 50000 THEN 'mid'
      |       ELSE 'small' END AS size_class,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Binary/unary math ops (binaryop.hpp:30-84, unary.hpp:32-57):
    * mod/pmod, floor/ceil, abs/sign, sqrt, shifts, bitwise and/or/xor,
    * bit_count, bit_invert. */
  def mathFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).select($"l_orderkey", $"l_linenumber",
        ($"l_orderkey" % 7).as("m7"),
        pmod(-$"l_orderkey", lit(7)).as("pm7"),
        floor($"l_quantity").as("fl"),
        ceil($"l_quantity").as("cl"),
        abs($"l_discount" - 0.05).as("ab"),
        signum($"l_discount" - 0.05).cast("int").as("sg"),
        sqrt($"l_quantity").as("sq"),
        shiftleft($"l_linenumber", 3).as("shl"),
        shiftright($"l_suppkey", 2).as("shr"),
        expr("l_suppkey & l_partkey").as("band"),
        expr("l_suppkey | l_partkey").as("bor"),
        expr("l_suppkey ^ l_partkey").as("bxor"),
        bit_count($"l_suppkey").as("bcnt"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val mathFuncsSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey % 7 AS m7,
      |  (((-l_orderkey) % 7) + 7) % 7 AS pm7,
      |  CAST(floor(l_quantity) AS BIGINT) AS fl,
      |  CAST(ceil(l_quantity) AS BIGINT) AS cl,
      |  abs(l_discount - 0.05) AS ab,
      |  CAST(sign(l_discount - 0.05) AS INT) AS sg,
      |  sqrt(l_quantity) AS sq,
      |  l_linenumber << 3 AS shl,
      |  l_suppkey >> 2 AS shr,
      |  l_suppkey & l_partkey AS band,
      |  l_suppkey | l_partkey AS bor,
      |  xor(l_suppkey, l_partkey) AS bxor,
      |  CAST(bit_count(l_suppkey) AS INT) AS bcnt
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Hashing (hashing.hpp:87-157): md5 / sha2-256 / hex. Spark's
    * murmur3 `hash()` and `xxhash64` match the reference's kernels
    * (hashing.hpp:53,176) but not DuckDB's, so they're library surface,
    * not oracle columns. */
  def hashFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        md5($"p_name").as("h_md5"),
        sha2($"p_name", 256).as("h_sha256"),
        hex($"p_partkey").as("key_hex"))
      .orderBy($"p_partkey")
  }

  val hashFuncsSql: String =
    """SELECT p_partkey, md5(p_name) AS h_md5, sha256(p_name) AS h_sha256,
      |  hex(p_partkey) AS key_hex
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Reference-vector conformance gate for the hash variants DuckDB
    * cannot compute (hashing.hpp:72 murmurhash3_x64_128, hashing.hpp:176
    * xxhash_32, hashing.hpp:196 xxhash_64): every row evaluates one
    * kernel IN-PLAN over a reference test input and emits
    * `ok = computed == expected_literal`, with the expected literals
    * lifted from the reference's own published vectors
    * (cpp/tests/hashing/murmurhash3_x64_128_test.cpp:66,87 seeds 0 and
    * 7; xxhash_32_test.cpp:15,28,43 int/double/string;
    * xxhash_64_test.cpp:131 strings, seed 0 via [[graft.plans
    * .HashVariants.xxhash64Seeded]]). DuckDB can't run the kernels but
    * CAN hash-match the boolean table — the same in-plan-bound move that
    * turned the sketch family oracle-green in round 7. Mismatch ⇒ the
    * row flips false ⇒ the driver's value-hash diverges. */
  def hashVariants(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.HashVariants
    def ul(x: String): Long = java.lang.Long.parseUnsignedLong(x)
    val strs = Seq(
      "The", "quick", "brown fox", "jumps over the lazy dog.",
      "I am Jack's complete lack of null value",
      "A very long (greater than 128 bytes/characters) to test a very " +
        "long string. 2nd half of the very long string to verify the " +
        "long string hashing happening.",
      "Some multi-byte characters here: ééé", "ééé", "ééé ééé",
      "ééé ééé ééé ééé", "", "!@#$%^&*(())", "0123456789",
      "{}|:<>?,./;[]=-")
    val mm0 = Seq("3481043174314896794", "1981901315483788749",
      "1418748153263580713", "11224732510765974842", "10813495276579975748",
      "8563282101401420087", "7289234017606107350", "225672801045596944",
      "14927688838032769435", "7513581995808204968", "0",
      "14163495587303857889", "4581940570640870180", "18164432652839101653")
      .map(ul)
    val mm7 = Seq("5091211404759866125", "12948345853121693662",
      "14974420008081159223", "4475830656132398742", "15724398074328467356",
      "4091324140202743991", "7130403777725115865", "11087585763075301159",
      "12568262854562899547", "2679775340886828858", "17582832888865278351",
      "5264478748926531221", "8863578460974333747", "11176802453047055260")
      .map(ul)
    val xx64 = Seq("4686269239494003989", "6715983472207430822",
      "8148134898123095730", "17291005374665645904", "2631835514925512071",
      "4181420602165187991", "8749004388517322364", "17701789113925815768",
      "8612485687958712810", "5148645515269989956", "17241709254077376921",
      "7379359170906687646", "4566581271137380327", "17962149534752128981")
      .map(ul)
    val strDf = strs.indices
      .map(i => (i, strs(i), mm0(i), mm7(i), xx64(i)))
      .toDF("case_id", "t", "e0", "e7", "e64")
    val fm0 = strDf.select(lit("mm128_h1_seed0").as("family"), $"case_id",
      (HashVariants.murmur3x64_128($"t", 0L).getField("h1") === $"e0").as("ok"))
    val fm7 = strDf.select(lit("mm128_h1_seed7").as("family"), $"case_id",
      (HashVariants.murmur3x64_128($"t", 7L).getField("h1") === $"e7").as("ok"))
    val f64 = strDf.select(lit("xxhash64_seed0").as("family"), $"case_id",
      (HashVariants.xxhash64Seeded($"t", 0L) === $"e64").as("ok"))
    val fxi = Seq((0, 0, 148298089L), (1, 42, 1161967057L),
        (2, 825, 1066694813L))
      .toDF("case_id", "v", "e")
      .select(lit("xx32_int_seed0").as("family"), $"case_id",
        (HashVariants.xxhash32($"v", 0).cast("long")
          .bitwiseAND(lit(0xFFFFFFFFL)) === $"e").as("ok"))
    val fxd = Seq((0, -8.0, 2276435783L), (1, 25.0, 3120212431L),
        (2, 90.0, 3454197470L))
      .toDF("case_id", "v", "e")
      .select(lit("xx32_double_seed42").as("family"), $"case_id",
        (HashVariants.xxhash32($"v", 42).cast("long")
          .bitwiseAND(lit(0xFFFFFFFFL)) === $"e").as("ok"))
    val fxs = Seq((0, "I", 320624298L), (1, "am", 1612654309L),
        (2, "AI", 1409499009L))
      .toDF("case_id", "v", "e")
      .select(lit("xx32_str_seed825").as("family"), $"case_id",
        (HashVariants.xxhash32($"v", 825).cast("long")
          .bitwiseAND(lit(0xFFFFFFFFL)) === $"e").as("ok"))
    fm0.union(fm7).union(f64).union(fxi).union(fxd).union(fxs)
      .orderBy($"family", $"case_id")
  }

  /** DuckDB oracle for [[hashVariants]]: the all-true boolean table. */
  val hashVariantsSql: String = {
    val fams = Seq("mm128_h1_seed0" -> 14, "mm128_h1_seed7" -> 14,
      "xxhash64_seed0" -> 14, "xx32_int_seed0" -> 3,
      "xx32_double_seed42" -> 3, "xx32_str_seed825" -> 3)
    val rows =
      for ((f, n) <- fams; i <- 0 until n) yield s"('$f', $i, true)"
    s"""SELECT * FROM (VALUES ${rows.mkString(", ")})
       |AS t(family, case_id, ok) ORDER BY family, case_id""".stripMargin
  }

  /** JSONPath extraction (json/json.hpp:27 get_json_object). */
  def jsonFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select($"event_id",
        get_json_object($"props", "$.k").as("k_str"),
        get_json_object($"props", "$.k").cast("int").as("k_int"),
        from_json($"props", lit("k INT")).getField("k").as("k_typed"))
      .orderBy($"event_id")
  }

  val jsonFuncsSql: String =
    """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_typed
      |FROM events ORDER BY event_id""".stripMargin

  /** to_json → from_json round trip (strings/json + cudf to_json
    * surface): serialize a (BIGINT, BIGINT, VARCHAR) struct and
    * re-extract a field from the produced string. The serialized
    * column itself is part of the oracle check — Spark's compact
    * `{"k":v}` rendering for integer/string fields is byte-identical
    * to DuckDB's to_json (verified; doubles would NOT be, which is
    * why `value` stays out of the struct). ignoreNullFields=false so a
    * NULL field renders `"k":null` exactly like DuckDB, instead of
    * Spark's default field omission — the parity must not depend on
    * the synthetic events table happening to have no NULLs. */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("js", to_json(struct($"event_id", $"user_id", $"event_type"),
        Map("ignoreNullFields" -> "false")))
      .select($"event_id", $"js",
        from_json($"js", lit("user_id BIGINT, event_type STRING"))
          .getField("event_type").as("et_rt"))
      .orderBy($"event_id")
  }

  val jsonRoundtripSql: String =
    """SELECT event_id, js, json_extract_string(js, '$.event_type') AS et_rt
      |FROM (
      |  SELECT event_id, CAST(to_json(struct_pack(
      |      event_id := event_id, user_id := user_id,
      |      event_type := event_type)) AS VARCHAR) AS js
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  /** String-API long tail: wrap (strings/wrap.hpp:57), find_multiple
    * (find_multiple.hpp:46), partition (cudf str.partition), fused
    * ngrams_tokenize (nvtext/ngrams_tokenize.hpp:80). URL encode/decode
    * (strings/convert/convert_urls.hpp) is unit-tested instead: DuckDB
    * 1.0 has no url_encode, so it cannot join this oracle query. */
  def strExtra(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions._
    val part3 = strPartition($"p_name", " ")
    Tables.part(s, dir).select($"p_partkey",
        wrap($"p_name", 12).as("wrapped"),
        // arrays joined to strings: the driver's pandas comparator
        // cannot hash raw array cells
        array_join(findMultiple($"p_name", Seq("a", "ol"))
          .cast("array<string>"), ",").as("fm"),
        part3.getField("head").as("part_head"),
        part3.getField("tail").as("part_tail"),
        array_join(ngramsTokenize($"p_name", 2), " ").as("ng2"))
      .orderBy($"p_partkey")
  }

  val strExtraSql: String =
    raw"""SELECT p_partkey,
         |  rtrim(regexp_replace(p_name, '(\S.{0,11})(\s+|$$)',
         |    '\1' || chr(10), 'g'), chr(10)) AS wrapped,
         |  array_to_string([strpos(p_name, 'a') - 1, strpos(p_name, 'ol') - 1],
         |    ',') AS fm,
         |  CASE WHEN strpos(p_name, ' ') > 0
         |       THEN substring(p_name, 1, strpos(p_name, ' ') - 1)
         |       ELSE p_name END AS part_head,
         |  CASE WHEN strpos(p_name, ' ') > 0
         |       THEN substring(p_name, strpos(p_name, ' ') + 1)
         |       ELSE '' END AS part_tail,
         |  CASE WHEN len(toks) >= 2 THEN array_to_string(list_transform(
         |         generate_series(1, len(toks) - 1),
         |         i -> array_to_string(toks[i:i+1], '_')), ' ')
         |       ELSE '' END AS ng2
         |FROM (SELECT *, string_split_regex(lower(trim(p_name)), '\s+') AS toks
         |      FROM part)
         |ORDER BY p_partkey""".stripMargin

  /** Case conversion + character mapping long tail: capitalize / title /
    * is_title (strings/capitalize.hpp:49,80,112), per-character translate
    * with deletion (strings/translate.hpp:53 — unmapped chars in the
    * shorter `to` are removed), filter_characters (translate.hpp:91 —
    * keep-only-in-range, expressed as a negated char class), and findall
    * (findall.hpp:44 — all matches as a list, joined to a string for the
    * driver's comparator). Every function is a codegen'd built-in; one
    * map stage, no shuffle. DuckDB has no initcap, so the oracle title-
    * cases by word-splitting — identical on single-space part names. */
  def strCaseConvert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        concat(upper(substring($"p_name", 1, 1)),
          lower(substring($"p_name", 2, 1000000))).as("cap"),
        initcap($"p_name").as("title"),
        ($"p_name" === initcap($"p_name")).as("is_title"),
        translate($"p_name", "aeiou", "123").as("tr"),
        regexp_replace($"p_name", "[^a-z ]", "").as("filt"),
        array_join(regexp_extract_all($"p_name", lit("[aeiou]+"), lit(0)),
          ",").as("fa"))
      .orderBy($"p_partkey")
  }

  val strCaseConvertSql: String =
    """SELECT p_partkey,
      |  upper(p_name[1]) || lower(p_name[2:]) AS cap,
      |  array_to_string(list_transform(string_split(p_name, ' '),
      |      w -> upper(w[1]) || lower(w[2:])), ' ') AS title,
      |  p_name = array_to_string(list_transform(string_split(p_name, ' '),
      |      w -> upper(w[1]) || lower(w[2:])), ' ') AS is_title,
      |  translate(p_name, 'aeiou', '123') AS tr,
      |  regexp_replace(p_name, '[^a-z ]', '', 'g') AS filt,
      |  array_to_string(regexp_extract_all(p_name, '[aeiou]+'), ',') AS fa
      |FROM part ORDER BY p_partkey""".stripMargin

  /** normalize_nans_and_zeros (replace.hpp:282 — the codegen
    * `NormalizeNaNZero` expression): −0.0 → +0.0 and every NaN bit
    * pattern → the canonical NaN. Gated through IEEE OBSERVABLES (the
    * raw bits aren't SQL-visible): isnan, reciprocal sign — 1/(+0.0) =
    * +Inf only AFTER −0.0 normalizes, the exact bug the reference op
    * exists to fix — and zero-equality. The oracle recomputes the
    * expected truth table from the row key alone, independent of any
    * engine float edge case. */
  def mathNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftExpressions.normalizeNanZero
    import graft.plans.HashVariants.byteCast
    import s.implicits._
    val v = when($"p_partkey" % 3 === 0, lit(Double.NaN))
      .when($"p_partkey" % 3 === 1, lit(-0.0))
      .otherwise(lit(0.0) - $"p_size".cast("double"))
    val n = normalizeNanZero(v)
    Tables.part(s, dir).select($"p_partkey",
        // exact IEEE-754 bits for the two rewritten classes: every NaN
        // pattern → the canonical quiet NaN, −0.0 → +0.0
        when($"p_partkey" % 3 < 2, hex(byteCast(n)))
          .otherwise(lit(null).cast("string")).as("bits_hex"),
        // negative finite values pass through bit-identically
        ($"p_partkey" % 3 < 2 ||
          n === (lit(0.0) - $"p_size".cast("double"))).as("passthrough"),
        isnan(n).as("is_nan"))
      .orderBy($"p_partkey")
  }

  val mathNormalizeSql: String =
    """SELECT p_partkey,
      |  CASE WHEN p_partkey % 3 = 0 THEN '7FF8000000000000'
      |       WHEN p_partkey % 3 = 1 THEN '0000000000000000' END AS bits_hex,
      |  true AS passthrough,
      |  p_partkey % 3 = 0 AS is_nan
      |FROM part ORDER BY p_partkey""".stripMargin

  /** String attributes (strings/attributes.hpp: count_characters:46,
    * count_bytes:66, code_points:84): char vs UTF-8-byte length split
    * on names with multibyte content mixed in, plus the first/last
    * code points (the full code-point LIST is nested — the driver's
    * comparator rejects lists, so the query projects its ends; the
    * list form is `TextFunctions`-composable via transform/ascii).
    * All built-ins, one map stage. */
  def strAttributes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mixed = concat($"p_name", lit(" déjà-vu€"))
    Tables.part(s, dir).select($"p_partkey",
        length(mixed).as("n_chars"),
        octet_length(mixed).as("n_bytes"),
        ascii(mixed).as("first_cp"),
        ascii(substring(mixed, -1, 1)).as("last_cp"),
        (octet_length(mixed) > length(mixed)).as("is_multibyte"))
      .orderBy($"p_partkey")
  }

  val strAttributesSql: String =
    """SELECT p_partkey,
      |  length(m) AS n_chars,
      |  CAST(octet_length(encode(m)) AS INT) AS n_bytes,
      |  CAST(unicode(m) AS INT) AS first_cp,
      |  CAST(unicode(m[-1]) AS INT) AS last_cp,
      |  octet_length(encode(m)) > length(m) AS is_multibyte
      |FROM (SELECT p_partkey, p_name || ' déjà-vu€' AS m FROM part)
      |ORDER BY p_partkey""".stripMargin

  /** Numeric ↔ string conversion long tail (strings/convert/
    * convert_booleans.hpp to/from_booleans, convert_integers.hpp
    * to/from_integers incl. signed + whitespace-trimmed parse,
    * convert_floats.hpp to_floats — from_floats is checked as a
    * round-trip boolean because shortest-repr FORMATTING is engine-
    * divergent by design, like round() — convert_fixed_point.hpp
    * to/from_fixed_point via DECIMAL(12,2), and convert_lists.hpp
    * bracket formatting). All casts/concats → one codegen map stage,
    * no shuffle. */
  def strNumericConvert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir).select($"p_partkey",
        // from_integers + to_integers: signed and padded parse
        concat(lit("-"), $"p_partkey".cast("string")).cast("long")
          .as("neg_int"),
        concat(lit("  "), $"p_size".cast("string"), lit(" ")).cast("long")
          .as("ws_int"),
        // to/from_booleans
        ($"p_size" % 2 === 0).cast("string").as("bool_str"),
        when($"p_size" > 25, lit("true")).otherwise(lit("false"))
          .cast("boolean").as("b_parsed"),
        // to_floats: parse a constructed decimal string exactly
        concat($"p_size".cast("string"), lit(".5")).cast("double")
          .as("f_parsed"),
        // from_floats as a round-trip invariant (format → parse → ==)
        ($"p_retailprice".cast("string").cast("double") ===
          $"p_retailprice").as("f_rt"),
        // to/from_fixed_point: string → DECIMAL(12,2) → string
        concat($"p_size".cast("string"), lit(".25"))
          .cast(DecimalType(12, 2)).cast("string").as("dec_rt"),
        // convert_lists: bracketed element-joined formatting
        concat(lit("["), $"p_size".cast("string"), lit(","),
          ($"p_size" + 1).cast("string"), lit("]")).as("list_str"))
      .orderBy($"p_partkey")
  }

  val strNumericConvertSql: String =
    """SELECT p_partkey,
      |  CAST('-' || CAST(p_partkey AS VARCHAR) AS BIGINT) AS neg_int,
      |  CAST('  ' || CAST(p_size AS VARCHAR) || ' ' AS BIGINT) AS ws_int,
      |  CAST(p_size % 2 = 0 AS VARCHAR) AS bool_str,
      |  CAST(CASE WHEN p_size > 25 THEN 'true' ELSE 'false' END
      |    AS BOOLEAN) AS b_parsed,
      |  CAST(CAST(p_size AS VARCHAR) || '.5' AS DOUBLE) AS f_parsed,
      |  CAST(CAST(p_retailprice AS VARCHAR) AS DOUBLE) = p_retailprice
      |    AS f_rt,
      |  CAST(CAST(CAST(p_size AS VARCHAR) || '.25' AS DECIMAL(12,2))
      |    AS VARCHAR) AS dec_rt,
      |  '[' || CAST(p_size AS VARCHAR) || ',' ||
      |    CAST(p_size + 1 AS VARCHAR) || ']' AS list_str
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Duration ↔ string conversions (strings/convert/convert_durations
    * .hpp to_durations/from_durations, "%D days %H:%M:%S"): synthetic
    * second counts spanning both the bare-HMS and day-component forms,
    * formatted then parsed back (round-trip equality is part of the
    * hash check). All built-ins → one codegen'd map stage. */
  def strDurations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions._
    val dur = ($"event_id" * 7919 % 200000).cast("long")
    Tables.events(s, dir).select($"event_id", dur.as("dur_sec"),
        formatDuration(dur).as("dur_str"),
        parseDuration(formatDuration(dur)).as("rt_sec"))
      .orderBy($"event_id")
  }

  val strDurationsSql: String = {
    // same arithmetic text as formatDuration/parseDuration; DuckDB's
    // split_part stands in for Spark's substring_index (same results)
    val sec = "((event_id * 7919) % 200000)"
    val hms = s"lpad(CAST(CAST(floor($sec % 86400 / 3600) AS BIGINT) AS VARCHAR), 2, '0')" +
      s" || ':' || lpad(CAST(CAST(floor($sec % 3600 / 60) AS BIGINT) AS VARCHAR), 2, '0')" +
      s" || ':' || lpad(CAST(($sec % 60) AS VARCHAR), 2, '0')"
    val dstr = s"CASE WHEN CAST(floor($sec / 86400) AS BIGINT) > 0 " +
      s"THEN CAST(CAST(floor($sec / 86400) AS BIGINT) AS VARCHAR) || ' days ' || $hms " +
      s"ELSE $hms END"
    s"""SELECT event_id, CAST($sec AS BIGINT) AS dur_sec, dur_str,
       |  (CASE WHEN contains(dur_str, ' days ')
       |        THEN CAST(split_part(dur_str, ' days ', 1) AS BIGINT) ELSE 0 END)
       |    * 86400
       |  + CAST(split_part(CASE WHEN contains(dur_str, ' days ')
       |      THEN split_part(dur_str, ' days ', 2) ELSE dur_str END,
       |      ':', 1) AS BIGINT) * 3600
       |  + CAST(split_part(CASE WHEN contains(dur_str, ' days ')
       |      THEN split_part(dur_str, ' days ', 2) ELSE dur_str END,
       |      ':', 2) AS BIGINT) * 60
       |  + CAST(split_part(CASE WHEN contains(dur_str, ' days ')
       |      THEN split_part(dur_str, ' days ', 2) ELSE dur_str END,
       |      ':', 3) AS BIGINT) AS rt_sec
       |FROM (SELECT event_id, $dstr AS dur_str FROM events)
       |ORDER BY event_id""".stripMargin
  }

  /** List → string repr (strings/convert/convert_lists.hpp
    * format_list_column): a REAL array column (per-order collected
    * line numbers) rendered "[e1,e2,..]", a nested depth-2 render
    * "[[min],[max]]", and the null-element policy (na_rep "NULL")
    * exercised through a planted nullable element. */
  def strListRepr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.{listRepr, listReprNested}
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 101 < 12)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_linenumber")).as("lns"),
        min($"l_linenumber").as("mn"), max($"l_linenumber").as("mx"))
      .select($"l_orderkey",
        listRepr($"lns").as("lst_repr"),
        listReprNested(array(array($"mn"), array($"mx"))).as("nested_repr"),
        listRepr(array($"mn", nullif($"mx", $"mn"))).as("null_repr"))
      .orderBy($"l_orderkey")
  }

  val strListReprSql: String =
    """SELECT l_orderkey,
      |  '[' || array_to_string(list_sort(list(l_linenumber)), ',') || ']'
      |    AS lst_repr,
      |  '[[' || CAST(min(l_linenumber) AS VARCHAR) || '],[' ||
      |    CAST(max(l_linenumber) AS VARCHAR) || ']]' AS nested_repr,
      |  '[' || CAST(min(l_linenumber) AS VARCHAR) || ',' ||
      |    CASE WHEN max(l_linenumber) = min(l_linenumber) THEN 'NULL'
      |         ELSE CAST(max(l_linenumber) AS VARCHAR) END || ']'
      |    AS null_repr
      |FROM lineitem WHERE l_orderkey % 101 < 12
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Edit-distance similarity join (edit_distance.hpp:57 lifted to a
    * JOIN): every (sampled customer, customer) name pair within
    * Levenshtein distance 1, via SymSpell deletion-neighborhood
    * blocking + exact verify — no cross join in the plan. */
  def strFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val left = c.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("k1"), col("c_name").as("n1"))
    val right = c.select(col("c_custkey").as("k2"), col("c_name").as("n2"))
    graft.operators.FuzzyJoin.editDistanceJoin(
        left, "k1", "n1", right, "k2", "n2", k = 1)
      .filter(col("k1") =!= col("k2"))
      .orderBy(col("k1"), col("k2"))
  }

  val strFuzzyJoinSql: String =
    """SELECT a.c_custkey AS k1, b.c_custkey AS k2,
      |  a.c_name AS n1, b.c_name AS n2,
      |  levenshtein(a.c_name, b.c_name) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey % 10 = 0 AND a.c_custkey <> b.c_custkey
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY k1, k2""".stripMargin

  /** Jaro-Winkler similarity over adjacent customer-name pairs — the
    * custom codegen expression vs DuckDB's native
    * jaro_winkler_similarity (same 0.7-boost-threshold convention). */
  def strJaroWinkler(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val a = c.select(col("c_custkey").as("k1"), col("c_name").as("n1"))
    val b = c.select(col("c_custkey").as("k2"), col("c_name").as("n2"))
    a.join(b, col("k2") === col("k1") + 1)
      .select(col("k1"), col("k2"), col("n1"), col("n2"),
        graft.plans.GraftExpressions.jaroWinkler(col("n1"), col("n2")).as("jw"))
      .orderBy(col("k1"))
  }

  val strJaroWinklerSql: String =
    """SELECT a.c_custkey AS k1, b.c_custkey AS k2,
      |  a.c_name AS n1, b.c_name AS n2,
      |  jaro_winkler_similarity(a.c_name, b.c_name) AS jw
      |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      |ORDER BY k1""".stripMargin

  /** Blocked Jaro-Winkler similarity join over the distinct part names:
    * block on the first token (SQL-expressible, so the oracle replicates
    * the identical candidate set), verify jw ≥ 0.85 in-block. At
    * sf0.01 the block recovers 120 of 140 unblocked pairs — the
    * documented recall trade of blocking (the oracle compares the
    * BLOCKED contract, exactly). */
  def strJwBlockedJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.jaroWinklerBlockedJoin(
        Tables.part(s, dir).select(col("p_name")), "p_name",
        n => split(n, " ").getItem(0), 0.85)
      .orderBy(col("a"), col("b"))

  val strJwBlockedJoinSql: String =
    """WITH t AS (SELECT DISTINCT p_name AS nm FROM part)
      |SELECT a.nm AS a, b.nm AS b,
      |  jaro_winkler_similarity(a.nm, b.nm) AS jw
      |FROM t a JOIN t b
      |  ON string_split(a.nm, ' ')[1] = string_split(b.nm, ' ')[1]
      |  AND a.nm < b.nm
      |  AND jaro_winkler_similarity(a.nm, b.nm) >= 0.85
      |ORDER BY a, b""".stripMargin

  /** Sorted-neighborhood blocking over part names (Hernández-Stolfo;
    * FuzzyJoin.sortedNeighborhoodPairs): sort-shard by first letter,
    * window w=3, JW ≥ 0.85 on neighbors — the linear-candidate
    * complement of token blocking. The oracle replicates the shard +
    * lead-window pair generation identically, then scores with
    * DuckDB's native jaro_winkler_similarity. */
  def strSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.sortedNeighborhoodPairs(
        Tables.part(s, dir).select(col("p_name")), "p_name",
        w = 3, prefixLen = 1, threshold = 0.85)
      .orderBy(col("a"), col("b"))

  val strSortedNeighborhoodSql: String =
    """WITH t AS (SELECT DISTINCT p_name AS a FROM part),
      |l AS (
      |  SELECT a,
      |    lead(a, 1) OVER (PARTITION BY substring(a, 1, 1) ORDER BY a) AS n1,
      |    lead(a, 2) OVER (PARTITION BY substring(a, 1, 1) ORDER BY a) AS n2
      |  FROM t)
      |SELECT a, b, jaro_winkler_similarity(a, b) AS jw
      |FROM (SELECT a, unnest([n1, n2]) AS b FROM l)
      |WHERE b IS NOT NULL AND jaro_winkler_similarity(a, b) >= 0.85
      |ORDER BY a, b""".stripMargin

  /** Full record-linkage resolution over part names: first-token block,
    * JW ≥ 0.85 compare, per-name best match (jw desc, match asc ties).
    * The oracle replicates blocking + compare identically and resolves
    * with a row_number window — same tie-break, so the hash compare
    * pins the whole pipeline including the resolution order. */
  def strRecordLinkage(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.jaroWinklerBestMatch(
        Tables.part(s, dir).select(col("p_name")), "p_name",
        Tables.part(s, dir).select(col("p_name").as("dict_name")), "dict_name",
        n => split(n, " ").getItem(0), 0.85,
        excludeExact = true) // SELF-linkage: a name must not match itself
      .orderBy(col("p_name"))

  val strRecordLinkageSql: String =
    """WITH t AS (SELECT DISTINCT p_name AS nm FROM part),
      |cand AS (
      |  SELECT a.nm AS p_name, b.nm AS match,
      |    jaro_winkler_similarity(a.nm, b.nm) AS jw
      |  FROM t a JOIN t b
      |    ON string_split(a.nm, ' ')[1] = string_split(b.nm, ' ')[1]
      |    AND a.nm <> b.nm
      |    AND jaro_winkler_similarity(a.nm, b.nm) >= 0.85)
      |SELECT p_name, match, jw FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY p_name ORDER BY jw DESC, match) AS rn FROM cand)
      |WHERE rn = 1 ORDER BY p_name""".stripMargin

  /** Kernel-exact width-wrap + LAST-occurrence 3-way partition.
    * [[graft.plans.WrapText]] ports the wrap kernel's observable
    * contract (strings/wrap.hpp:61, cpp/src/strings/wrap.cu:44-73):
    * in-place char walk, break at the last whitespace once the window
    * fills, ASYMMETRIC caps — width characters on the first line,
    * width − 1 after (the break char occupies a window slot) — which
    * the regex wrap already gated under `str_extra` cannot express.
    * The oracle replays the same greedy contract as a DuckDB
    * list_reduce word-fold — equivalent on single-spaced text whose
    * words fit the window (p_name: lowercase color words ≤ 10 chars
    * < width − 1). rpartition (split/partition.hpp:100; absent →
    * ("", "", whole)) completes the partition pair; the separator 'o'
    * is present in some names and absent in others, so BOTH branches
    * hash into the gate. One codegen map stage — scales as a scan. */
  def strWrapPartition(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftExpressions.wrapText
    import graft.functions.TextFunctions.strRpartition
    import s.implicits._
    val rpt = strRpartition($"p_name", "o")
    Tables.part(s, dir).select($"p_partkey",
        wrapText($"p_name", 12).as("wrapped"),
        // width 9 sits BELOW the longest word (10 chars), so lines
        // overflow and break boundaries land densely — this is the
        // column that keeps the gate sensitive to window off-by-ones
        // (the width-12 column alone never observes one on this
        // corpus: measured 0/2000 rows change under `> width`)
        wrapText($"p_name", 9).as("wrapped9"),
        rpt.getField("head").as("rp_head"),
        rpt.getField("sep").as("rp_sep"),
        rpt.getField("tail").as("rp_tail"))
      .orderBy($"p_partkey")
  }

  val strWrapPartitionSql: String = {
    // last-line length and per-line cap derived from the accumulator:
    // no newline yet = first line (cap 12), else cap 11
    val lastlen = "CASE WHEN strpos(reverse(acc), chr(10)) = 0 " +
      "THEN length(acc) ELSE strpos(reverse(acc), chr(10)) - 1 END"
    def cap(w: Int) =
      s"CASE WHEN strpos(reverse(acc), chr(10)) = 0 THEN $w ELSE ${w - 1} END"
    def wrapFold(w: Int) =
      s"""list_reduce(string_split(p_name, ' '), (acc, x) -> acc ||
         |    CASE WHEN ($lastlen) + 1 + length(x) <= (${cap(w)})
         |         THEN ' ' ELSE chr(10) END || x)""".stripMargin
    s"""SELECT p_partkey,
       |  ${wrapFold(12)} AS wrapped,
       |  ${wrapFold(9)} AS wrapped9,
       |  CASE WHEN strpos(reverse(p_name), 'o') > 0
       |       THEN p_name[1:length(p_name) - strpos(reverse(p_name), 'o')]
       |       ELSE '' END AS rp_head,
       |  CASE WHEN strpos(reverse(p_name), 'o') > 0 THEN 'o' ELSE '' END AS rp_sep,
       |  CASE WHEN strpos(reverse(p_name), 'o') > 0
       |       THEN p_name[length(p_name) - strpos(reverse(p_name), 'o') + 2:]
       |       ELSE p_name END AS rp_tail
       |FROM part ORDER BY p_partkey""".stripMargin
  }

  override def gates: Seq[Gate] = Seq(
    Gate("str_wrap_partition", strWrapPartition, strWrapPartitionSql),
    Gate("str_fuzzy_join", strFuzzyJoin, strFuzzyJoinSql),
    Gate("str_jaro_winkler", strJaroWinkler, strJaroWinklerSql),
    Gate("str_jw_blocked_join", strJwBlockedJoin, strJwBlockedJoinSql),
    Gate("str_record_linkage", strRecordLinkage, strRecordLinkageSql),
    Gate("str_sorted_neighborhood", strSortedNeighborhood, strSortedNeighborhoodSql),
    Gate("str_durations", strDurations, strDurationsSql),
    Gate("str_list_repr", strListRepr, strListReprSql),
    Gate("str_case_convert", strCaseConvert, strCaseConvertSql),
    Gate("str_pad_center", strPadCenter, strPadCenterSql),
    Gate("dt_month_edges", dtMonthEdges, dtMonthEdgesSql),
    Gate("str_numeric_convert", strNumericConvert, strNumericConvertSql),
    Gate("str_attributes", strAttributes, strAttributesSql),
    Gate("math_normalize", mathNormalize, mathNormalizeSql),
    Gate("str_extra", strExtra, strExtraSql),
    Gate("str_chartypes", strChartypes, strChartypesSql),
    Gate("dt_calendar", dtCalendar, dtCalendarSql),
    Gate("str_basic", strBasic, strBasicSql),
    Gate("str_search", strSearch, strSearchSql),
    Gate("str_regex", strRegex, strRegexSql),
    Gate("str_split_explode", strSplitExplode, strSplitExplodeSql),
    Gate("str_distance", strDistance, strDistanceSql),
    Gate("str_edit_family", strEditFamily, strEditFamilySql),
    Gate("dt_extract_date", dtExtractDate, dtExtractDateSql),
    Gate("dt_extract_time", dtExtractTime, dtExtractTimeSql),
    Gate("dt_arith", dtArith, dtArithSql),
    Gate("dt_round_freq", dtRoundFreq, dtRoundFreqSql),
    Gate("null_handling", nullHandling, nullHandlingSql),
    Gate("cond_case", condCase, condCaseSql),
    Gate("math_funcs", mathFuncs, mathFuncsSql),
    Gate("hash_funcs", hashFuncs, hashFuncsSql),
    Gate("hash_variants", hashVariants, hashVariantsSql),
    Gate("json_funcs", jsonFuncs, jsonFuncsSql),
    Gate("json_roundtrip", jsonRoundtrip, jsonRoundtripSql))
}
