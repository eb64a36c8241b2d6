package graft.queries

import graft.Tables
import graft.plans.GraftExpressions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining §2.8/§2.4/§2.13 surface: binning (label_bins/cut),
  * membership (contains/isin), ipv4 int↔string conversion, approximate
  * sketches (approx_count_distinct / percentile_approx ≙ NUNIQUE-approx /
  * TDIGEST contracts), seeded sampling, Porter stems, EWMA windows.
  * Sketch/sample/hash-seeded results are engine-specific → rows-only
  * checks; everything else is oracle-checked.
  */
object MiscPack extends QueryPack {

  /** Shared exact-rank-band contract for the sketch-accuracy oracles
    * (agg_tdigest / agg_tdigest_merge / agg_approx): band aggregates
    * over `valueCol` (p50 within ranks [0.48, 0.52], p99 within
    * [0.97, 1.0]) and the boolean checks an estimator pair must pass.
    * One definition — the tolerance and its three DuckDB `true`-literal
    * oracles stay in lockstep. */
  private def rankBandAggs(valueCol: String): Seq[org.apache.spark.sql.Column] =
    Seq(expr(s"percentile($valueCol, 0.48)").as("lo50"),
      expr(s"percentile($valueCol, 0.52)").as("hi50"),
      expr(s"percentile($valueCol, 0.97)").as("lo99"),
      expr(s"percentile($valueCol, 1.0)").as("hi99"))

  private def inBand(est50: org.apache.spark.sql.Column,
      est99: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq((est50 >= col("lo50") && est50 <= col("hi50")).as("p50_in_band"),
      (est99 >= col("lo99") && est99 <= col("hi99")).as("p99_in_band"))

  /** label_bins (labeling/label_bins.hpp:61) / cut (core/cut.py):
    * fixed-width bins via deterministic double arithmetic. */
  def binLabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .withColumn("bin",
        least(greatest(floor($"o_totalprice" / 50000.0), lit(0)), lit(9))
          .cast("int"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), min($"o_totalprice").as("lo"),
        max($"o_totalprice").as("hi"))
      .orderBy($"bin")
  }

  val binLabelSql: String =
    """SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 9) AS INT)
      |    AS bin,
      |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin

  /** qcut / equal-frequency quantile binning: cut points from ONE exact
    * percentile aggregate, broadcast to a codegen'd per-row bin label
    * (functions/NumericFunctions.qcutBin) — the scalable form of the
    * reference's rank-then-slice quartile recipe. l_quantity is
    * integer-valued, so the interpolated cuts land strictly between
    * data values and the Spark/DuckDB label comparison is immune to
    * last-ulp interpolation differences. */
  def binQcut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val cuts = li.agg(
      expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("__cuts"))
    li.select($"l_quantity")
      .crossJoin(broadcast(cuts))
      .withColumn("q_bin",
        graft.functions.NumericFunctions.qcutBin($"l_quantity", $"__cuts"))
      .groupBy($"q_bin")
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("lo"),
        max($"l_quantity").as("hi"))
      .orderBy($"q_bin")
  }

  val binQcutSql: String =
    """SELECT q_bin, count(*) AS n, min(l_quantity) AS lo, max(l_quantity) AS hi
      |FROM (
      |  SELECT 1 + len(list_filter(cuts, c -> c < l_quantity)) AS q_bin,
      |    l_quantity
      |  FROM lineitem CROSS JOIN (
      |    SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS cuts
      |    FROM lineitem))
      |GROUP BY q_bin ORDER BY q_bin""".stripMargin

  /** contains(haystack, needles) (search.hpp:130) → isin. */
  def isinFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH"))
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy($"o_orderpriority", $"o_orderstatus")
  }

  val isinFilterSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n
      |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority, o_orderstatus
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  /** ipv4 int↔dotted-string conversion (strings/convert/convert_ipv4.hpp):
    * derive a pseudo-ip from the key, format, re-parse, verify identity. */
  def ipv4RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("ip_num", ($"event_id" * 2654435761L) % 4294967296L)
      .withColumn("ip_str", concat_ws(".",
        shiftrightunsigned($"ip_num", 24) % 256,
        shiftrightunsigned($"ip_num", 16) % 256,
        shiftrightunsigned($"ip_num", 8) % 256,
        $"ip_num" % 256))
      .withColumn("ip_back",
        element_at(split($"ip_str", "\\."), 1).cast("long") * 16777216 +
        element_at(split($"ip_str", "\\."), 2).cast("long") * 65536 +
        element_at(split($"ip_str", "\\."), 3).cast("long") * 256 +
        element_at(split($"ip_str", "\\."), 4).cast("long"))
      .select($"event_id", $"ip_num", $"ip_str",
        ($"ip_back" === $"ip_num").as("roundtrip_ok"))
      .orderBy($"event_id")
  }

  val ipv4RoundTripSql: String =
    """SELECT event_id, ip_num,
      |  ((ip_num >> 24) % 256) || '.' || ((ip_num >> 16) % 256) || '.' ||
      |  ((ip_num >> 8) % 256) || '.' || (ip_num % 256) AS ip_str,
      |  true AS roundtrip_ok
      |FROM (SELECT event_id, (event_id * 2654435761) % 4294967296 AS ip_num
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  /** Approximate sketches (TDIGEST aggregation.hpp:113 →
    * percentile_approx; NUNIQUE-approx → approx_count_distinct; HLL ≙
    * the streaming approx-distinct test). The raw estimates are
    * engine-specific, so the ORACLE-CHECKED contract is the accuracy
    * BOUND, computed in-plan: each approx quantile must land inside the
    * exact rank band [q-0.02, q+0.02] (percentile_approx's rank-error
    * guarantee is 1/accuracy = 0.001, 20× tighter), and the HLL distinct
    * estimate within 15% of exact (rsd 5%, 3σ). DuckDB asserts the same
    * booleans as literals — a digest drifting out of tolerance flips a
    * value and fails the hash gate. */
  def aggApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aggs = Seq(approx_count_distinct($"l_partkey").as("ap"),
      countDistinct($"l_partkey").as("exact_parts"),
      percentile_approx($"l_extendedprice", lit(0.5), lit(1000)).as("p50"),
      percentile_approx($"l_extendedprice", lit(0.99), lit(1000)).as("p99"),
      count(lit(1)).as("n")) ++ rankBandAggs("l_extendedprice")
    Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq($"l_returnflag", $"n", $"exact_parts",
        (abs($"ap" - $"exact_parts") <= $"exact_parts" * 0.15)
          .as("distinct_in_tol")) ++ inBand($"p50", $"p99"): _*)
      .orderBy($"l_returnflag")
  }

  val aggApproxSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  true AS distinct_in_tol, true AS p50_in_band, true AS p99_in_band
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Count-min sketch frequency estimation (the heavy-hitters sketch
    * that completes the family: t-digest = quantiles, HLL = distinct,
    * CMS = frequencies). The sketch is built by one distributed
    * aggregation (map-side mergeable, O(w·d) bytes regardless of input)
    * and only the SKETCH is collected — per-key estimates are driver
    * lookups against it, the way a 100 TB pipeline answers "how often
    * does key k appear" without a groupBy over the key universe.
    * Estimates are Spark-sketch-specific (seeded hashes) → rows-only;
    * the ≥-exact and ε·N bounds are asserted in OperatorsSpec. */
  def cmsFrequencies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val sketch = li.stat.countMinSketch($"l_suppkey", eps = 0.001,
      confidence = 0.99, seed = 42)
    // Hash-gated CMS contract: never undercounts, and overcounts by at
    // most eps*N per row w.p. `confidence` — gated with 2*eps*N slack so
    // only a real sketch bug (not one unlucky-but-in-contract key) flips
    // a boolean. exact_count is recomputed independently by DuckDB.
    val n = li.count()
    val slack = math.ceil(2 * 0.001 * n).toLong
    val est = (0L to 9L).map(k => (k, sketch.estimateCount(k)))
      .toDF("l_suppkey", "est_count")
    val exact = li.filter($"l_suppkey".between(0, 9))
      .groupBy($"l_suppkey".cast("long").as("l_suppkey"))
      .agg(count(lit(1)).as("c"))
    est.join(broadcast(exact), Seq("l_suppkey"), "left")
      .select($"l_suppkey", coalesce($"c", lit(0L)).as("exact_count"),
        ($"est_count" >= coalesce($"c", lit(0L)) &&
          $"est_count" <= coalesce($"c", lit(0L)) + slack).as("within_bounds"))
      .orderBy($"l_suppkey")
  }

  val cmsFrequenciesSql: String =
    """SELECT g.k AS l_suppkey,
      |  CAST(coalesce(e.c, 0) AS BIGINT) AS exact_count,
      |  true AS within_bounds
      |FROM generate_series(0, 9) AS g(k)
      |LEFT JOIN (SELECT l_suppkey, count(*) AS c FROM lineitem
      |           WHERE l_suppkey BETWEEN 0 AND 9 GROUP BY l_suppkey) e
      |  ON e.l_suppkey = g.k
      |ORDER BY l_suppkey""".stripMargin

  /** Data-quality rule audit (Deequ shape): every rule's violation
    * count in ONE pass over lineitem, plus referential integrity
    * against orders as a broadcast-able anti-join. The oracle recomputes
    * each count independently — zero violations is itself a checked
    * CLAIM, not an assumption. */
  def dqRuleAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Validate
    val li = Tables.lineitem(s, dir)
    val ruleCounts = Validate.checkRows(li, Seq(
      "disc_range" -> $"l_discount".between(0, 1),
      "price_nonneg" -> ($"l_extendedprice" >= 0),
      "qty_positive" -> ($"l_quantity" > 0),
      "flag_in_set" -> $"l_returnflag".isin("A", "N", "R")))
    val orphans = Validate.orphanKeys(
      li, "l_orderkey", Tables.orders(s, dir), "o_orderkey").count()
    ruleCounts
      .union(Seq(("orphan_lineitem", orphans)).toDF("rule", "violations"))
      .orderBy($"rule")
  }

  val dqRuleAuditSql: String =
    """SELECT * FROM (
      |  SELECT 'disc_range' AS rule, CAST(count(*) FILTER (
      |    WHERE NOT coalesce(l_discount BETWEEN 0 AND 1, false)) AS BIGINT)
      |    AS violations FROM lineitem
      |  UNION ALL SELECT 'price_nonneg', CAST(count(*) FILTER (
      |    WHERE NOT coalesce(l_extendedprice >= 0, false)) AS BIGINT)
      |    FROM lineitem
      |  UNION ALL SELECT 'qty_positive', CAST(count(*) FILTER (
      |    WHERE NOT coalesce(l_quantity > 0, false)) AS BIGINT)
      |    FROM lineitem
      |  UNION ALL SELECT 'flag_in_set', CAST(count(*) FILTER (
      |    WHERE NOT coalesce(l_returnflag IN ('A', 'N', 'R'), false)) AS BIGINT)
      |    FROM lineitem
      |  UNION ALL SELECT 'orphan_lineitem', CAST((
      |    SELECT count(*) FROM lineitem l
      |    WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
      |      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |    AS BIGINT))
      |ORDER BY rule""".stripMargin

  /** Single-pass column profile (exact-distinct mode for the gate;
    * HLL mode is the scale default — see Validate.profile). Integer and
    * string columns only: min/max stringification of floats is
    * engine-formatting territory. */
  /** Join-key skew profile on orders.o_custkey — the p99≪max gap is
    * the salting signal. Top-5 heavy keys + group-size quantiles. */
  def dqJoinProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Validate.joinKeyProfile(Tables.orders(s, dir),
        "o_custkey", topK = 5)
      .orderBy(org.apache.spark.sql.functions.col("heavy_cnt").desc,
        org.apache.spark.sql.functions.col("heavy_key"))

  val dqJoinProfileSql: String =
    """WITH counts AS (
      |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
      |dist AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(max(cnt) AS BIGINT) AS max_cnt,
      |    quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
      |  FROM counts),
      |heavy AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS heavy_key,
      |    CAST(cnt AS BIGINT) AS heavy_cnt
      |  FROM counts ORDER BY cnt DESC, CAST(o_custkey AS VARCHAR) LIMIT 5)
      |SELECT heavy_key, heavy_cnt, n_keys, max_cnt, p50, p99
      |FROM heavy, dist
      |ORDER BY heavy_cnt DESC, heavy_key""".stripMargin

  def dqProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Validate.profile(Tables.orders(s, dir),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"), exact = true)
      .orderBy(org.apache.spark.sql.functions.col("col_name"))

  val dqProfileSql: String =
    """SELECT * FROM (
      |  SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
      |    CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_nulls,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
      |    CAST(min(o_custkey) AS VARCHAR) AS min_str,
      |    CAST(max(o_custkey) AS VARCHAR) AS max_str FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', count(*),
      |    CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
      |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
      |    min(o_orderstatus), max(o_orderstatus) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', count(*),
      |    CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
      |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
      |    min(o_orderpriority), max(o_orderpriority) FROM orders)
      |ORDER BY col_name""".stripMargin

  /** KMV distinct sketch — the ORACLE-CHECKABLE sketch: "k smallest
    * distinct portable hashes" is a pure function of the input set, so
    * unlike HLL/CMS the ESTIMATE itself hash-matches DuckDB (same
    * md5-60, same k-th order statistic, same (k−1)·2^60/h_k
    * arithmetic). Exact distinct alongside shows the ~6% (k=256)
    * envelope in the result itself. */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.KmvDistinct
    Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(KmvDistinct.of($"l_partkey".cast("string")).as("kmv_est"),
        countDistinct($"l_partkey").as("n_exact"))
      .orderBy($"l_returnflag")
  }

  val kmvDistinctSql: String =
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag,
      |    CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM lineitem WHERE l_partkey IS NOT NULL),
      |r AS (
      |  SELECT l_returnflag, h,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS d
      |  FROM h),
      |x AS (
      |  SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT)
      |    AS n_exact
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT r.l_returnflag,
      |  CASE WHEN max(r.d) < 256 THEN CAST(max(r.d) AS DOUBLE)
      |       ELSE 255.0 * 1152921504606846976.0 /
      |            CAST(max(CASE WHEN r.rk = 256 THEN r.h END) AS DOUBLE)
      |  END AS kmv_est,
      |  max(x.n_exact) AS n_exact
      |FROM r JOIN x ON r.l_returnflag = x.l_returnflag
      |GROUP BY r.l_returnflag ORDER BY r.l_returnflag""".stripMargin

  /** CDC merge: a synthetic change log (updates %7, deletes %13,
    * inserts %11 — overlapping on purpose, e.g. key 0 hits all three)
    * compacted latest-wins by sequence, then MERGEd into the customer
    * snapshot. Delete seq 3 > update 2 > insert 1, so overlaps resolve
    * deterministically on both engines; the oracle replicates
    * compaction with a row_number window and the merge with a full
    * outer join — different formulation, same contract. */
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Cdc
    val base = Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
    val changes =
      base.filter($"c_custkey" % 7 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 100.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      .unionByName(base.filter($"c_custkey" % 13 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L)))
      .unionByName(base.filter($"c_custkey" % 11 === 0)
        .withColumn("c_custkey", $"c_custkey" + 1000000L)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L)))
    val compact = Cdc.compactLog(changes, "c_custkey", "seq", "op")
    Cdc.merge(base, compact, "c_custkey", "op")
      .orderBy($"c_custkey")
  }

  val cdcMergeSql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
      |changes AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
      |         c_mktsegment, 'U' AS op, 2 AS seq
      |  FROM base WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'D', 3
      |  FROM base WHERE c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment, 'I', 1
      |  FROM base WHERE c_custkey % 11 = 0),
      |compact AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY c_custkey ORDER BY seq DESC, op DESC) AS rn
      |    FROM changes) WHERE rn = 1),
      |merged AS (
      |  SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
      |    CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name ELSE b.c_name END
      |      AS c_name,
      |    CASE WHEN c.c_custkey IS NOT NULL THEN c.c_acctbal
      |      ELSE b.c_acctbal END AS c_acctbal,
      |    CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment
      |      ELSE b.c_mktsegment END AS c_mktsegment,
      |    c.op AS op
      |  FROM base b FULL OUTER JOIN compact c ON b.c_custkey = c.c_custkey)
      |SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      |FROM merged WHERE op IS NULL OR op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  /** Seeded row sampling (copying.hpp:883 sample) — Bernoulli(0.1) keyed
    * on the PORTABLE md5-60 [[graft.operators.Curation.hashUnit]] rather
    * than Spark's engine-private partition RNG, so the SAME rows are kept
    * on any engine / partitioning / re-run and the result is fully
    * oracle-checkable (DuckDB replays the identical hash → threshold
    * decision). This is also the 100 TB-correct design: a repartition or
    * executor loss never changes the sample. */
  def sampleSeeded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter(graft.operators.Curation.hashUnit($"o_orderkey", "42") < 0.1)
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
  }

  val sampleSeededSql: String =
    """SELECT o_orderstatus, count(*) AS n
      |FROM orders
      |WHERE (('0x' || substring(md5('42|' || CAST(o_orderkey AS VARCHAR)), 1, 15))
      |       ::BIGINT::DOUBLE / 1152921504606846976.0) < 0.1
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Porter stems of the document corpus (nvtext/stemmer.hpp) via the
    * custom PorterStem expression. Oracle-checked against a FIXED
    * word→stem table: DuckDB's stemmer extension can't load offline,
    * but the synthetic corpus has exactly 31 distinct tokens (stable
    * across all sf dirs), each hand-derived from the published Porter
    * 1980 rules (e.g. customer→custom: step 4 "er" at m=2; key→kei:
    * step 1c *v* y→i; line→line: step 5a blocked by *o; table→tabl,
    * value→valu, merge→merg: step 5a e-drop; query→queri). The inner
    * join fails LOUDLY (count mismatch) if the corpus ever grows
    * out-of-table tokens, rather than silently passing them through. */
  def docStems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    Tables.documents(s, dir)
      .select(explode(tokens($"text")).as("tok"))
      .select(GraftExpressions.porterStem($"tok").as("stem"))
      .groupBy($"stem").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"stem")
      .limit(25)
  }

  /** EWMA over per-user event values (EWMA agg kind, ewm.py) via the
    * custom DeclarativeAggregate window function. Oracle: DuckDB
    * list_reduce folds left with first-element init — identical
    * recurrence, bit-identical doubles. */
  def eventsEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"value",
        GraftExpressions.ewma($"value", 0.3, w).as("ewma_v"))
      .orderBy($"user_id", $"event_id")
  }

  /** Adjusted EWM (pandas/cudf `adjust=True` default, ewm.py) with the
    * span parameterization: span=9 → alpha=0.2, y_t = Σ0.8^i·x_{t-i} /
    * Σ0.8^i. Oracle: the num/den folds as two DuckDB list_reduce
    * recurrences with IDENTICAL add/multiply order to the
    * DeclarativeAggregate's update expressions — bit-identical doubles
    * (no closed-form power(), which would differ in the last ulp). */
  def eventsEwmAdjust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"value",
        GraftExpressions.ewm($"value", w, adjust = true, span = Some(9.0))
          .as("ewm_adj"))
      .orderBy($"user_id", $"event_id")
  }

  val eventsEwmAdjustSql: String =
    """SELECT user_id, event_id, value,
      |  list_reduce(list(value) OVER w,
      |    (acc, x) -> x + (1.0 - 0.2) * acc) /
      |  list_reduce(
      |    list_transform(list(value) OVER w, x -> CAST(1.0 AS DOUBLE)),
      |    (acc, x) -> x + (1.0 - 0.2) * acc) AS ewm_adj
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Scalar subquery (uncorrelated) — superset vs reference (SURVEY §4.1:
    * polars/cudf never see subqueries; Catalyst plans them natively).
    * Spark side expresses it as a broadcast cross join of the 1-row
    * exact-decimal average. */
  def subqueryScalar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import QueryPack._
    val avgDf = Tables.orders(s, dir).agg(davg($"o_totalprice", 2).as("avg_price"))
    Tables.orders(s, dir).crossJoin(broadcast(avgDf))
      .filter($"o_totalprice" > $"avg_price")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_above"), min($"o_totalprice").as("min_above"))
      .orderBy($"o_orderstatus")
  }

  val subqueryScalarSql: String = {
    import QueryPack._
    s"""SELECT o_orderstatus, count(*) AS n_above, min(o_totalprice) AS min_above
       |FROM orders
       |WHERE o_totalprice > (SELECT ${davgSql("o_totalprice", 2)} FROM orders)
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  /** Fixed-point arithmetic (SURVEY §1.2 DECIMAL32/64/128 →
    * DecimalType): double→decimal casts, scale-adding multiply, exact
    * sum, rendered as strings (scale-preserving in both engines).
    * Decimal→decimal scale REDUCTION is excluded: Spark rounds half-up,
    * DuckDB half-even — documented divergence. */
  def decimalArith(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(s, dir)
      .withColumn("price_dec", $"l_extendedprice".cast(DecimalType(12, 2)))
      .withColumn("disc_dec", $"l_discount".cast(DecimalType(8, 6)))
      .groupBy($"l_returnflag")
      .agg(sum($"price_dec" * $"disc_dec").cast("string").as("disc_amt"),
        max($"price_dec").cast("string").as("max_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val decimalArithSql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           CAST(l_discount AS DECIMAL(8,6))) AS VARCHAR) AS disc_amt,
      |  CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS max_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Fixed-point rounding (round.hpp:63 on DECIMAL columns — EXACT,
    * unlike binary-double round, which stays excluded from oracles):
    * HALF_UP at positive and negative digit positions on an exact
    * decimal product. HALF_EVEN (cudf's other rounding_method; Spark
    * `bround`) has no portable DuckDB twin and is unit-tested
    * engine-side instead (OperatorsMiscSpec). Results stringified —
    * decimals hash engine-dependently through the driver. */
  def decimalRound(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d = ($"l_extendedprice".cast(DecimalType(12, 2)) *
      $"l_discount".cast(DecimalType(8, 6))).cast(DecimalType(20, 8))
    Tables.lineitem(s, dir)
      .select(($"l_orderkey" * 10 + $"l_linenumber").as("line_id"),
        d.cast("string").as("exact"),
        round(d, 2).cast("string").as("r2"),
        round(d, 0).cast("string").as("r0"),
        round(d, -2).cast("string").as("rneg2"))
      .orderBy($"line_id")
  }

  val decimalRoundSql: String =
    """SELECT l_orderkey * 10 + l_linenumber AS line_id,
      |  CAST(d AS VARCHAR) AS exact,
      |  CAST(round(d, 2) AS VARCHAR) AS r2,
      |  CAST(round(d, 0) AS VARCHAR) AS r0,
      |  CAST(round(d, -2) AS VARCHAR) AS rneg2
      |FROM (SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |       CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(20,8)) AS d
      |  FROM lineitem)
      |ORDER BY line_id""".stripMargin

  /** lower/upper_bound searchsorted (search.hpp:62,104) with explicit
    * edges via codegen'd list scan — oracle mirrors the same lambda. */
  def searchSorted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NumericFunctions
    val edges = Seq(0.0, 10.0, 20.0, 30.0, 40.0, 51.0)
    Tables.lineitem(s, dir)
      .withColumn("bin", NumericFunctions.labelBins($"l_quantity", edges))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("lo"),
        max($"l_quantity").as("hi"))
      .orderBy($"bin")
  }

  val searchSortedSql: String =
    """SELECT bin, count(*) AS n, min(l_quantity) AS lo, max(l_quantity) AS hi
      |FROM (SELECT l_quantity,
      |        CASE WHEN idx < 0 OR idx >= 5 THEN -1 ELSE idx END AS bin
      |      FROM (SELECT l_quantity,
      |              len(list_filter([0.0, 10.0, 20.0, 30.0, 40.0, 51.0],
      |                  b -> b <= l_quantity)) - 1 AS idx
      |            FROM lineitem))
      |GROUP BY bin ORDER BY bin""".stripMargin

  /** t-digest quantiles via the custom TypedImperativeAggregate
    * (TDIGEST/MERGE_TDIGEST parity). Digest values are
    * implementation-specific, so the HASH-GATED contract is the
    * accuracy bound, computed in the same plan: each digest quantile
    * must land inside the exact rank band (p50 within ranks
    * [0.48, 0.52], p99 within [0.97, 1.0] — far looser than the
    * digest's actual rank error at delta=1000). DuckDB emits the same
    * booleans as literal `true`, so an out-of-tolerance digest fails
    * the value hash, not just a ScalaTest assertion. */
  def tdigestQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.TDigestQuantile
    val aggs = Seq(TDigestQuantile.of($"l_extendedprice", 0.5).as("td_p50"),
      TDigestQuantile.of($"l_extendedprice", 0.99).as("td_p99"),
      count(lit(1)).as("n")) ++ rankBandAggs("l_extendedprice")
    Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq($"l_returnflag", $"n") ++
        inBand($"td_p50", $"td_p99"): _*)
      .orderBy($"l_returnflag")
  }

  val tdigestQuantilesSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  true AS p50_in_band, true AS p99_in_band
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** MERGE_TDIGEST rollup (aggregation.hpp:114): a fine-grained sketch
    * table — one serialized digest per (returnflag, linestatus) — merged
    * up to per-returnflag quantiles WITHOUT rescanning the raw column.
    * The incremental pattern a 100 TB metrics store runs daily: sketch
    * per partition once, answer any later quantile by digest merge.
    * Sketch estimates are implementation-specific → rows-only; merge ≈
    * single-pass accuracy is asserted in ExpressionsSpec. */
  def tdigestMergeRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.TDigestSketch
    val li = Tables.lineitem(s, dir)
    val sketches = li
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(TDigestSketch.of($"l_extendedprice").as("td"),
        count(lit(1)).as("n"))
    val rolled = sketches.groupBy($"l_returnflag")
      .agg(TDigestSketch.mergeQuantile($"td", 0.5).as("td_p50"),
        TDigestSketch.mergeQuantile($"td", 0.99).as("td_p99"),
        sum($"n").as("n"))
    // Hash-gated accuracy contract (see tdigestQuantiles): the MERGED
    // digest's quantiles must land in the exact rank bands computed
    // from the raw column — merging must not degrade past the band.
    val bandAggs = rankBandAggs("l_extendedprice")
    val bands = li.groupBy($"l_returnflag")
      .agg(bandAggs.head, bandAggs.tail: _*)
    rolled.join(broadcast(bands), "l_returnflag")
      .select(Seq($"l_returnflag", $"n") ++
        inBand($"td_p50", $"td_p99"): _*)
      .orderBy($"l_returnflag")
  }

  val tdigestMergeRollupSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  true AS p50_in_band, true AS p99_in_band
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** RE-KEYED digest merge — the grouped-map variant of
    * [[tdigestMergeRollup]]: the same fine-grained (returnflag,
    * linestatus) sketch table answers quantiles for a key that is NOT
    * a prefix of the sketch key (per-linestatus), i.e. the sketches
    * re-shuffle under a new grouping before merging. This is the
    * property that lets one daily sketch table serve ANY dimension's
    * quantiles at 100 TB — merge is algebraic under arbitrary
    * re-keying, not just hierarchical rollup. Same hash-gated rank-
    * band accuracy contract against the raw column. */
  def tdigestRekeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.TDigestSketch
    val li = Tables.lineitem(s, dir)
    val sketches = li
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(TDigestSketch.of($"l_extendedprice").as("td"),
        count(lit(1)).as("n"))
    val rekeyed = sketches.groupBy($"l_linestatus")
      .agg(TDigestSketch.mergeQuantile($"td", 0.5).as("td_p50"),
        TDigestSketch.mergeQuantile($"td", 0.99).as("td_p99"),
        sum($"n").as("n"))
    val bandAggs = rankBandAggs("l_extendedprice")
    val bands = li.groupBy($"l_linestatus")
      .agg(bandAggs.head, bandAggs.tail: _*)
    rekeyed.join(broadcast(bands), "l_linestatus")
      .select(Seq($"l_linestatus", $"n") ++
        inBand($"td_p50", $"td_p99"): _*)
      .orderBy($"l_linestatus")
  }

  val tdigestRekeyedSql: String =
    """SELECT l_linestatus, count(*) AS n,
      |  true AS p50_in_band, true AS p99_in_band
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** HLL distinct-count sketch rollup — the cardinality twin of
    * [[tdigestMergeRollup]] over Spark's built-in DataSketches HLL
    * (hll_sketch_agg → binary column → hll_union_agg → estimate): the
    * fine-grained sketch table answers coarser distinct-counts by
    * sketch union, never rescanning raw data — and unlike exact
    * count-distinct, the union is algebraic (map-side combinable, no
    * distinct shuffle of the key universe). Estimates are
    * DataSketches-specific → rows-only; accuracy vs exact is asserted
    * in OperatorsSpec. */
  def hllRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val sketches = li
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(hll_sketch_agg($"l_partkey").as("hll"), count(lit(1)).as("n"))
    val rolled = sketches.groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_union_agg($"hll")).as("approx_parts"),
        sum($"n").as("n"))
    // Hash-gated accuracy contract: the UNIONED estimate must sit within
    // 15% of the exact distinct count (DataSketches lgK=12 rsd is
    // ~0.8% — the band is ~19σ, so only a real union bug trips it).
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    rolled.join(broadcast(exact), "l_returnflag")
      .select($"l_returnflag", $"n", $"exact_parts",
        (abs($"approx_parts" - $"exact_parts") <= $"exact_parts" * 0.15)
          .as("distinct_in_tol"))
      .orderBy($"l_returnflag")
  }

  val hllRollupSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  true AS distinct_in_tol
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Categorical encode / factorize (transform.hpp:351 `encode`,
    * DICTIONARY32 analog §1.2): dense integer codes by value order via
    * dense_rank — deterministic, join-free. */
  def encodeFactorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Scalable shape: rank only the DISTINCT values (small dictionary,
    // single partition is fine), broadcast-join codes back to the fact —
    // never a global window over the full table.
    val codes = Tables.part(s, dir).select($"p_brand").distinct()
      .withColumn("brand_code",
        (dense_rank().over(Window.orderBy($"p_brand")) - 1).cast("int"))
    Tables.part(s, dir)
      .join(broadcast(codes), "p_brand")
      .select($"p_partkey", $"p_brand", $"brand_code")
      .orderBy($"p_partkey")
  }

  val encodeFactorizeSql: String =
    """SELECT p_partkey, p_brand,
      |  CAST(dense_rank() OVER (ORDER BY p_brand) - 1 AS INT) AS brand_code
      |FROM part ORDER BY p_partkey""".stripMargin

  /** is_sorted (cudf/sorting.hpp is_sorted): is each column ordered
    * under the o_orderkey sort? Window-lag formulation so it is oracle-
    * checkable; the scale formulation (per-partition summaries folded on
    * the driver, no global window) is [[graft.operators.SortCheck]]. */
  def isSortedQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"o_orderkey")
    Tables.orders(s, dir)
      .select(
        ($"o_orderkey" >=
          coalesce(lag($"o_orderkey", 1).over(w), $"o_orderkey")).as("ok_key"),
        ($"o_totalprice" >=
          coalesce(lag($"o_totalprice", 1).over(w), $"o_totalprice")).as("ok_price"))
      .agg(min($"ok_key").as("key_sorted"), min($"ok_price").as("price_sorted"))
  }

  val isSortedSql: String =
    """SELECT min(ok_key) AS key_sorted, min(ok_price) AS price_sorted FROM (
      |  SELECT o_orderkey >= coalesce(
      |      lag(o_orderkey) OVER (ORDER BY o_orderkey), o_orderkey) AS ok_key,
      |    o_totalprice >= coalesce(
      |      lag(o_totalprice) OVER (ORDER BY o_orderkey), o_totalprice) AS ok_price
      |  FROM orders)""".stripMargin

  /** Space-Saving heavy hitters (plans/SpaceSavingAgg): top-10 brands
    * from m=64 counters. p_brand's domain is BOUNDED (25 values), so
    * this runs in the sketch's EXACT regime at any data scale — the
    * counters never evict, partials merge by pure addition, and the
    * output is the exact top-k the oracle computes with a full
    * group-count. (The m < distinct regime's retention/error bounds
    * are property-tested in ExpressionsSpec on a Zipf stream.) */
  def topkHeavy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.SpaceSavingTopK
    Tables.part(s, dir)
      .agg(SpaceSavingTopK.of($"p_brand", 64, 10).as("tk"))
      .select(posexplode($"tk"))
      .select(($"pos" + 1).as("rank"), $"col.term".as("brand"),
        $"col.cnt".as("n"))
      .orderBy($"rank")
  }

  val topkHeavySql: String =
    """SELECT CAST(rk AS INT) AS rank, brand, n FROM (
      |  SELECT p_brand AS brand, count(*) AS n,
      |    row_number() OVER (ORDER BY count(*) DESC, p_brand) AS rk
      |  FROM part GROUP BY p_brand)
      |WHERE rk <= 10 ORDER BY rank""".stripMargin

  /** KMV sketch ROLLUP: monthly distinct-customer sketches re-aggregated
    * to quarters through `kmv_merge` — the HLL-rollup / MERGE_TDIGEST
    * pattern with an ORACLE-EXACT estimate (KMV merge is closed over
    * the union set: k-smallest-of-union-of-k-smallest ≡ k-smallest-of-
    * union, so DuckDB replays the merged estimate from the raw table).
    * 100 TB shape: sketches build once per fine partition (a few KB
    * each), every coarser granularity is a re-aggregation of sketch
    * bytes — the base table is scanned exactly once no matter how many
    * rollup levels are served. */
  def kmvRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.{KmvMerge, KmvSketch}
    val o = Tables.orders(s, dir)
    val monthly = o.groupBy(
        year($"o_orderdate").as("yr"), quarter($"o_orderdate").as("q"),
        month($"o_orderdate").as("mo"))
      .agg(KmvSketch.of($"o_custkey".cast("string"), 128).as("sk"))
    val rolled = monthly.groupBy($"yr", $"q")
      .agg(KmvMerge.of($"sk", 128).as("kmv_est"))
    val exact = o.groupBy(
        year($"o_orderdate").as("yr"), quarter($"o_orderdate").as("q"))
      .agg(countDistinct($"o_custkey").as("n_exact"))
    rolled.join(exact, Seq("yr", "q")).orderBy($"yr", $"q")
  }

  val kmvRollupSql: String =
    """WITH h AS (
      |  SELECT DISTINCT year(o_orderdate) AS yr, quarter(o_orderdate) AS q,
      |    CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM orders WHERE o_custkey IS NOT NULL),
      |r AS (
      |  SELECT yr, q, h,
      |    row_number() OVER (PARTITION BY yr, q ORDER BY h) AS rk,
      |    count(*) OVER (PARTITION BY yr, q) AS d
      |  FROM h),
      |x AS (
      |  SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS q,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
      |  FROM orders GROUP BY 1, 2)
      |SELECT r.yr, r.q,
      |  CASE WHEN max(r.d) < 128 THEN CAST(max(r.d) AS DOUBLE)
      |       ELSE 127.0 * 1152921504606846976.0 /
      |            CAST(max(CASE WHEN r.rk = 128 THEN r.h END) AS DOUBLE)
      |  END AS kmv_est,
      |  max(x.n_exact) AS n_exact
      |FROM r JOIN x ON r.yr = x.yr AND r.q = x.q
      |GROUP BY r.yr, r.q ORDER BY r.yr, r.q""".stripMargin

  /** Theta-sketch set algebra (Apache DataSketches theta union /
    * intersection / A-not-B trio, re-expressed over the oracle-exact
    * KMV sketch — plans/KmvAgg.KmvSetEst documents the estimator and
    * its replay contract): distinct customers of two order-priority
    * classes, their union/intersection/difference ESTIMATED purely
    * from two 1 KB sketches, with the exact counts alongside. The
    * 100 TB shape: one map-side-combined aggregation builds both
    * sketches in a single pass (each partial is ≤ k longs), and the
    * set algebra is a scalar over the two final buffers — the base
    * data is never re-read or re-shuffled per set operation. */
  def thetaSetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.{KmvSetEst, KmvSketch}
    val o = Tables.orders(s, dir)
    val ca = when($"o_orderpriority" === "1-URGENT", $"o_custkey".cast("string"))
    val cb = when($"o_orderpriority" === "2-HIGH", $"o_custkey".cast("string"))
    val sk = o.agg(KmvSketch.of(ca, 128).as("sa"), KmvSketch.of(cb, 128).as("sb"))
    val exact = o.groupBy($"o_custkey")
      .agg(
        max(when($"o_orderpriority" === "1-URGENT", 1).otherwise(0)).as("fa"),
        max(when($"o_orderpriority" === "2-HIGH", 1).otherwise(0)).as("fb"))
      .agg(
        sum(when($"fa" === 1 || $"fb" === 1, 1L).otherwise(0L)).as("union_exact"),
        sum(when($"fa" === 1 && $"fb" === 1, 1L).otherwise(0L)).as("inter_exact"),
        sum(when($"fa" === 1 && $"fb" === 0, 1L).otherwise(0L)).as("diff_exact"))
    sk.crossJoin(exact).select(
      KmvSetEst.union($"sa", $"sb").as("union_est"),
      KmvSetEst.intersect($"sa", $"sb").as("inter_est"),
      KmvSetEst.diff($"sa", $"sb").as("diff_est"),
      $"union_exact", $"inter_exact", $"diff_exact")
  }

  /** DuckDB replay of the KMV set algebra: same md5-60 hashes, same
    * k-smallest order statistics, same double arithmetic operation for
    * operation (127.0·2^60/θ, then K·est/128.0 — both left-assoc). */
  val thetaSetOpsSql: String =
    """WITH ha AS (
      |  SELECT DISTINCT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |    AS BIGINT) AS h
      |  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL),
      |hb AS (
      |  SELECT DISTINCT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
      |    AS BIGINT) AS h
      |  FROM orders WHERE o_orderpriority = '2-HIGH' AND o_custkey IS NOT NULL),
      |ka AS (SELECT h FROM ha ORDER BY h LIMIT 128),
      |kb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
      |u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 128),
      |m AS (
      |  SELECT count(*) AS nu, max(h) AS hk,
      |    count(*) FILTER (WHERE h IN (SELECT h FROM ka)
      |                       AND h IN (SELECT h FROM kb)) AS ki,
      |    count(*) FILTER (WHERE h IN (SELECT h FROM ka)
      |                       AND h NOT IN (SELECT h FROM kb)) AS kd
      |  FROM u),
      |f AS (
      |  SELECT o_custkey,
      |    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS fa,
      |    max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS fb
      |  FROM orders GROUP BY o_custkey),
      |e AS (
      |  SELECT
      |    CAST(sum(CASE WHEN fa = 1 OR fb = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS union_exact,
      |    CAST(sum(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS inter_exact,
      |    CAST(sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS diff_exact
      |  FROM f)
      |SELECT
      |  CASE WHEN m.nu < 128 THEN CAST(m.nu AS DOUBLE)
      |       ELSE 127.0 * 1152921504606846976.0 / CAST(m.hk AS DOUBLE)
      |  END AS union_est,
      |  CASE WHEN m.nu < 128 THEN CAST(m.ki AS DOUBLE)
      |       ELSE CAST(m.ki AS DOUBLE) *
      |            (127.0 * 1152921504606846976.0 / CAST(m.hk AS DOUBLE)) / 128.0
      |  END AS inter_est,
      |  CASE WHEN m.nu < 128 THEN CAST(m.kd AS DOUBLE)
      |       ELSE CAST(m.kd AS DOUBLE) *
      |            (127.0 * 1152921504606846976.0 / CAST(m.hk AS DOUBLE)) / 128.0
      |  END AS diff_est,
      |  e.union_exact, e.inter_exact, e.diff_exact
      |FROM m, e""".stripMargin

  // -- PageRank power iteration (LinkAnalysis) ------------------------------

  private val prIters = 5
  private val prDamping = 0.85 // SQL literals below must stay in lockstep

  /** PageRank over the customer→supplier purchase graph (customer ids
    * even, supplier ids odd so the key spaces can't collide). Every
    * iteration's inflow sums are exact-decimal and every scalar step
    * one IEEE op, so 8 unrolled iterations hash-match DuckDB exactly —
    * a deterministic distributed power iteration, not an estimate. */
  def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
    graft.operators.LinkAnalysis
      .pageRank(edges, "src", "dst", prDamping, prIters, exact = true)
      .orderBy($"id")
  }

  /** BFS hop-distance from the minimum node of a sparse undirected
    * customer↔supplier graph (low-quantity purchases only, so the
    * graph has real depth). Spark side is frontier expansion
    * ([[graft.operators.LinkAnalysis.bfsLevels]], 6 levels); the oracle
    * unrolls six frontier joins and takes min(level) — exact on cyclic
    * graphs where a naive recursive CTE on (id, level) would not
    * terminate. */
  def bfsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .filter($"l_quantity" < 3)
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
    val edges = base.union(base.select($"b".as("a"), $"a".as("b")))
    // deterministic source: the minimum node id (1-value action on a
    // 1-row aggregate — summary-sized by construction)
    val src = edges.agg(min($"a")).as[Long].head()
    graft.operators.LinkAnalysis.bfsLevels(edges, "a", "b", src,
        maxLevels = 6)
      .orderBy($"id")
  }

  val bfsSql: String = {
    val edge =
      """SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |      WHERE l_quantity < 3""".stripMargin
    s"""WITH e0 AS ($edge),
       |e AS (SELECT src, dst FROM e0
       |      UNION SELECT dst AS src, src AS dst FROM e0),
       |l0 AS (SELECT CAST(min(src) AS BIGINT) AS id FROM e),
       |l1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l0 ON e.src = l0.id),
       |l2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l1 ON e.src = l1.id),
       |l3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l2 ON e.src = l2.id),
       |l4 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l3 ON e.src = l3.id),
       |l5 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l4 ON e.src = l4.id),
       |l6 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l5 ON e.src = l5.id),
       |lv AS (SELECT id, 0 AS level FROM l0
       |  UNION ALL SELECT id, 1 FROM l1
       |  UNION ALL SELECT id, 2 FROM l2
       |  UNION ALL SELECT id, 3 FROM l3
       |  UNION ALL SELECT id, 4 FROM l4
       |  UNION ALL SELECT id, 5 FROM l5
       |  UNION ALL SELECT id, 6 FROM l6)
       |SELECT id, CAST(min(level) AS BIGINT) AS level
       |FROM lv GROUP BY id ORDER BY id""".stripMargin
  }

  /** Weakly-connected components of the sparse purchase graph via
    * pointer-jumping label propagation ([[graft.operators.Dedup
    * .nearDupClusters]] — O(log diameter) rounds; the probe graph's
    * eccentricity is ~8–16, reached in 4–5 jumps). The oracle computes
    * the same component minima by DuckDB's recursive transitive
    * closure — an independent evaluation strategy, exact because
    * (node, reached) pairs are a finite set. */
  def componentsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .filter($"l_quantity" < 1.5)
      .select(($"o_custkey" * 2).as("id_a"), ($"l_suppkey" * 2 + 1).as("id_b"))
      .distinct()
    graft.operators.Dedup.nearDupClusters(pairs)
      .orderBy($"id")
  }

  val componentsSql: String =
    """WITH RECURSIVE
      |e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |       WHERE l_quantity < 1.5),
      |e AS (SELECT a AS src, b AS dst FROM e0
      |      UNION SELECT b AS src, a AS dst FROM e0),
      |n AS (SELECT DISTINCT src AS id FROM e),
      |rr AS (SELECT id AS nd, id AS m FROM n
      |       UNION
      |       SELECT rr.nd, e.dst AS m FROM rr JOIN e ON e.src = rr.m)
      |SELECT nd AS id, CAST(min(m) AS BIGINT) AS cluster
      |FROM rr GROUP BY nd ORDER BY id""".stripMargin

  /** Triangle count + local clustering coefficient per supplier over
    * the co-supply graph (suppliers sharing a part). The operator's
    * degree orientation bounds wedge fan-out by oriented out-degree —
    * see [[graft.operators.LinkAnalysis.triangleStats]]. */
  def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // sparse co-supply slice: the full graph is near-complete (every
    // supplier pair shares SOME part), where triangle counting is
    // inherently ~n³ in ANY engine — the low-quantity slice keeps the
    // gate graph sparse, which is the regime the operator exists for
    val ps = Tables.lineitem(s, dir)
      .filter($"l_quantity" < 3)
      .select($"l_partkey".as("pk"), $"l_suppkey".as("sk")).distinct()
    val other = ps.select($"pk".as("pk2"), $"sk".as("sk2"))
    val edges = ps.join(other, $"pk" === $"pk2" && $"sk" < $"sk2")
      .select($"sk".as("src"), $"sk2".as("dst"))
    graft.operators.LinkAnalysis.triangleStats(edges, "src", "dst")
      .orderBy($"id")
  }

  val trianglesSql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS s
      |            FROM lineitem WHERE l_quantity < 3),
      |e AS (SELECT DISTINCT a.s AS u, b.s AS v
      |      FROM ps a JOIN ps b ON a.pk = b.pk AND a.s < b.s),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
      |        FROM (SELECT u AS id FROM e
      |              UNION ALL SELECT v AS id FROM e) n GROUP BY id),
      |o AS (SELECT CASE WHEN d1.degree < d2.degree
      |                    OR (d1.degree = d2.degree AND e.u < e.v)
      |                  THEN e.u ELSE e.v END AS lo,
      |             CASE WHEN d1.degree < d2.degree
      |                    OR (d1.degree = d2.degree AND e.u < e.v)
      |                  THEN e.v ELSE e.u END AS hi
      |      FROM e JOIN deg d1 ON d1.id = e.u JOIN deg d2 ON d2.id = e.v),
      |w AS (SELECT o1.lo AS p, o1.hi AS x, o2.hi AS y
      |      FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi < o2.hi),
      |t AS (SELECT p, x, y FROM w JOIN e ON w.x = e.u AND w.y = e.v),
      |pn AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles
      |       FROM (SELECT p AS id FROM t UNION ALL SELECT x AS id FROM t
      |             UNION ALL SELECT y AS id FROM t) c GROUP BY id)
      |SELECT deg.id, deg.degree,
      |  CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
      |  CASE WHEN deg.degree < 2 THEN NULL
      |       ELSE CAST(COALESCE(pn.triangles, 0) * 2 AS DOUBLE)
      |            / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
      |  END AS clustering
      |FROM deg LEFT JOIN pn ON pn.id = deg.id
      |ORDER BY deg.id""".stripMargin

  val pageRankSql: String = {
    // unrolled power iteration: one (contrib, dangling, rank) CTE trio
    // per step, replaying the operator's arithmetic op-for-op. All
    // float literals are CAST(... AS DOUBLE) — bare DuckDB decimal
    // literals would run the (1 - d)/n arithmetic in DECIMAL space and
    // diverge from Spark's IEEE doubles. Sums are the operator's dyadic
    // fixed point (floor(x·2^45) summed exactly — DuckDB's BIGINT sum
    // is HUGEINT, routed through VARCHAR like every exact sum here):
    // the decimal-cast dsum pattern measurably drifts ~600 ulps on
    // these dyadic-structured ranks (double→DECIMAL .5-boundary
    // mis-rounding, the events_decayed_sum finding). Every CTE is
    // MATERIALIZED: DuckDB inlines plain CTEs, so each iteration's two
    // references to its predecessor would double the plan per step —
    // 2^k copies of the edge build exhausted 80 GB of spill at the 5x
    // stress (the exact DuckDB-side dual of the Spark lineage blowup
    // fixed by per-iteration localCheckpoint in LinkAnalysis).
    val d = "CAST(0.85 AS DOUBLE)"
    val c45 = "CAST(35184372088832 AS DOUBLE)" // 2^45, exactly representable
    def ds15(e: String) =
      s"CAST(CAST(sum(CAST(floor(($e) * $c45) AS BIGINT)) AS VARCHAR) " +
        s"AS DOUBLE) / $c45"
    val its = (1 to prIters).map { k =>
      val p = s"r${k - 1}"
      s"""c$k AS MATERIALIZED (SELECT e.dst AS id, ${ds15("p.r / e.deg")} AS contrib
         |  FROM ed e JOIN $p p ON e.src = p.id GROUP BY e.dst),
         |d$k AS MATERIALIZED (SELECT coalesce(${ds15("r")}, CAST(0 AS DOUBLE)) AS mass
         |  FROM $p WHERE id NOT IN (SELECT src FROM outdeg)),
         |r$k AS MATERIALIZED (SELECT nd.id,
         |    (CAST(1 AS DOUBLE) - $d) / nt.n
         |      + $d * (coalesce(c.contrib, CAST(0 AS DOUBLE)) + dm.mass / nt.n) AS r
         |  FROM nodes nd CROSS JOIN nt CROSS JOIN d$k dm
         |  LEFT JOIN c$k c ON nd.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
       |nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, o.deg FROM edges e
       |       JOIN outdeg o ON e.src = o.src),
       |nt AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE) / nt.n AS r
       |       FROM nodes CROSS JOIN nt),
       |$its
       |SELECT id, r FROM r$prIters ORDER BY id""".stripMargin
  }

  /** Runtime semi-join prefilter (SURVEY §4.1; reference analog:
    * python/cudf_polars/cudf_polars/experimental/join_filter_pushdown.py
    * :1-50): a selective dimension filter becomes, via Spark's
    * InjectRuntimeFilter rule, a bloom-filter probe (`might_contain`)
    * on the FACT side of a shuffle join — shuffle input is cut BEFORE
    * the join, the 100 TB win the reference's semi-join pushdown
    * targets. This builder is the plan shape; [[optRuntimeFilter]]
    * materializes it under the runtime-filter confs, and PlanDump pins
    * `might_contain` on the lineitem side with the same confs. */
  def runtimeFilterPlan(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        QueryPack.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Confs that arm the rewrite. Thresholds are lowered because the
    * testdata is tiny; at cluster scale the DEFAULTS (10 GB application
    * side) gate the same rewrite. Broadcast joins skip runtime filters
    * (the broadcast itself is the prefilter), so the shuffle join the
    * rewrite targets — which the fact join IS at 100 TB — is forced. */
  val runtimeFilterConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Gate row: the ANSWER under the runtime-filter rewrite must equal
    * the plain SQL oracle. The rewrite is an optimizer rule that reads
    * session conf at execution, so the result materializes eagerly
    * (localCheckpoint) while the confs are in force, then every conf is
    * restored so no later gate inherits them. */
  def optRuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val saved = runtimeFilterConfs.map { case (k, _) => k -> s.conf.getOption(k) }
    runtimeFilterConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try runtimeFilterPlan(s, dir).localCheckpoint(true)
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val optRuntimeFilterSql: String =
    s"""SELECT l_returnflag, count(*) AS n_items,
       |  ${QueryPack.dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("opt_runtime_filter", optRuntimeFilter, optRuntimeFilterSql),
    Gate("graph_pagerank", pageRankQ, pageRankSql),
    Gate("graph_triangles", trianglesQ, trianglesSql),
    Gate("graph_bfs_levels", bfsQ, bfsSql),
    Gate("graph_components", componentsQ, componentsSql),
    Gate("agg_theta_setops", thetaSetOps, thetaSetOpsSql),
    Gate("agg_kmv_rollup", kmvRollup, kmvRollupSql),
    Gate("agg_topk_heavy", topkHeavy, topkHeavySql),
    Gate("is_sorted_check", isSortedQ, isSortedSql),
    Gate("encode_factorize", encodeFactorize, encodeFactorizeSql),
    Gate("search_sorted", searchSorted, searchSortedSql),
    Gate("agg_tdigest", tdigestQuantiles, tdigestQuantilesSql),
    Gate("agg_tdigest_merge", tdigestMergeRollup, tdigestMergeRollupSql),
    Gate("agg_tdigest_rekeyed", tdigestRekeyed, tdigestRekeyedSql),
    Gate("agg_hll_rollup", hllRollup, hllRollupSql),
    Gate("agg_cms_freq", cmsFrequencies, cmsFrequenciesSql),
    Gate("dq_rule_audit", dqRuleAudit, dqRuleAuditSql),
    Gate("dq_join_profile", dqJoinProfile, dqJoinProfileSql),
    Gate("dq_profile", dqProfile, dqProfileSql),
    Gate("cdc_merge", cdcMerge, cdcMergeSql),
    Gate("agg_kmv_distinct", kmvDistinct, kmvDistinctSql),
    Gate("decimal_arith", decimalArith, decimalArithSql),
    Gate("decimal_round", decimalRound, decimalRoundSql),
    Gate("subquery_scalar", subqueryScalar, subqueryScalarSql),
    Gate("bin_label", binLabel, binLabelSql),
    Gate("bin_qcut", binQcut, binQcutSql),
    Gate("isin_filter", isinFilter, isinFilterSql),
    Gate("ipv4_roundtrip", ipv4RoundTrip, ipv4RoundTripSql),
    Gate("agg_approx", aggApprox, aggApproxSql),
    Gate("sample_seeded", sampleSeeded, sampleSeededSql),
    Gate("doc_stems", docStems, docStemsSql),
    Gate("events_ewma", eventsEwma, eventsEwmaSql),
    Gate("events_ewm_adjust", eventsEwmAdjust, eventsEwmAdjustSql))
  val eventsEwmaSql: String =
    """SELECT user_id, event_id, value,
      |  list_reduce(list(value) OVER w,
      |    (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc) AS ewma_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin


  /** Fixed Porter-1980 word→stem table for the 31-token corpus
    * vocabulary — see [[docStems]] for the per-word rule derivations.
    * Derived from the algorithm spec by hand, NOT from the operator,
    * so the check is independent. */
  val docStemsSql: String =
    """WITH stems(tok, stem) AS (VALUES
      |  ('a','a'), ('agg','agg'), ('batch','batch'), ('big','big'),
      |  ('column','column'), ('customer','custom'), ('data','data'),
      |  ('dup','dup'), ('fast','fast'), ('filter','filter'),
      |  ('group','group'), ('hash','hash'), ('join','join'),
      |  ('key','kei'), ('line','line'), ('merge','merg'),
      |  ('order','order'), ('part','part'), ('query','queri'),
      |  ('row','row'), ('scan','scan'), ('slow','slow'),
      |  ('small','small'), ('sort','sort'), ('spark','spark'),
      |  ('stream','stream'), ('table','tabl'), ('the','the'),
      |  ('value','valu'), ('vector','vector'), ('window','window')),
      |tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |       AS tok FROM documents)
      |SELECT stem, n FROM (
      |  SELECT s.stem, count(*) AS n
      |  FROM tk JOIN stems s ON s.tok = tk.tok
      |  GROUP BY s.stem)
      |ORDER BY n DESC, stem LIMIT 25""".stripMargin
}
