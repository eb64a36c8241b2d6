package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryPack._

/** Aggregation-kind coverage (SURVEY.md §2.4 —
  * cpp/include/cudf/aggregation.hpp:78-122, groupby.hpp:89).
  *
  * Spark's partial/final hash aggregates play the role of the reference's
  * hash groupby; float-summing kinds go through the decimal-exact helpers
  * so partial-aggregation order can't perturb results. Statistical kinds
  * (M2/VARIANCE/STD/COVARIANCE/CORRELATION) are derived from exact moment
  * sums so both engines compute bit-identical doubles.
  */
object Aggs extends QueryPack {

  /** SUM/MIN/MAX/MEAN/COUNT_VALID/COUNT_ALL/SUM_OF_SQUARES/NUNIQUE. */
  def aggBasic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(
        dsum($"l_quantity", 2).as("sum_qty"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"),
        davg($"l_quantity", 2).as("avg_qty"),
        dsum($"l_quantity" * $"l_quantity", 4).as("sum_qty_sq"),
        count($"l_quantity").as("n_valid"),
        count(lit(1)).as("n_all"),
        countDistinct($"l_suppkey").as("n_supp"))
      .orderBy($"l_returnflag")
  }

  val aggBasicSql: String =
    s"""SELECT l_returnflag,
       |  ${dsumSql("l_quantity", 2)} AS sum_qty,
       |  min(l_quantity) AS min_qty,
       |  max(l_quantity) AS max_qty,
       |  ${davgSql("l_quantity", 2)} AS avg_qty,
       |  ${dsumSql("l_quantity * l_quantity", 4)} AS sum_qty_sq,
       |  count(l_quantity) AS n_valid,
       |  count(*) AS n_all,
       |  count(DISTINCT l_suppkey) AS n_supp
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** NUNIQUE / distinct-agg rewrite: multiple distinct aggs in one group. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("n_cust"),
        countDistinct($"o_orderstatus").as("n_status"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val aggDistinctSql: String =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
      |  count(DISTINCT o_orderstatus) AS n_status, count(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** PRODUCT aggregation (aggregation.hpp:73 PRODUCT — via the typed
    * `Aggregator` UDAF surface, the HOST_UDF analog): per-order product
    * of line numbers. Inputs are small exact integers, so every double
    * product is exact (≤ 7! ≪ 2^53) and therefore order- and
    * partitioning-independent — cross-engine-gateable where a generic
    * float product (non-associative rounding) would not be. */
  def aggProduct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prod = udaf(graft.functions.Udfs.ProductAgg)
    Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(prod($"l_linenumber".cast("double")).as("ln_prod"),
        count(lit(1)).as("n_lines"))
      .orderBy($"l_orderkey")
  }

  val aggProductSql: String =
    """SELECT l_orderkey,
      |  product(CAST(l_linenumber AS DOUBLE)) AS ln_prod,
      |  count(*) AS n_lines
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Distinct count under BOTH null policies (types.hpp null_policy,
    * distinct_count: EXCLUDE skips nulls — the SQL default — INCLUDE
    * counts null as one more distinct value, cudf's default). Nulls
    * manufactured in-plan so the policy split is observable. */
  def aggDistinctNulls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = when($"o_orderstatus" === "F", lit(null).cast("string"))
      .otherwise($"o_orderstatus")
    Tables.orders(s, dir).groupBy($"o_orderpriority")
      .agg(countDistinct(v).as("nd_excl"),
        (countDistinct(v) +
          max(when(v.isNull, 1L).otherwise(0L))).as("nd_incl"),
        sum(when(v.isNull, 1L).otherwise(0L)).as("n_null"))
      .orderBy($"o_orderpriority")
  }

  val aggDistinctNullsSql: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT v) AS nd_excl,
      |  CAST(count(DISTINCT v) +
      |    max(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nd_incl,
      |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
      |FROM (SELECT o_orderpriority,
      |        CASE WHEN o_orderstatus = 'F' THEN NULL
      |             ELSE o_orderstatus END AS v FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** distinct_count nan_policy (types.hpp nan_policy NAN_IS_VALID /
    * NAN_IS_NULL — the floating twin of [[aggDistinctNulls]]'s
    * null_policy): NaNs planted on a deterministic key residue, then
    * the distinct count once with NaN as a countable value (both
    * engines group all NaNs as one — IEEE equality is overridden in
    * grouping) and once with NaN mapped to NULL (excluded). */
  def aggDistinctNan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = when(pmod($"o_orderkey", lit(7)) === 0,
      lit(Double.NaN)).otherwise($"o_totalprice")
    Tables.orders(s, dir).groupBy($"o_orderpriority")
      .agg(countDistinct(v).as("nd_nan_valid"),
        countDistinct(when(isnan(v), lit(null).cast("double"))
          .otherwise(v)).as("nd_nan_null"),
        sum(when(isnan(v), 1L).otherwise(0L)).as("n_nan"))
      .orderBy($"o_orderpriority")
  }

  val aggDistinctNanSql: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT v) AS nd_nan_valid,
      |  count(DISTINCT CASE WHEN isnan(v) THEN NULL ELSE v END)
      |    AS nd_nan_null,
      |  CAST(sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan
      |FROM (SELECT o_orderpriority,
      |        CASE WHEN o_orderkey % 7 = 0 THEN 'NaN'::DOUBLE
      |             ELSE o_totalprice END AS v FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** ARGMAX/ARGMIN (aggregation.hpp:96-97) → max_by/min_by. The ordering
    * value is made unique (price scaled + rowkey) so arg ties cannot make
    * the result nondeterministic across engines. */
  def aggArgMinMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).withColumn("price_uniq",
      $"l_extendedprice" * 1000000.0 + $"l_orderkey" * 10.0 + $"l_linenumber")
    li.groupBy($"l_returnflag")
      .agg(expr("max_by(l_orderkey, price_uniq)").as("argmax_order"),
        expr("min_by(l_orderkey, price_uniq)").as("argmin_order"),
        max($"l_extendedprice").as("max_price"),
        min($"l_extendedprice").as("min_price"))
      .orderBy($"l_returnflag")
  }

  val aggArgMinMaxSql: String =
    """SELECT l_returnflag,
      |  arg_max(l_orderkey, l_extendedprice * 1000000.0 + l_orderkey * 10.0 + l_linenumber) AS argmax_order,
      |  arg_min(l_orderkey, l_extendedprice * 1000000.0 + l_orderkey * 10.0 + l_linenumber) AS argmin_order,
      |  max(l_extendedprice) AS max_price,
      |  min(l_extendedprice) AS min_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ANY/ALL → bool_or/bool_and; BITWISE_AGG → bit_and/bit_or/bit_xor. */
  def aggBoolBitwise(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).groupBy($"event_type")
      .agg(expr("bool_and(value > 0)").as("all_pos"),
        expr("bool_or(value > 400)").as("any_big"),
        expr("bit_and(user_id)").as("band"),
        expr("bit_or(user_id)").as("bor"),
        expr("bit_xor(user_id)").as("bxor"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  val aggBoolBitwiseSql: String =
    """SELECT event_type, bool_and(value > 0) AS all_pos,
      |  bool_or(value > 400) AS any_big,
      |  bit_and(user_id) AS band, bit_or(user_id) AS bor,
      |  bit_xor(user_id) AS bxor, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** M2/VARIANCE/STD/COVARIANCE/CORRELATION (aggregation.hpp:87-95,110-111)
    * derived from exact decimal moment sums → identical doubles in both
    * engines regardless of partial-aggregation order. */
  def aggStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum($"l_quantity", 2).as("sx"),
        dsum($"l_quantity" * $"l_quantity", 4).as("sxx"),
        dsum($"l_extendedprice", 2).as("sy"),
        dsum($"l_extendedprice" * $"l_extendedprice", 4).as("syy"),
        dsum($"l_quantity" * $"l_extendedprice", 4).as("sxy"))
      .select($"l_returnflag", $"n",
        ($"sx" / $"n").as("mean_x"),
        (($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("var_x"),
        sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("std_x"),
        (($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1)).as("covar_xy"),
        ((($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1)) /
          (sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)) *
           sqrt(($"syy" - $"sy" * $"sy" / $"n") / ($"n" - 1)))).as("corr_xy"))
      .orderBy($"l_returnflag")
  }

  val aggStatsSql: String = {
    val sub =
      s"""SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
         |  ${dsumSql("l_quantity", 2)} AS sx,
         |  ${dsumSql("l_quantity * l_quantity", 4)} AS sxx,
         |  ${dsumSql("l_extendedprice", 2)} AS sy,
         |  ${dsumSql("l_extendedprice * l_extendedprice", 4)} AS syy,
         |  ${dsumSql("l_quantity * l_extendedprice", 4)} AS sxy
         |FROM lineitem GROUP BY l_returnflag""".stripMargin
    s"""SELECT l_returnflag, n,
       |  (sx / n) AS mean_x,
       |  ((sxx - sx * sx / n) / (n - 1)) AS var_x,
       |  sqrt((sxx - sx * sx / n) / (n - 1)) AS std_x,
       |  ((sxy - sx * sy / n) / (n - 1)) AS covar_xy,
       |  (((sxy - sx * sy / n) / (n - 1)) /
       |    (sqrt((sxx - sx * sx / n) / (n - 1)) *
       |     sqrt((syy - sy * sy / n) / (n - 1)))) AS corr_xy
       |FROM ($sub) ORDER BY l_returnflag""".stripMargin
  }

  /** MEDIAN/QUANTILE (aggregation.hpp:93-94) — exact interpolated
    * percentile ≙ DuckDB quantile_cont; discrete ≙ quantile_disc. */
  def aggPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).groupBy($"l_linestatus")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("percentile(l_extendedprice, array(0.5))[0]").as("p50_price"))
      .orderBy($"l_linestatus")
  }

  val aggPercentilesSql: String =
    """SELECT l_linestatus,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.9) AS p90,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** All five reference interpolation strategies (quantiles.hpp
    * interpolation: LOWER/HIGHER/NEAREST/MIDPOINT/LINEAR — Spark's
    * built-in percentile is LINEAR only): per-group sorted array +
    * exact index arithmetic shared formula-for-formula with the oracle.
    * Sorted-array collection is bounded per group (same restriction as
    * the reference's sort-based quantile path). */
  def aggQuantileModes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NumericFunctions.quantileSorted
    val sorted = Tables.lineitem(s, dir).groupBy($"l_linestatus")
      .agg(array_sort(collect_list($"l_quantity")).as("qs"))
    val modes = Seq("lower", "higher", "nearest", "midpoint", "linear")
    sorted.select(
        $"l_linestatus" +:
          modes.map(m => quantileSorted($"qs", 0.37, m).as(s"q37_$m")): _*)
      .orderBy($"l_linestatus")
  }

  val aggQuantileModesSql: String = {
    import graft.functions.NumericFunctions.quantileSortedSql
    val modes = Seq("lower", "higher", "nearest", "midpoint", "linear")
    val cols = modes.map(m =>
      s"  ${quantileSortedSql("qs", 0.37, m)} AS q37_$m").mkString(",\n")
    s"""SELECT l_linestatus,
       |$cols
       |FROM (SELECT l_linestatus,
       |        list_sort(list(l_quantity)) AS qs
       |      FROM lineitem GROUP BY l_linestatus)
       |ORDER BY l_linestatus""".stripMargin
  }

  /** COLLECT_LIST/COLLECT_SET (aggregation.hpp:101-102) — rendered as a
    * sorted joined string so list ordering cannot differ across engines. */
  def aggCollect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).filter($"l_quantity" > 49.8)
      .groupBy($"l_returnflag")
      .agg(array_join(sort_array(collect_list($"l_orderkey")), ",").as("orders_list"),
        array_join(sort_array(collect_set($"l_suppkey")), ",").as("supp_set"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val aggCollectSql: String =
    """SELECT l_returnflag,
      |  array_to_string(list_sort(list(l_orderkey)), ',') AS orders_list,
      |  array_to_string(list_sort(list(DISTINCT l_suppkey)), ',') AS supp_set,
      |  count(*) AS n
      |FROM lineitem WHERE l_quantity > 49.8
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP — superset capability (absent in reference, SURVEY §2.4). */
  def aggRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity", 2).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  val aggRollupSql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  ${dsumSql("l_quantity", 2)} AS sum_qty
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE — superset capability. */
  def aggCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice", 2).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  val aggCubeSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       |  ${dsumSql("o_totalprice", 2)} AS sum_price
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** HISTOGRAM (aggregation.hpp:117) as explicit bin labeling — group by
    * bin id; scales as a single hash aggregate. */
  def aggHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy(floor($"l_quantity" / 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("lo"),
        max($"l_quantity").as("hi"))
      .orderBy($"bin")
  }

  val aggHistogramSql: String =
    """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS bin, count(*) AS n,
      |  min(l_quantity) AS lo, max(l_quantity) AS hi
      |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin

  /** SKEW / KURTOSIS (python/cudf Series.skew/kurtosis;
    * cpp/src/reductions) from exact decimal raw-moment sums. Built-in
    * `skewness`/`kurtosis` are not oracle-comparable (DuckDB applies
    * sample-correction factors, Spark population formulas; both fold
    * doubles in partial-agg order) — deriving from exact sums with the
    * formula text written identically in both engines gives
    * bit-identical doubles, the same technique as [[aggStats]].
    * pow() is avoided (libm-divergent): x^1.5 is m2 * sqrt(m2). */
  def aggSkewKurt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum($"l_quantity", 2).as("sx"),
        dsum($"l_quantity" * $"l_quantity", 2).as("sxx"),
        dsum($"l_quantity" * $"l_quantity" * $"l_quantity", 2).as("sxxx"),
        dsum($"l_quantity" * $"l_quantity" * $"l_quantity" * $"l_quantity", 2)
          .as("sxxxx"))
    val mean = $"sx" / $"n"
    val m2 = $"sxx" / $"n" - mean * mean
    val m3 = $"sxxx" / $"n" - lit(3.0) * mean * ($"sxx" / $"n") +
      lit(2.0) * mean * mean * mean
    val m4 = $"sxxxx" / $"n" - lit(4.0) * mean * ($"sxxx" / $"n") +
      lit(6.0) * mean * mean * ($"sxx" / $"n") -
      lit(3.0) * mean * mean * mean * mean
    m.select($"l_returnflag", $"n",
        (m3 / (m2 * sqrt(m2))).as("skew_pop"),
        (m4 / (m2 * m2) - lit(3.0)).as("kurt_excess"))
      .orderBy($"l_returnflag")
  }

  val aggSkewKurtSql: String = {
    val sub =
      s"""SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
         |  ${dsumSql("l_quantity", 2)} AS sx,
         |  ${dsumSql("l_quantity * l_quantity", 2)} AS sxx,
         |  ${dsumSql("l_quantity * l_quantity * l_quantity", 2)} AS sxxx,
         |  ${dsumSql("l_quantity * l_quantity * l_quantity * l_quantity", 2)} AS sxxxx
         |FROM lineitem GROUP BY l_returnflag""".stripMargin
    // formula text mirrors the Column expressions exactly (same
    // association order) so IEEE evaluation is step-identical
    s"""SELECT l_returnflag, n,
       |  ((sxxx / n - 3.0 * (sx / n) * (sxx / n)
       |      + 2.0 * (sx / n) * (sx / n) * (sx / n))
       |    / ((sxx / n - (sx / n) * (sx / n))
       |       * sqrt(sxx / n - (sx / n) * (sx / n)))) AS skew_pop,
       |  ((sxxxx / n - 4.0 * (sx / n) * (sxxx / n)
       |      + 6.0 * (sx / n) * (sx / n) * (sxx / n)
       |      - 3.0 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
       |    / ((sxx / n - (sx / n) * (sx / n))
       |       * (sxx / n - (sx / n) * (sx / n))) - 3.0) AS kurt_excess
       |FROM ($sub) ORDER BY l_returnflag""".stripMargin
  }

  /** MODE (python/cudf Series.mode) with deterministic tie-break
    * (smallest value wins): count per (group, value), then one
    * row_number window — two group-keyed shuffles, no global sort.
    * DuckDB's mode() breaks ties by first-seen order (engine-specific),
    * so both engines run the explicit count+rank formulation. */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"cnt".desc, $"l_quantity")
    counts.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"l_returnflag", $"l_quantity".as("mode_val"),
        $"cnt".as("mode_n"))
      .orderBy($"l_returnflag")
  }

  val aggModeSql: String =
    """SELECT l_returnflag, l_quantity AS mode_val, cnt AS mode_n
      |FROM (
      |  SELECT l_returnflag, l_quantity, cnt,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY cnt DESC, l_quantity) AS rn
      |  FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt
      |        FROM lineitem GROUP BY 1, 2))
      |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  /** Pairwise Pearson correlation MATRIX (cudf DataFrame.corr) in one
    * aggregation pass — all k(k+1)/2 moment sums from a single read. */
  private val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def aggCorrMatrix(s: SparkSession, dir: String): DataFrame =
    // inputScale = 2: the four columns are natively 2-decimal, so the
    // moment products are exact decimals (no double-product rounding —
    // see Stats.corrMatrix; the 5× ds_regression lesson)
    graft.operators.Stats.corrMatrix(Tables.lineitem(s, dir), corrCols,
        inputScale = Some(2))
      .orderBy(col("col_a"), col("col_b"))

  val aggCorrMatrixSql: String = {
    val k = corrCols.size
    // via-VARCHAR double cast: correctly rounded at ≥17 significant
    // digits, unlike DuckDB's direct DECIMAL→DOUBLE (see dsumSql)
    def d2(e: String) = s"CAST($e AS DECIMAL(18,2))"
    def s(i: Int) =
      s"CAST(CAST(sum(${d2(corrCols(i))}) AS VARCHAR) AS DOUBLE)"
    def p(i: Int, j: Int) =
      s"CAST(CAST(sum(${d2(corrCols(i))} * ${d2(corrCols(j))}) AS VARCHAR) AS DOUBLE)"
    val moments =
      (Seq("CAST(count(*) AS DOUBLE) AS n") ++
        corrCols.indices.map(i => s"${s(i)} AS s$i") ++
        (for { i <- 0 until k; j <- i until k } yield s"${p(i, j)} AS p${i}_$j"))
        .mkString(",\n    ")
    def cov(i: Int, j: Int) = s"(n * p${math.min(i, j)}_${math.max(i, j)} - s$i * s$j)"
    val rows = (for { i <- 0 until k; j <- (i + 1) until k } yield
      s"""SELECT '${corrCols(i)}' AS col_a, '${corrCols(j)}' AS col_b,
         |  ${cov(i, j)} / (sqrt(${cov(i, i)}) * sqrt(${cov(j, j)})) AS corr
         |FROM m""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT
       |    $moments
       |  FROM lineitem)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Weighted percentiles (quantity-weighted price distribution): the
    * type-1 weighted quantile neither Spark nor the reference ships
    * (quantiles.hpp:37 interpolates unweighted ranks). Thresholds are
    * pure integer arithmetic (den·cum ≥ num·total over pre-aggregated
    * integer weights), so both engines select identical boundary rows
    * — full hash match, no estimator tolerance needed. */
  def aggWeightedPctl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Stats.weightedPercentiles(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice",
        "l_quantity",
        Seq(("wp25", 1L, 4L), ("wmedian", 1L, 2L), ("wp90", 9L, 10L)))
      .orderBy($"l_returnflag")
  }

  val aggWeightedPctlSql: String =
    """WITH byv AS (
      |  SELECT l_returnflag, l_extendedprice AS v,
      |    sum(CAST(round(CAST(l_quantity AS DOUBLE)) AS BIGINT)) AS w
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, v,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM byv)
      |SELECT l_returnflag,
      |  min(CASE WHEN cum * 4 >= tot * 1 THEN v END) AS wp25,
      |  min(CASE WHEN cum * 2 >= tot * 1 THEN v END) AS wmedian,
      |  min(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS wp90
      |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Per-group winsorize ([[graft.operators.Stats.winsorize]]): events
    * values clamped to the per-type type-1 [p05, p95] cuts, then a
    * decimal-exact summary of the clamped column + clip counts. The
    * cut selection is integer threshold arithmetic over per-value
    * counts, so both engines pick identical boundary values. The feed
    * PLANTS NULLs (event_id % 97 == 0) so the gate exercises the
    * NULL-preserving clamp — without the isNotNull guard in
    * [[graft.operators.Stats.winsorize]], NULL would be fabricated as
    * lo_cut and sum_w / n_null would diverge from the oracle. */
  def aggWinsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feed = Tables.events(s, dir).select($"event_type",
      when(pmod($"event_id", lit(97L)) === 0L, lit(null).cast("double"))
        .otherwise($"value").as("value"))
    val clipped = graft.operators.Stats.winsorize(
      feed, "event_type", "value", 1L, 20L, 19L, 20L)
    clipped.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        first($"lo_cut").as("lo_cut"), first($"hi_cut").as("hi_cut"),
        dsum($"value_w").as("sum_w"),
        sum(when($"value" < $"lo_cut", 1L).otherwise(0L)).as("n_lo"),
        sum(when($"value" > $"hi_cut", 1L).otherwise(0L)).as("n_hi"),
        sum(when($"value_w".isNull, 1L).otherwise(0L)).as("n_null"))
      .orderBy($"event_type")
  }

  val aggWinsorizeSql: String =
    s"""WITH feed AS (
       |  SELECT event_type,
       |    CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value
       |  FROM events),
       |byv AS (
       |  SELECT event_type, value AS v, count(*) AS w
       |  FROM feed WHERE value IS NOT NULL GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, v,
       |    sum(w) OVER (PARTITION BY event_type ORDER BY v) AS cum,
       |    sum(w) OVER (PARTITION BY event_type) AS tot
       |  FROM byv),
       |cuts AS (
       |  SELECT event_type,
       |    min(CASE WHEN cum * 20 >= tot * 1 THEN v END) AS lo_cut,
       |    min(CASE WHEN cum * 20 >= tot * 19 THEN v END) AS hi_cut
       |  FROM c GROUP BY 1)
       |SELECT e.event_type, count(*) AS n, lo_cut, hi_cut,
       |  ${dsumSql("CASE WHEN e.value IS NULL THEN NULL" +
                   " ELSE least(greatest(e.value, lo_cut), hi_cut) END")} AS sum_w,
       |  CAST(sum(CASE WHEN e.value < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_lo,
       |  CAST(sum(CASE WHEN e.value > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hi,
       |  CAST(sum(CASE WHEN e.value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null
       |FROM feed e JOIN cuts USING (event_type)
       |GROUP BY 1, lo_cut, hi_cut ORDER BY 1""".stripMargin

  /** Whole-row gather at quantile positions (quantiles.hpp:89
    * `quantiles`, the table form — distinct from the scalar
    * `quantile`): rows of lineitem at q ∈ {0, ¼, ½, ¾, ⅞, 1} of the
    * (price, orderkey, linenumber) total order, under all three
    * non-arithmetic interpolation strategies the reference permits for
    * row gathering (LOWER / HIGHER / NEAREST with half-to-even —
    * quantiles_util.hpp:73-88). Both engines derive the indices with
    * the same integer rational arithmetic, so the gate is hash-exact;
    * the oracle replays via row_number. Dyadic fractions make the
    * integer rule coincide with the reference's double math. */
  def aggRowsQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_extendedprice", $"l_orderkey", $"l_linenumber")
    val qs = Seq((0L, 1L), (1L, 4L), (1L, 2L), (3L, 4L), (7L, 8L), (1L, 1L))
    val sortCols = Seq($"l_extendedprice", $"l_orderkey", $"l_linenumber")
    graft.operators.Stats.rowsAtQuantilesMulti(li, sortCols, qs,
        Seq("lower", "higher", "nearest")) // one count + ONE sort for all 3
      .select($"q_num", $"q_den", $"interp",
        $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"q_num".cast("double") / $"q_den", $"interp")
  }

  val aggRowsQuantilesSql: String =
    """WITH s AS (
      |  SELECT l_extendedprice, l_orderkey, l_linenumber,
      |    row_number() OVER (
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS idx
      |  FROM lineitem),
      |nn AS (SELECT count(*) AS n FROM lineitem),
      |qs(q_num, q_den) AS (VALUES (0,1),(1,4),(1,2),(3,4),(7,8),(1,1)),
      |tgt AS (
      |  SELECT q_num, q_den, interp,
      |    CASE WHEN interp = 'lower' THEN a // q_den
      |         WHEN interp = 'higher'
      |           THEN a // q_den + CASE WHEN a % q_den > 0 THEN 1 ELSE 0 END
      |         ELSE CASE WHEN 2 * (a % q_den) < q_den THEN a // q_den
      |                   WHEN 2 * (a % q_den) > q_den THEN a // q_den + 1
      |                   ELSE a // q_den + (a // q_den) % 2 END
      |    END AS idx
      |  FROM (SELECT q_num, q_den, interp, q_num * (n - 1) AS a
      |        FROM qs CROSS JOIN nn
      |        CROSS JOIN (VALUES ('lower'), ('higher'), ('nearest'))
      |          i(interp)))
      |SELECT CAST(t.q_num AS BIGINT) AS q_num,
      |  CAST(t.q_den AS BIGINT) AS q_den, t.interp,
      |  s.l_orderkey, s.l_linenumber, s.l_extendedprice
      |FROM tgt t JOIN s ON s.idx = t.idx
      |ORDER BY CAST(t.q_num AS DOUBLE) / t.q_den, t.interp""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("agg_rows_quantiles", aggRowsQuantiles, aggRowsQuantilesSql),
    Gate("agg_winsorize", aggWinsorize, aggWinsorizeSql),
    Gate("agg_distinct_nan", aggDistinctNan, aggDistinctNanSql),
    Gate("agg_weighted_pctl", aggWeightedPctl, aggWeightedPctlSql),
    Gate("agg_corr_matrix", aggCorrMatrix, aggCorrMatrixSql),
    Gate("agg_skew_kurt", aggSkewKurt, aggSkewKurtSql),
    Gate("agg_mode", aggMode, aggModeSql),
    Gate("agg_basic", aggBasic, aggBasicSql),
    Gate("agg_distinct", aggDistinct, aggDistinctSql),
    Gate("agg_distinct_nulls", aggDistinctNulls, aggDistinctNullsSql),
    Gate("agg_product", aggProduct, aggProductSql),
    Gate("agg_argminmax", aggArgMinMax, aggArgMinMaxSql),
    Gate("agg_bool_bitwise", aggBoolBitwise, aggBoolBitwiseSql),
    Gate("agg_stats", aggStats, aggStatsSql),
    Gate("agg_percentiles", aggPercentiles, aggPercentilesSql),
    Gate("agg_quantile_modes", aggQuantileModes, aggQuantileModesSql),
    Gate("agg_collect", aggCollect, aggCollectSql),
    Gate("agg_rollup", aggRollup, aggRollupSql),
    Gate("agg_cube", aggCube, aggCubeSql),
    Gate("agg_histogram", aggHistogram, aggHistogramSql))
}
