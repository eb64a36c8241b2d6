package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window-function coverage (SURVEY.md §2.5 — cpp/src/rolling,
  * cpp/include/cudf/rolling.hpp; grouped scan/shift groupby.hpp:237,293).
  *
  * Grouped rolling ≙ Window.partitionBy.orderBy.rowsBetween; range frames
  * ≙ rangeBetween; grouped shift ≙ lag/lead; grouped replace_nulls
  * ffill/bfill ≙ last/first(ignoreNulls) over one-sided frames.
  * Window order keys are total (tie-broken by a unique key) wherever the
  * function value depends on row position, so results are deterministic.
  */
object Windows extends QueryPack {

  /** ROW_NUMBER + per-group top-k (TOP_K agg kind, aggregation.hpp:120).
    * At scale this is the shuffle-once pattern: partition by key, no
    * global sort. */
  def winTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    Tables.lineitem(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"l_suppkey", $"rn", $"l_orderkey", $"l_extendedprice")
      .orderBy($"l_suppkey", $"rn")
  }

  val winTopKSql: String =
    """SELECT l_suppkey, rn, l_orderkey, l_extendedprice FROM (
      |  SELECT l_suppkey, l_orderkey, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin

  /** RANK/DENSE_RANK/PERCENT_RANK/CUME_DIST/NTILE (sorting.hpp:222 rank
    * methods + aggregation.hpp:100-106). Rank windows order by a
    * tie-permitting key (values are tie-insensitive); ntile uses a total
    * order since its value is position-dependent. */
  def winRankFamily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ties = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice")
    val total = Window.partitionBy($"o_orderstatus")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        rank().over(ties).as("rnk"),
        dense_rank().over(ties).as("drnk"),
        percent_rank().over(ties).as("prnk"),
        cume_dist().over(ties).as("cdist"),
        ntile(4).over(total).as("quartile"))
      .orderBy($"o_orderstatus", $"o_totalprice", $"o_orderkey")
  }

  val winRankFamilySql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  percent_rank() OVER w AS prnk,
      |  cume_dist() OVER w AS cdist,
      |  ntile(4) OVER (PARTITION BY o_orderstatus
      |                 ORDER BY o_totalprice, o_orderkey) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
      |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin

  /** Full rank-method surface (sorting.hpp:222 rank_method FIRST /
    * AVERAGE / MIN / MAX / DENSE + rank_percentage): min = SQL rank,
    * dense = dense_rank, first = row_number over a total order,
    * max = min + (ties in the same value group) − 1, average =
    * (min + max) / 2, pct = average / partition size — each derived
    * from the same two window shuffles, no extra passes. */
  def winRankMethods(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Window.partitionBy($"o_orderstatus")
    val ties = part.orderBy($"o_totalprice")
    val total = part.orderBy($"o_totalprice", $"o_orderkey")
    val sameVal = Window.partitionBy($"o_orderstatus", $"o_totalprice")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        rank().over(ties).as("rank_min"),
        (rank().over(ties) + count(lit(1)).over(sameVal) - 1).as("rank_max"),
        dense_rank().over(ties).as("rank_dense"),
        row_number().over(total).as("rank_first"),
        count(lit(1)).over(part).as("__n"))
      .withColumn("rank_avg", ($"rank_min" + $"rank_max") / 2.0)
      .withColumn("rank_pct", $"rank_avg" / $"__n")
      .drop("__n")
      .orderBy($"o_orderstatus", $"o_totalprice", $"o_orderkey")
  }

  val winRankMethodsSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  rank_min, rank_max, rank_dense, rank_first,
      |  (rank_min + rank_max) / 2.0 AS rank_avg,
      |  (rank_min + rank_max) / 2.0 / n_part AS rank_pct
      |FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |    rank() OVER w AS rank_min,
      |    rank() OVER w + count(*) OVER (PARTITION BY o_orderstatus,
      |      o_totalprice) - 1 AS rank_max,
      |    dense_rank() OVER w AS rank_dense,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice, o_orderkey) AS rank_first,
      |    count(*) OVER (PARTITION BY o_orderstatus) AS n_part
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice))
      |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin

  /** LEAD/LAG + grouped shift (groupby.hpp:293) over event time. */
  def winLeadLag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"value",
        lag($"value", 1).over(w).as("prev_v"),
        lead($"value", 1).over(w).as("next_v"),
        lag($"value", 2).over(w).as("shift2"),
        ($"value" - lag($"value", 1).over(w)).as("delta"))
      .orderBy($"user_id", $"event_id")
  }

  val winLeadLagSql: String =
    """SELECT user_id, event_id, value,
      |  lag(value, 1) OVER w AS prev_v,
      |  lead(value, 1) OVER w AS next_v,
      |  lag(value, 2) OVER w AS shift2,
      |  value - lag(value, 1) OVER w AS delta
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Grouped cumulative scan (groupby.hpp:237) — running sum/min/max/count
    * over an unbounded-preceding row frame; sum in exact decimal. */
  def winRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"event_id",
        sum(graft.plans.GraftExpressions.fastDecimal($"value", 18, 2)).over(w).cast("double")
          .as("run_sum"),
        min($"value").over(w).as("run_min"),
        max($"value").over(w).as("run_max"),
        count(lit(1)).over(w).as("run_n"))
      .orderBy($"user_id", $"event_id")
  }

  val winRunningSql: String =
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_sum,
      |  min(value) OVER w AS run_min,
      |  max(value) OVER w AS run_max,
      |  count(*) OVER w AS run_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Range (value-based) frame (grouped_range_rolling_window,
    * rolling.hpp:563): events within 100 ids preceding, per user. */
  def winRangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rangeBetween(-100, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"event_id",
        count(lit(1)).over(w).as("n_in_range"),
        sum(graft.plans.GraftExpressions.fastDecimal($"value", 18, 2)).over(w).cast("double")
          .as("sum_in_range"))
      .orderBy($"user_id", $"event_id")
  }

  val winRangeFrameSql: String =
    """SELECT user_id, event_id,
      |  count(*) OVER w AS n_in_range,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_in_range
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
      |             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** OPEN-interval range frame (rolling.hpp:119 window_bounds — the
    * reference's open/closed endpoint flag): the open interval
    * (current−101, current) over integer event ids is realized as the
    * CLOSED frame [current−100, current−1] — the ±1 boundary adjustment
    * SURVEY §2.5 calls out; both engines express only closed frames. */
  def winRangeOpen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rangeBetween(-100, -1)
    Tables.events(s, dir)
      .select($"user_id", $"event_id",
        count(lit(1)).over(w).as("n_open"),
        sum(graft.plans.GraftExpressions.fastDecimal($"value", 18, 2)).over(w).cast("double")
          .as("sum_open"))
      .orderBy($"user_id", $"event_id")
  }

  val winRangeOpenSql: String =
    """SELECT user_id, event_id,
      |  count(*) OVER w AS n_open,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_open
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
      |             RANGE BETWEEN 100 PRECEDING AND 1 PRECEDING)
      |ORDER BY user_id, event_id""".stripMargin

  /** Time-based trailing range frame (grouped_range_rolling_window over
    * event time, rolling.hpp:563): events in the trailing hour per user,
    * ordered by epoch micros so the range arithmetic is integer-exact. */
  def winTimeRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"event_id",
        count(lit(1)).over(w).as("n_last_hour"),
        sum(graft.plans.GraftExpressions.fastDecimal($"value", 18, 2)).over(w).cast("double")
          .as("sum_last_hour"))
      .orderBy($"user_id", $"event_id")
  }

  val winTimeRangeSql: String =
    """SELECT user_id, event_id,
      |  count(*) OVER w AS n_last_hour,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    AS sum_last_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Cumulative MAX/MIN scans (aggregation.hpp scan_type::INCLUSIVE
    * with MAX/MIN — the grouped scan family beyond cumsum). Comparisons
    * only, so no float-order caveats. */
  def winScanMinMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"value",
        max($"value").over(w).as("cum_max"),
        min($"value").over(w).as("cum_min"))
      .orderBy($"user_id", $"event_id")
  }

  val winScanMinMaxSql: String =
    """SELECT user_id, event_id, value,
      |  max(value) OVER w AS cum_max,
      |  min(value) OVER w AS cum_min
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Rolling VARIANCE/STD over a 5-row frame (rolling.hpp window
    * aggregations beyond sum/mean): moment sums in exact decimal inside
    * the frame, variance derived per row; single-row frames yield NULL
    * (no sample variance), matching both engines explicitly. */
  def winRollingStd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-4, Window.currentRow)
    val sx = sum(graft.plans.GraftExpressions.fastDecimal($"value", 38, 6)).over(w).cast("double")
    val sxx = sum(graft.plans.GraftExpressions.fastDecimal($"value" * $"value", 38, 6)).over(w)
      .cast("double")
    val n = count(lit(1)).over(w).cast("double")
    Tables.events(s, dir)
      .select($"user_id", $"event_id", n.as("roll_n"),
        (sx / n).as("roll_mean"),
        when(n > 1, (sxx - sx * sx / n) / (n - lit(1.0)))
          .otherwise(lit(null).cast("double")).as("roll_var"),
        when(n > 1, sqrt((sxx - sx * sx / n) / (n - lit(1.0))))
          .otherwise(lit(null).cast("double")).as("roll_std"))
      .orderBy($"user_id", $"event_id")
  }

  val winRollingStdSql: String =
    """SELECT user_id, event_id, roll_n, sx / roll_n AS roll_mean,
      |  CASE WHEN roll_n > 1
      |    THEN (sxx - sx * sx / roll_n) / (roll_n - 1.0) END AS roll_var,
      |  CASE WHEN roll_n > 1
      |    THEN sqrt((sxx - sx * sx / roll_n) / (roll_n - 1.0)) END AS roll_std
      |FROM (
      |  SELECT user_id, event_id,
      |    CAST(count(*) OVER w AS DOUBLE) AS roll_n,
      |    CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sx,
      |    CAST(sum(CAST((value * value) AS DECIMAL(38,6))) OVER w
      |      AS DOUBLE) AS sxx
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      |ORDER BY user_id, event_id""".stripMargin

  /** Rolling 5-row OLS slope/intercept of value against the per-user
    * observation index (trend detection over a sliding frame — the
    * window sibling of ds_regression's per-group OLS). All four moments
    * are exact (integer x from row_number, DECIMAL y), so
    * num = n·Σxy − Σx·Σy and den = n·Σx² − (Σx)² are exact on both
    * engines; slope is their one IEEE division and the intercept chain
    * runs on already-identical doubles. */
  def winRollingSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w = ord.rowsBetween(-4, Window.currentRow)
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(28, 2))
    Tables.events(s, dir)
      .withColumn("x", row_number().over(ord).cast("long"))
      .withColumn("yd", graft.plans.GraftExpressions.fastDecimal($"value", 18, 2))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum($"x").over(w))
      .withColumn("sxx", sum($"x" * $"x").over(w))
      .withColumn("sy", sum($"yd").over(w))
      .withColumn("sxy", sum(dec($"x" * $"yd")).over(w))
      .withColumn("den", $"n" * $"sxx" - $"sx" * $"sx")
      // counts stay DECIMAL(10,0) so the cross-products keep total
      // precision <= 38 on BOTH engines (DuckDB rejects 28x28 multiplies)
      .withColumn("num",
        $"n".cast(DecimalType(10, 0)) * dec($"sxy") -
          $"sx".cast(DecimalType(10, 0)) * dec($"sy"))
      .select($"user_id", $"event_id", $"n",
        when($"den" > 0, $"num".cast("double") / $"den".cast("double"))
          .otherwise(lit(null).cast("double")).as("slope"),
        when($"den" > 0,
          ($"sy".cast("double") -
            ($"num".cast("double") / $"den".cast("double")) *
              $"sx".cast("double")) / $"n".cast("double"))
          .otherwise(lit(null).cast("double")).as("intercept"))
      .orderBy($"user_id", $"event_id")
  }

  val winRollingSlopeSql: String =
    """SELECT user_id, event_id, n,
      |  CASE WHEN den > 0 THEN
      |    CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(den AS DOUBLE)
      |  END AS slope,
      |  CASE WHEN den > 0 THEN
      |    (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      - (CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(den AS DOUBLE))
      |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |  END AS intercept
      |FROM (
      |  SELECT user_id, event_id, n, sx, sy, den,
      |    CAST(n AS DECIMAL(10,0)) * sxy
      |      - CAST(sx AS DECIMAL(10,0)) * sy AS num
      |  FROM (
      |    SELECT user_id, event_id,
      |      CAST(count(*) OVER w AS BIGINT) AS n,
      |      CAST(sum(x) OVER w AS BIGINT) AS sx,
      |      CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
      |      CAST(sum(yd) OVER w AS DECIMAL(28,2)) AS sy,
      |      CAST(sum(CAST(x * yd AS DECIMAL(28,2))) OVER w
      |        AS DECIMAL(28,2)) AS sxy,
      |      CAST(count(*) OVER w AS BIGINT)
      |        * CAST(sum(x * x) OVER w AS BIGINT)
      |        - CAST(sum(x) OVER w AS BIGINT)
      |        * CAST(sum(x) OVER w AS BIGINT) AS den
      |    FROM (
      |      SELECT user_id, event_id, ts,
      |        CAST(row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS BIGINT) AS x,
      |        CAST(value AS DECIMAL(18,2)) AS yd
      |      FROM events)
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)))
      |ORDER BY user_id, event_id""".stripMargin

  /** Linear null interpolation (cudf Series.interpolate, pandas
    * method='index') along the event_id axis per user — straight-line
    * value between nearest non-null neighbors; leading nulls stay null,
    * trailing nulls forward-fill. */
  def winInterpolate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nulled = Tables.events(s, dir)
      .withColumn("v", when($"event_type" === "view", lit(null)).otherwise($"value"))
    graft.operators.Interpolate.linear(nulled, "v", "event_id",
        Seq("user_id"), outCol = "v_interp")
      .select($"user_id", $"event_id", $"v", $"v_interp")
      .orderBy($"user_id", $"event_id")
  }

  val winInterpolateSql: String =
    """SELECT user_id, event_id, v,
      |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
      |       WHEN pv IS NULL THEN NULL
      |       WHEN nv IS NULL THEN pv
      |       ELSE pv + (nv - pv) * (x - px) / (nx - px) END AS v_interp
      |FROM (
      |  SELECT user_id, event_id, v, CAST(event_id AS DOUBLE) AS x,
      |    CAST(last_value(v IGNORE NULLS) OVER back AS DOUBLE) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL
      |      THEN CAST(event_id AS DOUBLE) END IGNORE NULLS) OVER back AS px,
      |    CAST(first_value(v IGNORE NULLS) OVER fwd AS DOUBLE) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL
      |      THEN CAST(event_id AS DOUBLE) END IGNORE NULLS) OVER fwd AS nx
      |  FROM (SELECT user_id, event_id,
      |          CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
      |        FROM events)
      |  WINDOW back AS (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  fwd AS (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY user_id, event_id""".stripMargin

  /** Grouped replace_nulls ffill/bfill (replace.hpp:48 fill-policy;
    * grouped scans) — last/first non-null over one-sided frames. */
  def winFfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nulled = Tables.events(s, dir)
      .withColumn("v", when($"event_type" === "view", lit(null)).otherwise($"value"))
    val back = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    nulled.select($"user_id", $"event_id", $"v",
        last($"v", ignoreNulls = true).over(back).as("ffill"),
        first($"v", ignoreNulls = true).over(fwd).as("bfill"))
      .orderBy($"user_id", $"event_id")
  }

  val winFfillSql: String =
    """SELECT user_id, event_id, v,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
      |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
      |FROM (SELECT user_id, event_id, ts,
      |        CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
      |      FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  /** NTH_ELEMENT (aggregation.hpp:99) as a window nth_value + first/last
    * over an explicit full frame (frame text identical in both engines). */
  def winNth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val full = Window.partitionBy($"o_orderstatus")
      .orderBy($"o_totalprice", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        nth_value($"o_orderkey", 3).over(full).as("third_cheapest"),
        first($"o_orderkey").over(full).as("cheapest"),
        last($"o_orderkey").over(full).as("priciest"))
      .orderBy($"o_orderstatus", $"o_totalprice", $"o_orderkey")
  }

  val winNthSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  nth_value(o_orderkey, 3) OVER w AS third_cheapest,
      |  first_value(o_orderkey) OVER w AS cheapest,
      |  last_value(o_orderkey) OVER w AS priciest
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin

  /** Cumulative COUNT(DISTINCT) over an ordered window — an aggregate
    * Spark's window engine REJECTS outright (DISTINCT is unsupported in
    * window frames), and the naive workaround
    * `size(collect_set(x) OVER ...)` materializes the running set per
    * row (O(n·d) window state — a scale killer on 100 TB event
    * streams). Scalable reformulation: flag each (group, value)'s FIRST
    * occurrence with one row_number window, then running-SUM the flags
    * over a RANGE frame — two sort-sharing window passes with O(1)
    * per-row state. RANGE (not ROWS) makes the result well-defined
    * under order-key ties: every row of a date sees the same count, and
    * the first-occurrence flag always lands on the value's minimum
    * date regardless of which tied row wins the row_number. The oracle
    * is DuckDB's NATIVE `count(DISTINCT) OVER` — a genuinely different
    * evaluation strategy agreeing on every row. */
  def winCountDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firstW = Window.partitionBy($"l_returnflag", $"l_partkey")
      .orderBy($"l_shipdate")
    val cumW = Window.partitionBy($"l_returnflag").orderBy($"l_shipdate")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_shipdate",
        (row_number().over(firstW) === 1).cast("long").as("first_occ"))
      .select($"l_returnflag", $"l_shipdate",
        sum($"first_occ").over(cumW).as("cum_parts"))
      .distinct()
      .orderBy($"l_returnflag", $"l_shipdate")
  }

  val winCountDistinctSql: String =
    """SELECT DISTINCT l_returnflag, l_shipdate,
      |  count(DISTINCT l_partkey) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_shipdate
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_parts
      |FROM lineitem
      |ORDER BY l_returnflag, l_shipdate""".stripMargin

  /** Grouped PRODUCT scan (aggregation.hpp:78 PRODUCT as a scan kind —
    * groupby.hpp:237 grouped scan; cudf Series.cumprod): Spark has no
    * built-in product aggregate, so the custom ProductAgg Aggregator
    * (the §2.12 UDAF surface) runs AS A WINDOW FUNCTION over a trailing
    * 4-row frame. Values are l_linenumber (1..7), so every product is
    * an exact small integer (≤ 7⁴ = 2401) in double at any SF and the
    * gate hash-matches DuckDB's NATIVE product() window — two
    * independent implementations of the same scan. */
  def winCumprod(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pr = udaf(graft.functions.Udfs.ProductAgg)
    val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
      .rowsBetween(-3, Window.currentRow)
    Tables.lineitem(s, dir).select($"l_orderkey", $"l_linenumber",
        pr($"l_linenumber".cast("double")).over(w).as("cumprod"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val winCumprodSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  product(CAST(l_linenumber AS DOUBLE)) OVER (
      |    PARTITION BY l_orderkey ORDER BY l_linenumber
      |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cumprod
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** GFrame façade grouped scans end-to-end (pandas-style
    * cumsum/cumcount/diff/pct_change — groupby scan/shift,
    * groupby.hpp:237,293; dataframe.py GroupBy.cumsum/cumcount):
    * the façade's window plans proven cross-engine, not just in
    * GFrameSpec. The feed: per-user event sequences ordered by the
    * UNIQUE event_id (the façade takes one order column, so the order
    * key must be total by itself — lineitem's l_linenumber is NOT
    * unique per order in the synthetic data). qty = round(value·100)+1
    * is an integer-valued positive double, so running sums/diffs are
    * exact and pct_change's one IEEE division matches DuckDB
    * bit-for-bit (never 0/0); NaN values are filtered on both sides
    * (engine-divergent division semantics). */
  def winFacadeScans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, dir)
      .filter(!isnan($"value"))
      .select($"user_id", $"event_id",
        (round($"value" * 100) + 1).as("qty"))
    graft.api.GFrame(base)
      .cumsum("qty", Seq("user_id"), "event_id")
      .cumcount(Seq("user_id"), "event_id")
      .diff("qty", Seq("user_id"), "event_id")
      .pctChange("qty", Seq("user_id"), "event_id")
      .df
      .select($"user_id", $"event_id", $"qty_cumsum", $"cumcount",
        $"qty_diff", $"qty_pct_change")
      .orderBy($"user_id", $"event_id")
  }

  val winFacadeScansSql: String =
    """SELECT user_id, event_id,
      |  sum(qty) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS qty_cumsum,
      |  CAST(row_number() OVER w - 1 AS INT) AS cumcount,
      |  qty - lag(qty, 1) OVER w AS qty_diff,
      |  (qty - lag(qty, 1) OVER w) / lag(qty, 1) OVER w AS qty_pct_change
      |FROM (SELECT user_id, event_id, round(value * 100) + 1 AS qty
      |      FROM events WHERE NOT isnan(value))
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY user_id, event_id""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("win_facade_scans", winFacadeScans, winFacadeScansSql),
    Gate("win_cumprod", winCumprod, winCumprodSql),
    Gate("win_count_distinct", winCountDistinct, winCountDistinctSql),
    Gate("win_nth_value", winNth, winNthSql),
    Gate("win_topk", winTopK, winTopKSql),
    Gate("win_rank_family", winRankFamily, winRankFamilySql),
    Gate("win_rank_methods", winRankMethods, winRankMethodsSql),
    Gate("win_lead_lag", winLeadLag, winLeadLagSql),
    Gate("win_running", winRunning, winRunningSql),
    Gate("win_range_frame", winRangeFrame, winRangeFrameSql),
    Gate("win_range_open", winRangeOpen, winRangeOpenSql),
    Gate("win_time_range", winTimeRange, winTimeRangeSql),
    Gate("win_ffill", winFfill, winFfillSql),
    Gate("win_interpolate", winInterpolate, winInterpolateSql),
    Gate("win_rolling_std", winRollingStd, winRollingStdSql),
    Gate("win_rolling_slope", winRollingSlope, winRollingSlopeSql),
    Gate("win_scan_minmax", winScanMinMax, winScanMinMaxSql))
}
