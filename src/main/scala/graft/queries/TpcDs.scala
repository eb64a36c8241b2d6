package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryPack._

/** TPC-DS-shaped reporting queries (the reference benchmarks PDS-DS,
  * python/cudf_polars/.../pdsds.py) adapted to the available star
  * schema: windows over aggregates, CASE-heavy channel classification,
  * and consecutive-period retention — the composite shapes DS adds over
  * H. Window sums over unordered frames go through decimal so partition
  * row order cannot perturb doubles.
  */
object TpcDs extends QueryPack {

  /** Top-3 customers per nation by revenue with revenue share —
    * aggregate → window rank + windowed share ratio. */
  def dsSalesRanking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pre-aggregate revenue per ORDER before the fact-fact join: the
    // order-key shuffle then carries ~|orders| rows instead of
    // |lineitem|, and the (nation, cust) regroup shrinks the same way.
    // Decimal sums are exact and associative, so two-level summing is
    // bit-identical to the single groupBy the oracle runs.
    val ordRev = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sum(graft.plans.GraftExpressions.fastDecimal(
          $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)).as("ord_rev"))
    val rev = ordRev
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", $"c_custkey")
      .agg(sum($"ord_rev").cast("double").as("cust_rev"))
    val part = Window.partitionBy($"n_name")
    val rankW = part.orderBy($"cust_rev".desc, $"c_custkey")
    rev
      .withColumn("rnk", row_number().over(rankW))
      .withColumn("nation_rev",
        sum($"cust_rev".cast(DecimalType(28, 6))).over(part).cast("double"))
      .filter($"rnk" <= 3)
      .select($"n_name", $"rnk", $"c_custkey", $"cust_rev",
        ($"cust_rev" / $"nation_rev").as("rev_share"))
      .orderBy($"n_name", $"rnk")
  }

  val dsSalesRankingSql: String =
    s"""SELECT n_name, rnk, c_custkey, cust_rev, cust_rev / nation_rev AS rev_share
       |FROM (
       |  SELECT n_name, c_custkey, cust_rev,
       |    row_number() OVER (PARTITION BY n_name
       |      ORDER BY cust_rev DESC, c_custkey) AS rnk,
       |    CAST(CAST(sum(CAST(cust_rev AS DECIMAL(28,6)))
       |      OVER (PARTITION BY n_name) AS VARCHAR) AS DOUBLE) AS nation_rev
       |  FROM (
       |    SELECT n_name, c_custkey,
       |      ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS cust_rev
       |    FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN nation ON c_nationkey = n_nationkey
       |    GROUP BY n_name, c_custkey))
       |WHERE rnk <= 3 ORDER BY n_name, rnk""".stripMargin

  /** Channel report: CASE classification × order year, counts + revenue
    * + average order value (exact decimal). */
  def dsChannelReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val channel =
      when($"o_orderpriority".isin("1-URGENT", "2-HIGH") &&
        $"o_orderstatus" === "O", "express_open")
      .when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), "express_done")
      .when($"o_orderstatus" === "O", "standard_open")
      .otherwise("standard_done")
    Tables.orders(s, dir)
      .groupBy(channel.as("channel"), year($"o_orderdate").as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        dsum($"o_totalprice", 2).as("revenue"),
        davg($"o_totalprice", 2).as("avg_order_value"))
      .orderBy($"channel", $"o_year")
  }

  val dsChannelReportSql: String =
    s"""SELECT CASE
       |    WHEN o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus = 'O'
       |      THEN 'express_open'
       |    WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'express_done'
       |    WHEN o_orderstatus = 'O' THEN 'standard_open'
       |    ELSE 'standard_done' END AS channel,
       |  year(o_orderdate) AS o_year,
       |  count(*) AS n_orders,
       |  ${dsumSql("o_totalprice", 2)} AS revenue,
       |  ${davgSql("o_totalprice", 2)} AS avg_order_value
       |FROM orders GROUP BY 1, 2 ORDER BY channel, o_year""".stripMargin

  /** Repeat customers: ordered in N consecutive years (distinct years →
    * lag window → consecutive-run detection). */
  def dsRepeatCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val years = Tables.orders(s, dir)
      .select($"o_custkey", year($"o_orderdate").as("y")).distinct()
    val w = Window.partitionBy($"o_custkey").orderBy($"y")
    years
      .withColumn("prev_y", lag($"y", 1).over(w))
      .withColumn("consec", when($"y" - $"prev_y" === 1, 1).otherwise(0))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_years"), sum($"consec").as("n_consecutive"))
      .filter($"n_consecutive" >= 2)
      .orderBy($"o_custkey")
  }

  val dsRepeatCustomersSql: String =
    """SELECT o_custkey, count(*) AS n_years,
      |  CAST(sum(consec) AS BIGINT) AS n_consecutive
      |FROM (
      |  SELECT o_custkey, y,
      |    CASE WHEN y - lag(y, 1) OVER (PARTITION BY o_custkey ORDER BY y) = 1
      |         THEN 1 ELSE 0 END AS consec
      |  FROM (SELECT DISTINCT o_custkey, year(o_orderdate) AS y FROM orders))
      |GROUP BY o_custkey HAVING sum(consec) >= 2
      |ORDER BY o_custkey""".stripMargin

  /** Returns-style anti-join chain (TPC-DS Q16/Q94 shape: "shipped and
    * never returned"): 1997 customers whose orders contain NO returned
    * lineitems, with ≥ 2 such clean orders. The NOT EXISTS is a
    * LEFT ANTI join against the distinct returned-order keys — both
    * sides shuffle once on orderkey; the distinct pre-shrinks the
    * returns side before the join (same one-shuffle reasoning as
    * ds_sales_ranking's order-level pre-aggregate). */
  def dsNoReturns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val returned = Tables.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey").distinct()
    Tables.orders(s, dir)
      .filter(year($"o_orderdate") === 1997)
      .join(returned, $"o_orderkey" === $"l_orderkey", "left_anti")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_clean_orders"),
        dsum($"o_totalprice", 2).as("clean_total"))
      .filter($"n_clean_orders" >= 2)
      .orderBy($"o_custkey")
  }

  val dsNoReturnsSql: String =
    s"""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_clean_orders,
       |  ${dsumSql("o_totalprice", 2)} AS clean_total
       |FROM orders
       |WHERE year(o_orderdate) = 1997
       |  AND NOT EXISTS (SELECT 1 FROM lineitem
       |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       |GROUP BY o_custkey HAVING count(*) >= 2
       |ORDER BY o_custkey""".stripMargin

  /** Week-matrix (DS Q59 shape): per-weekday revenue ratios, this week
    * vs the same week next year. r11 shipped the literal Q59 shape — a
    * (nation, week) pivot self-joined on week = week + 52 — which
    * scanned the orders fact TWICE (the branches filter different week
    * ranges, so ReusedExchange can't merge them). r12: the two ranges
    * are DISJOINT (weeks 0–51 vs 52–103), so ONE conditional
    * aggregation keyed by the ALIGNED week computes both years' pivots
    * in a single fact scan and the self-join vanishes; groups lacking
    * either year's rows are dropped, preserving the inner-join
    * contract exactly (the oracle keeps the independent join
    * formulation). The week range is restated as literal o_orderdate
    * bounds so it reaches the parquet scan as pushed filters.
    * Week/weekday derive from day arithmetic off a fixed Monday epoch
    * (1995-01-02), not ISO-week functions, so both engines bucket
    * identically near year boundaries. */
  def dsWeekMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = datediff($"o_orderdate", lit("1995-01-02").cast("date"))
    // wseq ∈ [0, 103]  ⇔  o_orderdate ∈ [epoch, epoch + 104·7 − 1 days]
    val base = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1995-01-02").cast("date") &&
        $"o_orderdate" <= lit("1996-12-29").cast("date"))
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".as("nation"),
        floor(days / 7).cast("long").as("wseq"),
        pmod(days, lit(7)).cast("int").as("dow"),
        $"o_totalprice")
    val y1row = $"wseq" <= 51
    def yDay(y: Int, k: Int) = {
      val cond = if (y == 1) y1row && $"dow" === k else !y1row && $"dow" === k
      dsum(when(cond, $"o_totalprice"), 2).as(s"y${y}_d$k")
    }
    def ratio(k: Int) =
      when(col(s"y1_d$k") > 0 && col(s"y2_d$k").isNotNull,
        col(s"y2_d$k") / col(s"y1_d$k")).as(s"r$k")
    val aggs =
      Seq(count(when(y1row, lit(1))).as("n1"),
        count(when(!y1row, lit(1))).as("n2")) ++
        (for (y <- 1 to 2; k <- 0 to 6) yield yDay(y, k))
    base
      .withColumn("aw", when(y1row, $"wseq").otherwise($"wseq" - 52))
      .groupBy($"nation", $"aw")
      .agg(aggs.head, aggs.tail: _*)
      .filter($"n1" > 0 && $"n2" > 0)
      .select(Seq($"nation", $"aw".as("wseq")) ++ (0 to 6).map(ratio): _*)
      .orderBy($"nation", $"wseq")
  }

  val dsWeekMatrixSql: String = {
    def d(k: Int) =
      dsumSql(s"CASE WHEN dow = $k THEN o_totalprice END", 2) + s" AS d$k"
    val ratios = (0 to 6).map(k =>
      s"CASE WHEN y1.d$k > 0 AND y2.d$k IS NOT NULL " +
        s"THEN y2.d$k / y1.d$k END AS r$k").mkString(",\n  ")
    s"""WITH base AS (
       |  SELECT c_nationkey AS nation,
       |    CAST(floor(date_diff('day', DATE '1995-01-02', o_orderdate)
       |      / 7.0) AS BIGINT) AS wseq,
       |    ((date_diff('day', DATE '1995-01-02', o_orderdate) % 7) + 7)
       |      % 7 AS dow,
       |    o_totalprice
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |weekly AS (
       |  SELECT nation, wseq, ${(0 to 6).map(d).mkString(", ")}
       |  FROM base GROUP BY 1, 2)
       |SELECT y1.nation, y1.wseq,
       |  $ratios
       |FROM weekly y1 JOIN weekly y2
       |  ON y1.nation = y2.nation AND y2.wseq = y1.wseq + 52
       |WHERE y1.wseq BETWEEN 0 AND 51
       |ORDER BY y1.nation, y1.wseq""".stripMargin
  }

  /** Year-over-year growth (DS Q74/Q11 shape): yearly aggregate →
    * lag window → growth ratio. The window runs over the AGGREGATE
    * (|years| rows, one per year), not the fact table — the unpartitioned
    * frame is a few rows regardless of input scale. */
  def dsYoyGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"o_year")
    Tables.orders(s, dir)
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice", 2).as("revenue"))
      .withColumn("prev_revenue", lag($"revenue", 1).over(w))
      .withColumn("yoy_growth", $"revenue" / $"prev_revenue" - 1.0)
      .orderBy($"o_year")
  }

  val dsYoyGrowthSql: String =
    s"""SELECT o_year, n_orders, revenue, prev_revenue,
       |  revenue / prev_revenue - 1.0 AS yoy_growth
       |FROM (
       |  SELECT o_year, n_orders, revenue,
       |    lag(revenue, 1) OVER (ORDER BY o_year) AS prev_revenue
       |  FROM (
       |    SELECT year(o_orderdate) AS o_year, count(*) AS n_orders,
       |      ${dsumSql("o_totalprice", 2)} AS revenue
       |    FROM orders GROUP BY 1))
       |ORDER BY o_year""".stripMargin

  /** Multi-band conditional counts in ONE scan (DS Q88 shape: eight
    * independent COUNT(*) FILTER bands folded into a single aggregate
    * instead of eight self-joined subqueries — 1 scan + 1 one-row
    * reduction at any scale). */
  def dsMultiBand(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def band(lo: Double, hi: Double) =
      count(when($"l_quantity" >= lo && $"l_quantity" < hi, true))
    Tables.lineitem(s, dir).agg(
      band(1, 7).as("b1"), band(7, 13).as("b2"),
      band(13, 19).as("b3"), band(19, 25).as("b4"),
      band(25, 31).as("b5"), band(31, 37).as("b6"),
      band(37, 43).as("b7"), band(43, 51).as("b8"))
  }

  val dsMultiBandSql: String =
    """SELECT
      |  count(*) FILTER (l_quantity >= 1 AND l_quantity < 7) AS b1,
      |  count(*) FILTER (l_quantity >= 7 AND l_quantity < 13) AS b2,
      |  count(*) FILTER (l_quantity >= 13 AND l_quantity < 19) AS b3,
      |  count(*) FILTER (l_quantity >= 19 AND l_quantity < 25) AS b4,
      |  count(*) FILTER (l_quantity >= 25 AND l_quantity < 31) AS b5,
      |  count(*) FILTER (l_quantity >= 31 AND l_quantity < 37) AS b6,
      |  count(*) FILTER (l_quantity >= 37 AND l_quantity < 43) AS b7,
      |  count(*) FILTER (l_quantity >= 43 AND l_quantity < 51) AS b8
      |FROM lineitem""".stripMargin

  /** Cohort retention: first-order year per customer (cohort), fraction
    * ordering again the NEXT year. Distinct (customer, year) pairs
    * shrink the fact input first; the cohort join is key-equi on
    * custkey — one shuffle each side, at most one match per row. */
  def dsCohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yrs = Tables.orders(s, dir)
      .select($"o_custkey", year($"o_orderdate").as("y")).distinct()
    val cohort = yrs.groupBy($"o_custkey").agg(min($"y").as("cohort_y"))
    val next = yrs.select($"o_custkey".as("n_custkey"), $"y".as("next_y"))
    cohort
      .join(next, $"o_custkey" === $"n_custkey" &&
        $"next_y" === $"cohort_y" + 1, "left")
      .groupBy($"cohort_y")
      .agg(count(lit(1)).as("n_cohort"), count($"next_y").as("n_retained"))
      .withColumn("retention", $"n_retained" / $"n_cohort")
      .orderBy($"cohort_y")
  }

  val dsCohortRetentionSql: String =
    """SELECT cohort_y, count(*) AS n_cohort,
      |  count(next_y) AS n_retained,
      |  count(next_y) / count(*) AS retention
      |FROM (
      |  SELECT c.o_custkey, c.cohort_y, n.y AS next_y
      |  FROM (
      |    SELECT o_custkey, min(y) AS cohort_y
      |    FROM (SELECT DISTINCT o_custkey, year(o_orderdate) AS y FROM orders)
      |    GROUP BY o_custkey) c
      |  LEFT JOIN (SELECT DISTINCT o_custkey, year(o_orderdate) AS y
      |             FROM orders) n
      |    ON n.o_custkey = c.o_custkey AND n.y = c.cohort_y + 1)
      |GROUP BY cohort_y ORDER BY cohort_y""".stripMargin

  /** Rollup ranking (DS Q67 shape): revenue at (type, brand), per-type
    * subtotal, and grand total in ONE rollup pass, then top-3 brands
    * ranked inside each type at the detail level. The rollup is a
    * single shuffle on the grouping-set keys; the rank window runs over
    * the AGGREGATE (|types|×|brands| rows), never the fact table.
    * Levels are derived with CASE on the rollup NULLs (p_type/p_brand
    * are non-null by schema) — portable where engine GROUPING() output
    * conventions are not. */
  def dsRollupRanking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rolled = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
      .rollup($"p_type", $"p_brand")
      .agg(dsum($"l_extendedprice", 2).as("revenue"))
      .withColumn("lvl",
        when($"p_type".isNull, 2).when($"p_brand".isNull, 1).otherwise(0))
    val w = Window.partitionBy($"lvl", $"p_type")
      .orderBy($"revenue".desc, $"p_brand")
    rolled.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"lvl", $"p_type", $"p_brand", $"revenue", $"rk")
      .orderBy($"lvl", asc_nulls_first("p_type"), $"rk")
  }

  val dsRollupRankingSql: String =
    s"""SELECT lvl, p_type, p_brand, revenue, rk
       |FROM (
       |  SELECT lvl, p_type, p_brand, revenue,
       |    row_number() OVER (PARTITION BY lvl, p_type
       |      ORDER BY revenue DESC, p_brand) AS rk
       |  FROM (
       |    SELECT CASE WHEN p_type IS NULL THEN 2
       |                WHEN p_brand IS NULL THEN 1 ELSE 0 END AS lvl,
       |      p_type, p_brand,
       |      ${dsumSql("l_extendedprice", 2)} AS revenue
       |    FROM lineitem JOIN part ON l_partkey = p_partkey
       |    GROUP BY ROLLUP (p_type, p_brand)))
       |WHERE rk <= 3
       |ORDER BY lvl, p_type ASC NULLS FIRST, rk""".stripMargin

  /** Cumulative-series comparison (DS Q51 shape): monthly revenue of
    * two channels aggregated in one scan (conditional sums), running
    * cumulative per channel via a window over the |months|-row
    * aggregate, months where the express channel's cumulative revenue
    * outruns 0.6x standard's. Cumsums go through decimal so the window
    * fold is order-exact. */
  def dsCumulativeCompare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, dir)
      .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("mo"))
      .agg(
        dsum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"),
          $"o_totalprice").otherwise(lit(0.0)), 2).as("express_rev"),
        dsum(when(!$"o_orderpriority".isin("1-URGENT", "2-HIGH"),
          $"o_totalprice").otherwise(lit(0.0)), 2).as("standard_rev"))
    val w = Window.orderBy($"mo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("cum_express",
        sum($"express_rev".cast(DecimalType(28, 6))).over(w).cast("double"))
      .withColumn("cum_standard",
        sum($"standard_rev".cast(DecimalType(28, 6))).over(w).cast("double"))
      .filter($"cum_express" > $"cum_standard" * 0.6)
      .select($"mo", $"cum_express", $"cum_standard",
        ($"cum_express" - $"cum_standard").as("lead_amt"))
      .orderBy($"mo")
  }

  val dsCumulativeCompareSql: String =
    s"""SELECT mo, cum_express, cum_standard,
       |  cum_express - cum_standard AS lead_amt
       |FROM (
       |  SELECT mo,
       |    CAST(CAST(sum(CAST(express_rev AS DECIMAL(28,6)))
       |      OVER (ORDER BY mo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS VARCHAR) AS DOUBLE) AS cum_express,
       |    CAST(CAST(sum(CAST(standard_rev AS DECIMAL(28,6)))
       |      OVER (ORDER BY mo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS VARCHAR) AS DOUBLE) AS cum_standard
       |  FROM (
       |    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
       |      ${dsumSql("CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
                "THEN o_totalprice ELSE 0.0 END", 2)} AS express_rev,
       |      ${dsumSql("CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') " +
                "THEN o_totalprice ELSE 0.0 END", 2)} AS standard_rev
       |    FROM orders GROUP BY 1))
       |WHERE cum_express > cum_standard * 0.6
       |ORDER BY mo""".stripMargin

  /** Market-basket co-occurrence: the 20 part pairs most often bought
    * together in one order. Pair generation reuses
    * `PostingLists.candidatePairs` keyed on the order — the SAME
    * machinery as the minhash band join, so pairs per order are
    * (basket size choose 2), linear in |orders| at any scale, and the
    * basket subtree is planned exactly once (never a fact self-join). */
  def dsBasketPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // distinctIds dedupes within the posting list — no extra
    // .distinct() shuffle of the whole fact ahead of the groupBy
    val items = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey")
    graft.operators.PostingLists
      .candidatePairs(items, "l_partkey", "l_orderkey", distinctIds = true)
      .groupBy($"a".as("part_a"), $"b".as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
      .limit(20)
  }

  val dsBasketPairsSql: String =
    """SELECT part_a, part_b, n_orders FROM (
      |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
      |    count(*) AS n_orders
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2)
      |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin

  /** 7-day sliding revenue average per order priority — decimal-exact
    * window sums (DuckDB's segment-tree sliding aggregate would differ
    * in double rounding; integer-exact decimals are order-free). The
    * window partitions by priority: group COUNT is fixed (5) while
    * group SIZE scales, the documented safe shape (SCALING.md §2.5). */
  def dsMovingAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy($"o_orderpriority", $"o_orderdate".cast("date").as("day"))
      .agg(sum(graft.plans.GraftExpressions.fastDecimal($"o_totalprice", 18, 2)).as("day_rev"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("mov7",
        (sum($"day_rev").over(w).cast("double") /
          count(lit(1)).over(w).cast("double")))
      .withColumn("day_rev", $"day_rev".cast("double"))
      .orderBy($"o_orderpriority", $"day")
  }

  val dsMovingAvgSql: String =
    """SELECT o_orderpriority, day,
      |  CAST(CAST(day_rev AS VARCHAR) AS DOUBLE) AS day_rev,
      |  CAST(CAST(sum(day_rev) OVER w AS VARCHAR) AS DOUBLE)
      |    / CAST(count(*) OVER w AS DOUBLE) AS mov7
      |FROM (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
      |  FROM orders GROUP BY 1, 2)
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderpriority, day""".stripMargin

  /** Per-group ordinary least squares (regr_slope/intercept/r2
    * contract — cudf exposes covariance/correlation, core/dataframe.py
    * cov/corr; OLS is their one-pass composition): ONE decimal-exact
    * moment aggregation (n, Σx, Σy, Σx², Σy², Σxy — map-side
    * combinable, zero extra shuffles at any scale), then the closed
    * double formula computed with IDENTICAL operation order in both
    * engines (every *, −, / is IEEE correctly-rounded, so equal
    * operands in equal order give equal bits; the decimal sums reach
    * double through the VARCHAR round-trip per QueryPack.dsumSql). */
  def dsRegression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Inputs quantize to their NATIVE scale-2 decimals FIRST (exact for
    // 2-decimal money/quantity data; no .5 boundary exists at the data's
    // own scale), so every product is an exact decimal and the moment
    // sums are exact — the former double products rounded at 0.5 ulp,
    // and for extendedprice² > 2^33 that rounding crossed DuckDB's
    // scale-in-double-space .5 boundary a few times per million rows
    // (caught by the 5× stress: syy off by 1 ulp ⇒ r² off by 5). Same
    // restructure-to-exact-decimal template as events_decayed_sum.
    def d2(c: org.apache.spark.sql.Column) = graft.plans.GraftExpressions.fastDecimal(c, 18, 2)
    def dmom(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val d = Tables.lineitem(s, dir).select($"l_returnflag",
      $"l_quantity".as("x"), $"l_extendedprice".as("y"))
    val m = d.groupBy($"l_returnflag").agg(
        count(lit(1)).as("n"),
        dmom(d2($"x")).as("sx"),
        dmom(d2($"y")).as("sy"),
        dmom(d2($"x") * d2($"x")).as("sxx"),
        dmom(d2($"y") * d2($"y")).as("syy"),
        dmom(d2($"x") * d2($"y")).as("sxy"))
      .withColumn("nd", $"n".cast("double"))
      .withColumn("slope",
        ($"nd" * $"sxy" - $"sx" * $"sy") / ($"nd" * $"sxx" - $"sx" * $"sx"))
    m.select($"l_returnflag", $"n", $"slope",
        (($"sy" - $"slope" * $"sx") / $"nd").as("intercept"),
        ((($"nd" * $"sxy" - $"sx" * $"sy") * ($"nd" * $"sxy" - $"sx" * $"sy")) /
          (($"nd" * $"sxx" - $"sx" * $"sx") * ($"nd" * $"syy" - $"sy" * $"sy")))
          .as("r2"))
      .orderBy($"l_returnflag")
  }

  val dsRegressionSql: String = {
    def d2(e: String) = s"CAST($e AS DECIMAL(18,2))"
    def dmom(e: String) =
      s"CAST(CAST(sum($e) AS VARCHAR) AS DOUBLE)"
    s"""WITH m AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    CAST(count(*) AS DOUBLE) AS nd,
       |    ${dmom(d2("l_quantity"))} AS sx,
       |    ${dmom(d2("l_extendedprice"))} AS sy,
       |    ${dmom(s"${d2("l_quantity")} * ${d2("l_quantity")}")} AS sxx,
       |    ${dmom(s"${d2("l_extendedprice")} * ${d2("l_extendedprice")}")} AS syy,
       |    ${dmom(s"${d2("l_quantity")} * ${d2("l_extendedprice")}")} AS sxy
       |  FROM lineitem GROUP BY l_returnflag),
       |t AS (
       |  SELECT *, (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS slope
       |  FROM m)
       |SELECT l_returnflag, n, slope,
       |  (sy - slope * sx) / nd AS intercept,
       |  ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) /
       |    ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS r2
       |FROM t ORDER BY l_returnflag""".stripMargin
  }

  /** Multi-channel UNION fact aggregation with a weekday CASE pivot
    * (PDS-DS Q2 shape, pdsds_queries/q2.py: web_sales UNION ALL
    * catalog_sales → per-week day-of-week sums → channel ratio). Here
    * the two "fact tables" are the postal (MAIL/SHIP) and air
    * (AIR/REG AIR) channel scans, literally unioned before ONE
    * aggregation — the DS pattern where per-channel facts share a
    * downstream plan. Day-of-week and week id derive from epoch-day
    * arithmetic (identical in both engines; calendar dow/week functions
    * have different conventions). Sums run in exact integer cents and
    * the emitted ratios are single double divisions of those integers —
    * bit-identical cross-engine. */
  def dsUnionWeekday(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Channels from the slim schema: returned ('R') vs acknowledged
    // ('A') lineitems — two filtered fact scans, literally unioned.
    def channelScan(flag: String, tag: String) =
      Tables.lineitem(s, dir)
        .filter($"l_returnflag" === flag)
        .select(datediff($"l_shipdate", lit("1970-01-01")).as("ed"),
          floor($"l_extendedprice" * 100 + 0.5).as("cents"),
          lit(tag).as("channel"))
    val wscs = channelScan("R", "post").unionAll(channelScan("A", "air"))
    // epoch day 0 = Thursday: dow 0=thu..6=wed
    val names = Seq("thu", "fri", "sat", "sun", "mon", "tue", "wed")
    val dayAggs = names.zipWithIndex.map { case (nm, d) =>
      sum(when($"ed" % 7 === d, $"cents")).as(s"${nm}_cents")
    }
    val pivoted = wscs
      .groupBy(expr("cast(ed div 7 as long)").as("wk"), $"channel")
      .agg(dayAggs.head, dayAggs.tail: _*)
    val post = pivoted.filter($"channel" === "post").drop("channel")
    val air = pivoted.filter($"channel" === "air").drop("channel")
    post.join(air.select($"wk" +: names.map(nm =>
        col(s"${nm}_cents").as(s"${nm}_b")): _*), "wk")
      .select($"wk" +: names.map(nm =>
        (col(s"${nm}_cents").cast("double") /
          expr(s"cast(nullif(${nm}_b, 0) as double)")).as(s"${nm}_ratio")): _*)
      .orderBy($"wk")
  }

  val dsUnionWeekdaySql: String = {
    val names = Seq("thu", "fri", "sat", "sun", "mon", "tue", "wed")
    val pivot = names.zipWithIndex.map { case (nm, d) =>
      s"CAST(sum(CASE WHEN ed % 7 = $d THEN cents END) AS BIGINT) AS ${nm}_cents"
    }.mkString(",\n      |    ")
    val ratios = names.map { nm =>
      s"CAST(p.${nm}_cents AS DOUBLE) / CAST(nullif(a.${nm}_cents, 0) AS DOUBLE) AS ${nm}_ratio"
    }.mkString(",\n      |  ")
    s"""WITH wscs AS (
      |  SELECT date_diff('day', DATE '1970-01-01', l_shipdate) AS ed,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents, 'post' AS channel
      |  FROM lineitem WHERE l_returnflag = 'R'
      |  UNION ALL
      |  SELECT date_diff('day', DATE '1970-01-01', l_shipdate) AS ed,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents, 'air' AS channel
      |  FROM lineitem WHERE l_returnflag = 'A'),
      |pv AS (
      |  SELECT CAST(ed // 7 AS BIGINT) AS wk, channel,
      |    $pivot
      |  FROM wscs GROUP BY 1, 2)
      |SELECT p.wk AS wk,
      |  $ratios
      |FROM pv p JOIN pv a ON p.wk = a.wk
      |WHERE p.channel = 'post' AND a.channel = 'air'
      |ORDER BY wk""".stripMargin
  }

  /** EXISTS + NOT EXISTS chain (PDS-DS Q16/Q94 shape: "has a late-risk
    * item and was never returned"): orders with at least one lineitem
    * shipped after its commit date and NO returned lineitem, counted
    * per priority. Both quantifiers compile to single-shuffle
    * distinct-key semi/anti joins — the distinct pre-shrinks each
    * probe side to order keys before the join. */
  def dsExistsChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Both quantifiers — EXISTS (correlated two-table ship-lag
    // predicate) and NOT EXISTS (returned item) — fuse into per-order
    // FLAGS of one lineitem⋈orders pass: one scan of each input and
    // one orderkey shuffle, vs the semi/anti form's two lineitem scans
    // + three orderkey shuffles. An order with no lineitems can satisfy
    // neither quantifier, matching the inner join's exclusion.
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey")
      .agg(first($"o_orderpriority").as("o_orderpriority"),
        first(floor($"o_totalprice" * 100 + 0.5)).as("cents"),
        max(when($"l_shipdate" > date_add($"o_orderdate", 90), 1)
          .otherwise(0)).as("slow"),
        max(when($"l_returnflag" === "R", 1).otherwise(0)).as("ret"))
      .filter($"slow" === 1 && $"ret" === 0)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("rev_cents"))
      .orderBy($"o_orderpriority")
  }

  val dsExistsChainSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l
      |                  WHERE l.l_orderkey = o.o_orderkey
      |                    AND l.l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Windowed market share (PDS-DS Q67-adjacent): per-year national
    * revenue, each nation's share of its year via a window sum over the
    * AGGREGATE (25 rows/year — the window never touches fact rows), top
    * 5 per year by share. Revenue in exact cents; the share is one
    * double division of two exact integers. */
  def dsMarketShareWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy(year($"o_orderdate").as("o_year"), $"n_name")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5)).as("rev_cents"))
    val byYear = Window.partitionBy($"o_year")
    rev
      .withColumn("share", $"rev_cents".cast("double") /
        sum($"rev_cents").over(byYear).cast("double"))
      .withColumn("rnk", row_number().over(
        byYear.orderBy($"share".desc, $"n_name")))
      .filter($"rnk" <= 5)
      .select($"o_year", $"n_name", $"rev_cents", $"share", $"rnk")
      .orderBy($"o_year", $"rnk")
  }

  val dsMarketShareWindowSql: String =
    """SELECT o_year, n_name, rev_cents, share, rnk FROM (
      |  SELECT o_year, n_name, rev_cents, share,
      |    row_number() OVER (PARTITION BY o_year
      |      ORDER BY share DESC, n_name) AS rnk
      |  FROM (
      |    SELECT o_year, n_name, rev_cents,
      |      CAST(rev_cents AS DOUBLE) /
      |        CAST(sum(rev_cents) OVER (PARTITION BY o_year) AS DOUBLE) AS share
      |    FROM (
      |      SELECT year(o_orderdate) AS o_year, n_name,
      |        CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |      FROM orders
      |      JOIN customer ON o_custkey = c_custkey
      |      JOIN nation ON c_nationkey = n_nationkey
      |      GROUP BY 1, 2)))
      |WHERE rnk <= 5 ORDER BY o_year, rnk""".stripMargin

  /** All-channel customers (PDS-DS Q38/Q87 INTERSECT shape): customers
    * whose purchases hit ALL THREE return-status channels, counted per
    * nation. Spark side: one orderkey shuffle (fact-fact join),
    * distinct (custkey, channel), group-by-having — set intersection
    * without materializing per-channel sets. The oracle derives the
    * same answer INDEPENDENTLY via literal INTERSECTs. */
  def dsAllChannelCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val channel = when($"l_returnflag" === "R", "ret")
      .when($"l_returnflag" === "A", "ack")
      .otherwise("none")
    val custChannel = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey", channel.as("ch")).distinct()
    val allThree = custChannel.groupBy($"o_custkey")
      .agg(countDistinct($"ch").as("n_ch"))
      .filter($"n_ch" === 3)
    allThree
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_name")
  }

  val dsAllChannelCustomersSql: String =
    """WITH cc AS (
      |  SELECT o_custkey,
      |    CASE WHEN l_returnflag = 'R' THEN 'ret'
      |         WHEN l_returnflag = 'A' THEN 'ack'
      |         ELSE 'none' END AS ch
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a3 AS (
      |  SELECT o_custkey FROM cc WHERE ch = 'ret'
      |  INTERSECT SELECT o_custkey FROM cc WHERE ch = 'ack'
      |  INTERSECT SELECT o_custkey FROM cc WHERE ch = 'none')
      |SELECT n_name, count(*) AS n_customers
      |FROM a3
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Multi-timeband single-scan counts (PDS-DS Q88 shape: eight
    * time-of-day × day-type counts that the original writes as eight
    * scalar subqueries — here fused into ONE scan with conditional
    * aggregation, the plan q88 wants at scale). Hour and weekday derive
    * from epoch-microsecond arithmetic (engine-identical; epoch day 0 =
    * Thursday, so dow 2/3 = Sat/Sun). */
  def dsTimebandCounts(s: SparkSession, dir: String): DataFrame = {
    val hr = expr("(unix_micros(ts) % 86400000000) div 3600000000")
    val wknd = expr("(unix_micros(ts) div 86400000000) % 7").isin(2, 3)
    def band(lo: Int, hi: Int, weekend: Boolean, nm: String) =
      count(when(hr.between(lo, hi) &&
        (if (weekend) wknd else !wknd), 1)).as(nm)
    Tables.events(s, dir).agg(
      band(0, 5, weekend = false, "wd_night"),
      band(6, 11, weekend = false, "wd_morning"),
      band(12, 17, weekend = false, "wd_afternoon"),
      band(18, 23, weekend = false, "wd_evening"),
      band(0, 5, weekend = true, "we_night"),
      band(6, 11, weekend = true, "we_morning"),
      band(12, 17, weekend = true, "we_afternoon"),
      band(18, 23, weekend = true, "we_evening"))
  }

  val dsTimebandCountsSql: String =
    """SELECT
      |  count(*) FILTER (WHERE hr BETWEEN 0 AND 5 AND NOT wknd) AS wd_night,
      |  count(*) FILTER (WHERE hr BETWEEN 6 AND 11 AND NOT wknd) AS wd_morning,
      |  count(*) FILTER (WHERE hr BETWEEN 12 AND 17 AND NOT wknd) AS wd_afternoon,
      |  count(*) FILTER (WHERE hr BETWEEN 18 AND 23 AND NOT wknd) AS wd_evening,
      |  count(*) FILTER (WHERE hr BETWEEN 0 AND 5 AND wknd) AS we_night,
      |  count(*) FILTER (WHERE hr BETWEEN 6 AND 11 AND wknd) AS we_morning,
      |  count(*) FILTER (WHERE hr BETWEEN 12 AND 17 AND wknd) AS we_afternoon,
      |  count(*) FILTER (WHERE hr BETWEEN 18 AND 23 AND wknd) AS we_evening
      |FROM (SELECT (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
      |        ((epoch_us(ts) // 86400000000) % 7) IN (2, 3) AS wknd
      |      FROM events)""".stripMargin

  /** Sequential-purchase cohort (PDS-DS Q54 flavor: "bought X, later
    * bought Y"): customers whose FIRST express-priority order strictly
    * precedes their first standard order, counted per market segment.
    * The two correlated firsts fuse into conditional MINs of one
    * orders scan — no self-join. */
  def dsSequentialPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val isExpress = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(min(when(isExpress, $"o_orderdate")).as("first_express"),
        min(when(!isExpress, $"o_orderdate")).as("first_standard"))
      .filter($"first_express" < $"first_standard")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val dsSequentialPurchaseSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM (
      |  SELECT o_custkey,
      |    min(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |        THEN o_orderdate END) AS first_express,
      |    min(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |        THEN o_orderdate END) AS first_standard
      |  FROM orders GROUP BY o_custkey)
      |JOIN customer ON o_custkey = c_custkey
      |WHERE first_express < first_standard
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Correlated scalar-subquery decorrelation (PDS-DS Q1 shape:
    * "customers whose returns exceed 1.2x their state's average"): the
    * correlated `> (SELECT 1.2*avg ... WHERE same nation)` becomes ONE
    * window average over the per-customer aggregate — the subquery
    * never re-executes per row and the fact is scanned once. The
    * window runs over |customers-with-returns| rows, not the fact. */
  def dsReturnsAboveAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
        .as("ret_rev"))
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
    val byNation = Window.partitionBy($"n_name")
    perCust
      .withColumn("nation_avg",
        (sum($"ret_rev".cast(DecimalType(28, 6))).over(byNation)
          .cast("double") / count(lit(1)).over(byNation)))
      .filter($"ret_rev" > lit(1.2) * $"nation_avg")
      .select($"n_name", $"c_custkey", $"ret_rev", $"nation_avg")
      .orderBy($"n_name", $"c_custkey")
  }

  val dsReturnsAboveAvgSql: String =
    s"""SELECT n_name, c_custkey, ret_rev, nation_avg FROM (
       |  SELECT n_name, c_custkey, ret_rev,
       |    CAST(CAST(sum(CAST(ret_rev AS DECIMAL(28,6)))
       |        OVER (PARTITION BY n_name) AS VARCHAR) AS DOUBLE) /
       |      count(*) OVER (PARTITION BY n_name) AS nation_avg
       |  FROM (
       |    SELECT o_custkey,
       |      ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS ret_rev
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |    WHERE l_returnflag = 'R' GROUP BY o_custkey)
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey)
       |WHERE ret_rev > 1.2 * nation_avg
       |ORDER BY n_name, c_custkey""".stripMargin

  /** Multi-fact FULL OUTER coverage rollup (PDS-DS Q97: customers per
    * channel-combination): the express and standard order "channels"
    * aggregate independently to distinct customer sets, FULL OUTER
    * join on the key, and the presence pattern folds to three counts.
    * Both inputs shuffle once on the join key; the outer join is the
    * shape under test (conditional counts of one scan would dodge it). */
  def dsChannelCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val isExpress = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    val ex = Tables.orders(s, dir).filter(isExpress)
      .select($"o_custkey".as("ek")).distinct()
    val st = Tables.orders(s, dir).filter(!isExpress)
      .select($"o_custkey".as("sk")).distinct()
    ex.join(st, $"ek" === $"sk", "full_outer")
      .agg(
        count(when($"ek".isNotNull && $"sk".isNotNull, 1))
          .as("both_channels"),
        count(when($"ek".isNotNull && $"sk".isNull, 1)).as("express_only"),
        count(when($"ek".isNull && $"sk".isNotNull, 1)).as("standard_only"))
  }

  val dsChannelCoverageSql: String =
    """SELECT
      |  count(*) FILTER (WHERE ek IS NOT NULL AND sk IS NOT NULL)
      |    AS both_channels,
      |  count(*) FILTER (WHERE ek IS NOT NULL AND sk IS NULL)
      |    AS express_only,
      |  count(*) FILTER (WHERE ek IS NULL AND sk IS NOT NULL)
      |    AS standard_only
      |FROM (SELECT DISTINCT o_custkey AS ek FROM orders
      |      WHERE o_orderpriority IN ('1-URGENT','2-HIGH')) e
      |FULL OUTER JOIN
      |     (SELECT DISTINCT o_custkey AS sk FROM orders
      |      WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) s
      |ON ek = sk""".stripMargin

  /** INTERSECT chain over fact-derived sets (PDS-DS Q38: customers
    * active in every channel — here, every one of three consecutive
    * order years), rolled up per market segment. Spark plans each
    * INTERSECT as a distinct + semi-join pair on the already-distinct
    * year slices; at scale that is three key-only shuffles, never a
    * row-wise triple self-join of orders. */
  def dsInAllChannels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def custsOf(yr: Int) = Tables.orders(s, dir)
      .filter(year($"o_orderdate") === yr)
      .select($"o_custkey").distinct()
    custsOf(1995).intersect(custsOf(1996)).intersect(custsOf(1997))
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val dsInAllChannelsSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM (
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** HAVING-subquery membership (PDS-DS Q23 "frequent items" flavor):
    * parts appearing in more than 35 distinct orders qualify; yearly
    * revenue then sums over only the qualifying parts via a LEFT SEMI
    * join. The qualifying set is an aggregate-with-HAVING — a second
    * pass over the fact is inherent to the shape (the set must be
    * complete before the detail filter), but both passes prune to
    * 3 columns and the semi join carries partkeys only. */
  def dsHavingThreshold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freqParts = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(countDistinct($"l_orderkey").as("n_ord"))
      .filter($"n_ord" > 35)
      .select($"l_partkey".as("fp"))
    Tables.lineitem(s, dir)
      .join(freqParts, $"l_partkey" === $"fp", "left_semi")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
        .as("freq_rev"),
        count(lit(1)).as("n_lines"))
      .orderBy($"o_year")
  }

  val dsHavingThresholdSql: String =
    s"""SELECT year(o_orderdate) AS o_year,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS freq_rev,
       |  count(*) AS n_lines
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_partkey IN (
       |  SELECT l_partkey FROM lineitem
       |  GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) > 35)
       |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** Multi-fact outer-join ROLLUP (PDS-DS Q80 channel report shape):
    * gross sales and returned revenue aggregate independently at
    * (year, supplier-nation) granularity, LEFT OUTER join (a nation-
    * year with no returns keeps its sales), returns coalesce to 0,
    * and a ROLLUP re-aggregates to nation subtotals and a grand
    * total. Facts are pre-shrunk to group granularity BEFORE the
    * outer join, so the join and the rollup both run over
    * |years|x|nations| rows. */
  def dsMultiFactRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def base = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
    val sales = base
      .groupBy(year($"o_orderdate").as("o_year"), $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
        .as("gross"))
    val returns = base
      .filter($"l_returnflag" === "R")
      .groupBy(year($"o_orderdate").as("r_year"), $"n_name".as("r_nation"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
        .as("ret"))
    sales
      .join(returns, $"o_year" === $"r_year" && $"n_name" === $"r_nation",
        "left_outer")
      .withColumn("ret0", coalesce($"ret", lit(0.0)))
      .rollup($"o_year", $"n_name")
      .agg(dsum($"gross", 6).as("gross_rev"),
        dsum($"ret0", 6).as("returned_rev"),
        (dsum($"gross", 6) - dsum($"ret0", 6)).as("net_rev"))
      .orderBy(asc_nulls_first("o_year"), asc_nulls_first("n_name"))
  }

  val dsMultiFactRollupSql: String =
    s"""WITH base AS (
       |  SELECT year(o_orderdate) AS o_year, n_name, l_returnflag,
       |    l_extendedprice * (1.0 - l_discount) AS rev
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey),
       |sales AS (
       |  SELECT o_year, n_name, ${dsumSql("rev", 6)} AS gross
       |  FROM base GROUP BY 1, 2),
       |returns AS (
       |  SELECT o_year AS r_year, n_name AS r_nation,
       |    ${dsumSql("rev", 6)} AS ret
       |  FROM base WHERE l_returnflag = 'R' GROUP BY 1, 2)
       |SELECT o_year, n_name,
       |  ${dsumSql("gross", 6)} AS gross_rev,
       |  ${dsumSql("ret0", 6)} AS returned_rev,
       |  ${dsumSql("gross", 6)} - ${dsumSql("ret0", 6)} AS net_rev
       |FROM (
       |  SELECT o_year, n_name, gross, coalesce(ret, 0.0) AS ret0
       |  FROM sales LEFT OUTER JOIN returns
       |    ON o_year = r_year AND n_name = r_nation)
       |GROUP BY ROLLUP (o_year, n_name)
       |ORDER BY o_year ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Excess-discount revenue (PDS-DS Q92: rows whose discount exceeds
    * 1.3x the item's average): the correlated per-part average
    * decorrelates into a window over the 1997 slice partitioned by
    * part — one scan, one part-keyed shuffle, no aggregate-then-
    * rejoin of the same slice. */
  def dsExcessDiscount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.lineitem(s, dir)
      .filter(year($"l_shipdate") === 1997)
    val byPart = Window.partitionBy($"l_partkey")
    slice
      .withColumn("avg_disc",
        sum(graft.plans.GraftExpressions.fastDecimal($"l_discount", 18, 6)).over(byPart)
          .cast("double") / count(lit(1)).over(byPart))
      .filter($"l_discount" > lit(1.3) * $"avg_disc")
      .agg(dsum($"l_extendedprice", 6).as("excess_rev"),
        count(lit(1)).as("n_lines"))
  }

  val dsExcessDiscountSql: String =
    s"""SELECT ${dsumSql("l_extendedprice", 6)} AS excess_rev,
       |  count(*) AS n_lines
       |FROM (
       |  SELECT l_extendedprice, l_discount,
       |    CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6)))
       |        OVER (PARTITION BY l_partkey) AS VARCHAR) AS DOUBLE) /
       |      count(*) OVER (PARTITION BY l_partkey) AS avg_disc
       |  FROM lineitem WHERE year(l_shipdate) = 1997)
       |WHERE l_discount > 1.3 * avg_disc""".stripMargin

  /** Deviation-from-average windows (DS Q47/Q57 shape): monthly revenue
    * per brand band, each month carrying its brand-year average plus
    * the neighboring months (lag/lead), filtered to months deviating
    * >30% from that average. Aggregate FIRST (one shuffle over the
    * fact), then all three windows run over the tiny monthly frame. */
  def dsDeviationWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the monthly total stays DECIMAL end-to-end (rev_dec) so the
    // brand-year window re-sum is decimal→decimal exact; only the
    // OUTPUT crosses to double (a double→decimal round-trip would hit
    // DuckDB's double-space scaling mis-round — hazard #2)
    val monthly = Tables.lineitem(s, dir)
      .groupBy(($"l_suppkey" % 10).as("brand"),
        year($"l_shipdate").as("y"), month($"l_shipdate").as("m"))
      .agg(sum(graft.plans.GraftExpressions.fastDecimal(
          $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)).as("rev_dec"))
      .withColumn("rev", $"rev_dec".cast("double"))
    val byYear = Window.partitionBy($"brand", $"y")
    val seq0 = Window.partitionBy($"brand").orderBy($"y", $"m")
    monthly
      .withColumn("avg_rev",
        sum($"rev_dec".cast(DecimalType(28, 6))).over(byYear)
          .cast("double") / count(lit(1)).over(byYear))
      .withColumn("prev_rev", lag($"rev", 1).over(seq0))
      .withColumn("next_rev", lead($"rev", 1).over(seq0))
      .filter($"avg_rev" > 0 &&
        abs($"rev" - $"avg_rev") > lit(0.3) * $"avg_rev")
      .select($"brand", $"y", $"m", $"rev", $"avg_rev",
        $"prev_rev", $"next_rev")
      .orderBy($"brand", $"y", $"m")
  }

  val dsDeviationWindowSql: String =
    s"""SELECT brand, y, m, rev, avg_rev, prev_rev, next_rev
       |FROM (
       |  SELECT brand, y, m,
       |    CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS rev,
       |    CAST(CAST(sum(CAST(rev_dec AS DECIMAL(28,6)))
       |        OVER (PARTITION BY brand, y) AS VARCHAR) AS DOUBLE) /
       |      count(*) OVER (PARTITION BY brand, y) AS avg_rev,
       |    lag(CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE), 1)
       |      OVER (PARTITION BY brand ORDER BY y, m) AS prev_rev,
       |    lead(CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE), 1)
       |      OVER (PARTITION BY brand ORDER BY y, m) AS next_rev
       |  FROM (
       |    SELECT l_suppkey % 10 AS brand, year(l_shipdate) AS y,
       |      month(l_shipdate) AS m,
       |      sum(CAST(l_extendedprice * (1.0 - l_discount)
       |        AS DECIMAL(18,6))) AS rev_dec
       |    FROM lineitem GROUP BY 1, 2, 3))
       |WHERE avg_rev > 0 AND abs(rev - avg_rev) > 0.3 * avg_rev
       |ORDER BY brand, y, m""".stripMargin

  /** Returns netting (DS Q93 shape): a synthetic returns fact (the 'R'
    * rows return half their quantity, keyed by (orderkey, linenumber))
    * LEFT OUTER joined back to sales; net quantity per customer, top 10.
    * The join is key-equi on the sales key — one co-partitioned shuffle
    * pair, at most one return row per sale. All quantities integral. */
  def dsReturnsNet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sales = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_custkey",
        $"l_quantity".cast("long").as("qty"))
    val returns = Tables.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("r_orderkey"),
        $"l_linenumber".as("r_linenumber"),
        ($"l_quantity".cast("long") / 2).cast("long").as("ret_qty"))
    sales
      .join(returns, $"l_orderkey" === $"r_orderkey" &&
        $"l_linenumber" === $"r_linenumber", "left")
      .groupBy($"o_custkey")
      .agg(sum($"qty" - coalesce($"ret_qty", lit(0L))).as("net_qty"),
        count($"ret_qty").as("n_returned"))
      .withColumn("rnk", row_number().over(
        Window.orderBy($"net_qty".desc, $"o_custkey")))
      .filter($"rnk" <= 10)
      .select($"rnk".cast("long").as("rnk"), $"o_custkey", $"net_qty",
        $"n_returned")
      .orderBy($"rnk")
  }

  val dsReturnsNetSql: String =
    """SELECT rnk, o_custkey, net_qty, n_returned
      |FROM (
      |  SELECT o_custkey, net_qty, n_returned, row_number() OVER (
      |      ORDER BY net_qty DESC, o_custkey) AS rnk
      |  FROM (
      |    SELECT o_custkey,
      |      CAST(sum(qty - COALESCE(ret_qty, 0)) AS BIGINT) AS net_qty,
      |      count(ret_qty) AS n_returned
      |    FROM (
      |      SELECT s.o_custkey, s.qty, r.ret_qty
      |      FROM (SELECT l_orderkey, l_linenumber, o_custkey,
      |              CAST(l_quantity AS BIGINT) AS qty
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey) s
      |      LEFT JOIN (SELECT l_orderkey, l_linenumber,
      |                   CAST(l_quantity AS BIGINT) // 2 AS ret_qty
      |                 FROM lineitem WHERE l_returnflag = 'R') r
      |        ON s.l_orderkey = r.l_orderkey
      |       AND s.l_linenumber = r.l_linenumber)
      |    GROUP BY o_custkey))
      |WHERE rnk <= 10 ORDER BY rnk""".stripMargin

  /** Rollup + rank-within-grouping-level (DS Q36 shape): discounted/
    * gross revenue ratio at (returnflag, linestatus), per-flag
    * subtotal, and grand total in one ROLLUP, then each linestatus
    * ranked INSIDE its flag by ratio — the rank partitions on the
    * GROUPING level, Q36's lochierarchy trick. */
  def dsMarginRollupRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rolled = Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(
        sum(graft.plans.GraftExpressions.fastDecimal(
            $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)).as("disc_dec"),
        sum(graft.plans.GraftExpressions.fastDecimal($"l_extendedprice", 18, 6)).as("gross_dec"),
        grouping_id().as("lochierarchy"))
      .select($"l_returnflag", $"l_linestatus",
        $"lochierarchy".cast("long").as("lochierarchy"),
        ($"disc_dec".cast("double") / $"gross_dec".cast("double"))
          .as("ratio"))
    rolled
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"lochierarchy", $"l_returnflag")
          .orderBy($"ratio", $"l_linestatus")))
      .select($"lochierarchy", $"l_returnflag", $"l_linestatus",
        $"ratio", $"rnk".cast("long").as("rnk"))
      .orderBy($"lochierarchy".desc, $"l_returnflag".asc_nulls_first,
        $"rnk", $"l_linestatus".asc_nulls_first)
  }

  val dsMarginRollupRankSql: String =
    """SELECT lochierarchy, l_returnflag, l_linestatus, ratio,
      |  row_number() OVER (PARTITION BY lochierarchy, l_returnflag
      |    ORDER BY ratio, l_linestatus) AS rnk
      |FROM (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(grouping(l_returnflag) AS BIGINT) * 2
      |      + CAST(grouping(l_linestatus) AS BIGINT) AS lochierarchy,
      |    CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |        AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
      |        AS VARCHAR) AS DOUBLE) AS ratio
      |  FROM lineitem
      |  GROUP BY ROLLUP (l_returnflag, l_linestatus))
      |ORDER BY lochierarchy DESC, l_returnflag ASC NULLS FIRST, rnk,
      |  l_linestatus ASC NULLS FIRST""".stripMargin

  /** Cross-channel tolerance (DS Q58 shape): per-part revenue split
    * across three synthetic channels (linenumber mod 3); keep parts
    * where EVERY channel sits within ±20% of the three-channel
    * average. The tolerance test is integer-scaled decimal
    * (15·r_i vs 4·S and 6·S, since 0.8·S/3 = 4S/15) so no decimal
    * division or double rounding can disagree between engines. */
  def dsCrossChannelTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def chan(k: Int) =
      sum(when($"l_linenumber" % 3 === k,
        graft.plans.GraftExpressions.fastDecimal(
            $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)).otherwise(lit(null)))
    val perPart = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(coalesce(chan(0), lit(0).cast(DecimalType(18, 6))).as("r0"),
        coalesce(chan(1), lit(0).cast(DecimalType(18, 6))).as("r1"),
        coalesce(chan(2), lit(0).cast(DecimalType(18, 6))).as("r2"))
    val s3 = ($"r0" + $"r1" + $"r2").cast(DecimalType(28, 6))
    def within(r: org.apache.spark.sql.Column) = {
      val r15 = (r.cast(DecimalType(28, 6)) * 15).cast(DecimalType(38, 6))
      r15 >= (s3 * 4).cast(DecimalType(38, 6)) &&
        r15 <= (s3 * 6).cast(DecimalType(38, 6))
    }
    perPart
      .filter(within($"r0") && within($"r1") && within($"r2"))
      .select($"l_partkey", $"r0".cast("double").as("r0"),
        $"r1".cast("double").as("r1"), $"r2".cast("double").as("r2"))
      .orderBy($"l_partkey")
  }

  val dsCrossChannelToleranceSql: String =
    """SELECT l_partkey,
      |  CAST(CAST(r0 AS VARCHAR) AS DOUBLE) AS r0,
      |  CAST(CAST(r1 AS VARCHAR) AS DOUBLE) AS r1,
      |  CAST(CAST(r2 AS VARCHAR) AS DOUBLE) AS r2
      |FROM (
      |  SELECT l_partkey,
      |    CAST(COALESCE(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) FILTER (l_linenumber % 3 = 0),
      |      0) AS DECIMAL(18,6)) AS r0,
      |    CAST(COALESCE(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) FILTER (l_linenumber % 3 = 1),
      |      0) AS DECIMAL(18,6)) AS r1,
      |    CAST(COALESCE(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) FILTER (l_linenumber % 3 = 2),
      |      0) AS DECIMAL(18,6)) AS r2
      |  FROM lineitem GROUP BY l_partkey)
      |WHERE r0 * 15 >= (r0 + r1 + r2) * 4
      |  AND r0 * 15 <= (r0 + r1 + r2) * 6
      |  AND r1 * 15 >= (r0 + r1 + r2) * 4
      |  AND r1 * 15 <= (r0 + r1 + r2) * 6
      |  AND r2 * 15 >= (r0 + r1 + r2) * 4
      |  AND r2 * 15 <= (r0 + r1 + r2) * 6
      |ORDER BY l_partkey""".stripMargin

  /** Cross-channel growth comparison (DS Q31 shape): quarterly 1997
    * revenue per nation in two synthetic channels (linenumber parity);
    * keep (nation, quarter-transition)s where the web channel grew
    * FASTER than the store channel. The growth comparison
    * web_next/web_prev > store_next/store_prev is evaluated
    * DIVISION-FREE as web_next·store_prev > store_next·web_prev over
    * exact decimals (both prevs required positive), so no rounding can
    * flip a boundary nation on either engine. */
  def dsGrowthCompare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // integer micro-units: (18,6) decimals scale exactly to DECIMAL(19,0)
    // integers, whose products stay scale-0 under Spark's precision cap
    // (no scale digits exist to round) and under DuckDB's 38-digit limit
    def iu(c: org.apache.spark.sql.Column) =
      (c * lit(1000000L)).cast(DecimalType(19, 0))
    val q = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .filter(year($"l_shipdate") === 1997)
      .groupBy($"n_name", quarter($"l_shipdate").as("qtr"))
      .agg(
        coalesce(sum(when($"l_linenumber" % 2 === 0,
          graft.plans.GraftExpressions.fastDecimal(
              $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6))), lit(0).cast(DecimalType(18, 6)))
          .as("web"),
        coalesce(sum(when($"l_linenumber" % 2 === 1,
          graft.plans.GraftExpressions.fastDecimal(
              $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6))), lit(0).cast(DecimalType(18, 6)))
          .as("store"))
    val w = Window.partitionBy($"n_name").orderBy($"qtr")
    q.withColumn("web_prev", lag($"web", 1).over(w))
      .withColumn("store_prev", lag($"store", 1).over(w))
      .filter($"web_prev".isNotNull && $"web_prev" > 0 &&
        $"store_prev" > 0 &&
        iu($"web") * iu($"store_prev") >
          iu($"store") * iu($"web_prev"))
      .select($"n_name", $"qtr".cast("long").as("qtr"),
        $"web_prev".cast("double").as("web_prev"),
        $"web".cast("double").as("web"),
        $"store_prev".cast("double").as("store_prev"),
        $"store".cast("double").as("store"))
      .orderBy($"n_name", $"qtr")
  }

  val dsGrowthCompareSql: String =
    """SELECT n_name, qtr,
      |  CAST(CAST(web_prev AS VARCHAR) AS DOUBLE) AS web_prev,
      |  CAST(CAST(web AS VARCHAR) AS DOUBLE) AS web,
      |  CAST(CAST(store_prev AS VARCHAR) AS DOUBLE) AS store_prev,
      |  CAST(CAST(store AS VARCHAR) AS DOUBLE) AS store
      |FROM (
      |  SELECT n_name, qtr, web, store,
      |    lag(web, 1) OVER (PARTITION BY n_name ORDER BY qtr) AS web_prev,
      |    lag(store, 1) OVER (PARTITION BY n_name ORDER BY qtr) AS store_prev
      |  FROM (
      |    SELECT n_name, CAST(quarter(l_shipdate) AS BIGINT) AS qtr,
      |      CAST(COALESCE(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |        AS DECIMAL(18,6))) FILTER (l_linenumber % 2 = 0), 0)
      |        AS DECIMAL(18,6)) AS web,
      |      CAST(COALESCE(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |        AS DECIMAL(18,6))) FILTER (l_linenumber % 2 = 1), 0)
      |        AS DECIMAL(18,6)) AS store
      |    FROM lineitem
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ON c_nationkey = n_nationkey
      |    WHERE year(l_shipdate) = 1997
      |    GROUP BY 1, 2))
      |WHERE web_prev IS NOT NULL AND web_prev > 0 AND store_prev > 0
      |  AND CAST(CAST(web AS DECIMAL(28,6)) * 1000000 AS DECIMAL(19,0))
      |      * CAST(CAST(store_prev AS DECIMAL(28,6)) * 1000000 AS DECIMAL(19,0))
      |    > CAST(CAST(store AS DECIMAL(28,6)) * 1000000 AS DECIMAL(19,0))
      |      * CAST(CAST(web_prev AS DECIMAL(28,6)) * 1000000 AS DECIMAL(19,0))
      |ORDER BY n_name, qtr""".stripMargin

  /** Wide monthly shipping report (DS Q66 shape): 12 month × 2
    * ship-band conditional sums in ONE scan — 24 FILTER aggregates
    * instead of 24 subqueries; one (nation, year)-keyed shuffle. */
  def dsMonthlyPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def m(mo: Int, lowQty: Boolean) = {
      val base = month($"l_shipdate") === mo &&
        (if (lowQty) $"l_quantity" < 26 else $"l_quantity" >= 26)
      sum(when(base, graft.plans.GraftExpressions.fastDecimal(
          $"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6))).cast("double")
    }
    val cols = (1 to 12).flatMap { mo =>
      Seq(m(mo, lowQty = true).as(f"low_m$mo%02d"),
        m(mo, lowQty = false).as(f"high_m$mo%02d"))
    }
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .filter(year($"l_shipdate") === 1996)
      .groupBy($"n_name")
      .agg(cols.head, cols.tail: _*)
      .orderBy($"n_name")
  }

  val dsMonthlyPivotSql: String = {
    val cols = (1 to 12).flatMap { mo =>
      Seq(
        s"""  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
           |    AS DECIMAL(18,6)))
           |    FILTER (month(l_shipdate) = $mo AND l_quantity < 26)
           |    AS VARCHAR) AS DOUBLE) AS low_m${"%02d".format(mo)}""".stripMargin,
        s"""  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
           |    AS DECIMAL(18,6)))
           |    FILTER (month(l_shipdate) = $mo AND l_quantity >= 26)
           |    AS VARCHAR) AS DOUBLE) AS high_m${"%02d".format(mo)}""".stripMargin)
    }.mkString(",\n")
    s"""SELECT n_name,
       |$cols
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE year(l_shipdate) = 1996
       |GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  /** Return-rate ranking (DS Q49 shape): per synthetic channel
    * (linenumber mod 3), each part's returned-vs-shipped quantity
    * ratio, top 5 per channel. Quantities are integral, so the rate is
    * one exact-operand IEEE division; equal doubles tie-break on
    * partkey identically in both engines. */
  def dsReturnRateRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.lineitem(s, dir)
      .groupBy(($"l_linenumber" % 3).cast("long").as("channel"),
        $"l_partkey")
      .agg(
        sum(when($"l_returnflag" === "R", $"l_quantity".cast("long"))
          .otherwise(lit(0L))).as("ret_qty"),
        sum($"l_quantity".cast("long")).as("tot_qty"))
      .filter($"tot_qty" >= 100)
      .withColumn("rate",
        $"ret_qty".cast("double") / $"tot_qty".cast("double"))
    per.withColumn("rnk", row_number().over(
        Window.partitionBy($"channel")
          .orderBy($"rate".desc, $"l_partkey")))
      .filter($"rnk" <= 5)
      .select($"channel", $"rnk".cast("long").as("rnk"), $"l_partkey",
        $"ret_qty", $"tot_qty", $"rate")
      .orderBy($"channel", $"rnk")
  }

  val dsReturnRateRankSql: String =
    """SELECT channel, rnk, l_partkey, ret_qty, tot_qty, rate
      |FROM (
      |  SELECT channel, l_partkey, ret_qty, tot_qty, rate,
      |    row_number() OVER (PARTITION BY channel
      |      ORDER BY rate DESC, l_partkey) AS rnk
      |  FROM (
      |    SELECT channel, l_partkey, ret_qty, tot_qty,
      |      CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE) AS rate
      |    FROM (
      |      SELECT CAST(l_linenumber % 3 AS BIGINT) AS channel, l_partkey,
      |        CAST(sum(CASE WHEN l_returnflag = 'R'
      |          THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |          AS ret_qty,
      |        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty
      |      FROM lineitem GROUP BY 1, 2)
      |    WHERE tot_qty >= 100))
      |WHERE rnk <= 5 ORDER BY channel, rnk""".stripMargin

  /** PDS-DS Q23 shape (pdsds_queries/q23): revenue from FREQUENT items
    * bought by BEST customers. Frequent = parts whose distinct-order
    * count exceeds 1.2× the per-part average (the integer-exact
    * cross-multiplied form `5·n_ord·n_parts > 6·total_ord_pairs`, so no
    * float threshold can flip a boundary part between engines); best =
    * customers whose total quantity exceeds half the maximum customer
    * total (Q23's `> 50/100 · max(csales)` predicate, decimal-exact).
    * Both qualifier sets are aggregate-sized (≤ |parts| / ≤ |customers|
    * rows, two columns) and enter the final pass as BROADCAST semi
    * joins — the fact table is scanned, never shuffled on a new key.
    * The per-part and per-customer qualifier aggregates are each one
    * key-shuffle of pre-combined partials. */
  def dsFrequentBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val fact = li.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
    // frequent parts: distinct-order count vs 1.2x the average, exact
    val perPart = li.groupBy($"l_partkey")
      .agg(countDistinct($"l_orderkey").as("n_ord"))
    val totals = perPart.agg(count(lit(1)).as("n_parts"),
      sum($"n_ord").as("tot_ord"))
    val freq = perPart.join(broadcast(totals),
        $"n_ord" * $"n_parts" * 5 > $"tot_ord" * 6)
      .select($"l_partkey".as("fp_partkey"))
    // best customers: total quantity > 0.5 * max customer total (integer qty)
    val perCust = fact.groupBy($"o_custkey")
      .agg(sum($"l_quantity".cast("bigint")).as("cust_qty"))
    val maxQty = perCust.agg(max($"cust_qty").as("max_qty"))
    val best = perCust.join(broadcast(maxQty),
        $"cust_qty" * 2 > $"max_qty")
      .select($"o_custkey".as("bc_custkey"))
    fact
      .join(broadcast(freq), $"l_partkey" === $"fp_partkey", "left_semi")
      .join(broadcast(best), $"o_custkey" === $"bc_custkey", "left_semi")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"))
      .orderBy($"o_year")
  }

  val dsFrequentBestSql: String =
    s"""WITH per_part AS (
       |  SELECT l_partkey, count(DISTINCT l_orderkey) AS n_ord
       |  FROM lineitem GROUP BY l_partkey),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
       |               CAST(sum(n_ord) AS BIGINT) AS tot_ord FROM per_part),
       |freq AS (
       |  SELECT l_partkey FROM per_part, tot
       |  WHERE n_ord * n_parts * 5 > tot_ord * 6),
       |per_cust AS (
       |  SELECT o_custkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
       |    AS cust_qty
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey),
       |mx AS (SELECT max(cust_qty) AS max_qty FROM per_cust),
       |best AS (SELECT o_custkey FROM per_cust, mx
       |         WHERE cust_qty * 2 > max_qty)
       |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       |  count(*) AS n_lines,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_partkey IN (SELECT l_partkey FROM freq)
       |  AND o_custkey IN (SELECT o_custkey FROM best)
       |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** PDS-DS Q39 shape (pdsds_queries/q39): per (part, ship-month)
    * demand mean / stdev / coefficient of variation, keep high-variance
    * cells (cov > 0.55), then self-join CONSECUTIVE months per part —
    * the "unstable demand two months running" inventory audit. All
    * moments come from pure BIGINT sums (quantity is integral), so the
    * doubles both engines derive are bit-identical; the consecutive-
    * month join is equi on (partkey, month+1) — a key shuffle of
    * aggregate-sized rows only, never the fact table. */
  def dsDemandCov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mo = (year($"l_shipdate") * 12 + month($"l_shipdate") - 1)
      .cast("long")
    val cells = Tables.lineitem(s, dir)
      .groupBy($"l_partkey", mo.as("mo"))
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("bigint")).as("s"),
        sum(($"l_quantity" * $"l_quantity").cast("bigint")).as("ssq"))
      .filter($"n" > 1)
      .withColumn("mean", $"s".cast("double") / $"n")
      .withColumn("cov",
        sqrt(($"n" * $"ssq" - $"s" * $"s").cast("double") /
          ($"n" * ($"n" - 1))) / $"mean")
      .filter($"cov" > 0.55)
      .select($"l_partkey", $"mo", $"cov")
    cells.as("a")
      .join(cells.as("b"),
        $"a.l_partkey" === $"b.l_partkey" && $"b.mo" === $"a.mo" + 1)
      .select($"a.l_partkey".as("l_partkey"), $"a.mo".as("mo1"),
        $"a.cov".as("cov1"), $"b.cov".as("cov2"))
      .orderBy($"l_partkey", $"mo1")
  }

  val dsDemandCovSql: String =
    """WITH cells AS (
      |  SELECT l_partkey,
      |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS mo,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
      |    CAST(sum(CAST(l_quantity * l_quantity AS BIGINT)) AS BIGINT) AS ssq
      |  FROM lineitem GROUP BY 1, 2),
      |cov AS (
      |  SELECT l_partkey, mo,
      |    sqrt(CAST(n * ssq - s * s AS DOUBLE) / (n * (n - 1)))
      |      / (CAST(s AS DOUBLE) / n) AS cov
      |  FROM cells WHERE n > 1)
      |SELECT a.l_partkey AS l_partkey, a.mo AS mo1,
      |  a.cov AS cov1, b.cov AS cov2
      |FROM cov a JOIN cov b
      |  ON a.l_partkey = b.l_partkey AND b.mo = a.mo + 1
      |WHERE a.cov > 0.55 AND b.cov > 0.55
      |ORDER BY l_partkey, mo1""".stripMargin

  /** PDS-DS Q87 shape (pdsds_queries/q87): customers present in the
    * first behavioral segment but in NEITHER of the other two (bulk
    * buyers who never saw a double-digit discount nor high tax) — the
    * EXCEPT-chain twin of [[dsAllChannelCustomers]]'s INTERSECT. Each
    * leg reduces to a distinct custkey set before combining
    * (aggregate-sized set ops, one key-shuffle each); the dimension
    * joins are broadcast. */
  def dsExceptCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
    def leg(pred: org.apache.spark.sql.Column) =
      fact.filter(pred).select($"o_custkey").distinct()
    val only = leg($"l_quantity" > 48)
      .except(leg($"l_discount" >= 0.10))
      .except(leg($"l_tax" >= 0.08))
    only
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_name")
  }

  val dsExceptCustomersSql: String =
    """WITH f AS (
      |  SELECT o_custkey, l_quantity, l_discount, l_tax
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |solo AS (
      |  SELECT DISTINCT o_custkey FROM f WHERE l_quantity > 48
      |  EXCEPT SELECT DISTINCT o_custkey FROM f WHERE l_discount >= 0.10
      |  EXCEPT SELECT DISTINCT o_custkey FROM f WHERE l_tax >= 0.08)
      |SELECT n_name, count(*) AS n_customers
      |FROM solo
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** PDS-DS Q28 shape (pdsds_queries/q28): per-band count / DISTINCT
    * count / average over OVERLAPPING predicate bands (quantity range
    * AND (price-range OR discount-range)), fused into ONE scan — a row
    * can satisfy several bands, so this is conditional aggregation,
    * not a groupBy. The four `count(DISTINCT when(band, price))`
    * children plan as one Expand(×5) over the single scan — the
    * engine-standard multi-distinct rewrite: 5× intermediate rows but
    * still one pass and one shuffle, vs Q28's naive six scans.
    * Averages are exact decimal sums divided once. */
  def dsBandDistincts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val price = $"l_extendedprice"
    def band(qLo: Int, qHi: Int, pLo: Int, pHi: Int, dLo: Double) =
      $"l_quantity".between(qLo, qHi) &&
        (price.between(pLo, pHi) || $"l_discount" >= dLo)
    val bands = Seq(
      "b1" -> band(1, 10, 1000, 20000, 0.09),
      "b2" -> band(11, 20, 20000, 40000, 0.08),
      "b3" -> band(21, 35, 40000, 70000, 0.07),
      "b4" -> band(36, 50, 70000, 100000, 0.06))
    val aggs = bands.flatMap { case (n, p) =>
      Seq(
        count(when(p, price)).as(s"${n}_n"),
        countDistinct(when(p, price)).as(s"${n}_nd"),
        (dsum(when(p, price), 6) /
          count(when(p, price)).cast("double")).as(s"${n}_avg"))
    }
    li.agg(aggs.head, aggs.tail: _*)
  }

  val dsBandDistinctsSql: String = {
    def b(qLo: Int, qHi: Int, pLo: Int, pHi: Int, dLo: Double) =
      s"(l_quantity BETWEEN $qLo AND $qHi AND " +
        s"(l_extendedprice BETWEEN $pLo AND $pHi OR l_discount >= $dLo))"
    val preds = Seq(
      "b1" -> b(1, 10, 1000, 20000, 0.09),
      "b2" -> b(11, 20, 20000, 40000, 0.08),
      "b3" -> b(21, 35, 40000, 70000, 0.07),
      "b4" -> b(36, 50, 70000, 100000, 0.06))
    val cols = preds.map { case (n, p) =>
      val cse = s"CASE WHEN $p THEN l_extendedprice END"
      s"""  CAST(count($cse) AS BIGINT) AS ${n}_n,
         |  CAST(count(DISTINCT $cse) AS BIGINT) AS ${n}_nd,
         |  (${dsumSql(cse, 6)} / CAST(count($cse) AS DOUBLE)) AS ${n}_avg"""
        .stripMargin
    }.mkString(",\n")
    s"SELECT\n$cols\nFROM lineitem"
  }

  /** PDS-DS Q44 shape (pdsds_queries/q44): best-10 and worst-10 parts
    * by average order quantity, paired by rank position — the
    * two-ended leaderboard. Each end is a TakeOrderedAndProject
    * partial top-k (no global sort of the per-part aggregate); the
    * 10-row heads then get rank indexes in a single trivial partition
    * and pair by rank. Ordering key is one IEEE division of exact
    * BIGINT sums (identical both engines), partkey tie-broken. */
  def dsTwoEndedRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perPart = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(sum($"l_quantity".cast("bigint")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("avg_qty", $"s".cast("double") / $"n")
    def head10(asc: Boolean) = {
      val sorted =
        if (asc) perPart.orderBy($"avg_qty".asc, $"l_partkey")
        else perPart.orderBy($"avg_qty".desc, $"l_partkey")
      val w =
        if (asc) Window.orderBy($"avg_qty".asc, $"l_partkey")
        else Window.orderBy($"avg_qty".desc, $"l_partkey")
      sorted.limit(10).withColumn("rnk", row_number().over(w))
    }
    head10(asc = false)
      .select($"rnk", $"l_partkey".as("best_part"),
        $"avg_qty".as("best_avg"))
      .join(head10(asc = true)
        .select($"rnk", $"l_partkey".as("worst_part"),
          $"avg_qty".as("worst_avg")), Seq("rnk"))
      .orderBy($"rnk")
  }

  val dsTwoEndedRankSql: String =
    """WITH pp AS (
      |  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |      AS s, CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY l_partkey),
      |av AS (SELECT l_partkey, CAST(s AS DOUBLE) / n AS avg_qty FROM pp),
      |best AS (
      |  SELECT row_number() OVER (ORDER BY avg_qty DESC, l_partkey) AS rnk,
      |    l_partkey AS best_part, avg_qty AS best_avg FROM av),
      |worst AS (
      |  SELECT row_number() OVER (ORDER BY avg_qty ASC, l_partkey) AS rnk,
      |    l_partkey AS worst_part, avg_qty AS worst_avg FROM av)
      |SELECT rnk, best_part, best_avg, worst_part, worst_avg
      |FROM best JOIN worst USING (rnk)
      |WHERE rnk <= 10 ORDER BY rnk""".stripMargin

  /** DS Q35/Q69 family — the OR-of-EXISTS decorrelation shape: report
    * customers with any pre-1997 order AND a disjunctive existential
    * over two "channels" (urgent-priority vs low-priority orders).
    * Written as SQL EXISTS-in-disjunction ON PURPOSE: Catalyst's
    * RewritePredicateSubquery turns the conjunctive EXISTS into a
    * left-semi join and the two disjunctive EXISTS into ExistenceJoin
    * mark-joins OR-ed in a post-join filter — three hash joins on
    * o_custkey, no cartesian, each probe side pre-filtered before the
    * shuffle (PLANS.md carries the formatted plan). */
  def dsOrExists(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_oe_cust")
    Tables.orders(s, dir).createOrReplaceTempView("graft_oe_ord")
    s.sql("""
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM graft_oe_cust c
      WHERE EXISTS (SELECT 1 FROM graft_oe_ord o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
        AND (EXISTS (SELECT 1 FROM graft_oe_ord o2
                     WHERE o2.o_custkey = c.c_custkey
                       AND o2.o_orderpriority = '1-URGENT')
          OR EXISTS (SELECT 1 FROM graft_oe_ord o3
                     WHERE o3.o_custkey = c.c_custkey
                       AND o3.o_orderpriority = '5-LOW'))
      GROUP BY c_nationkey ORDER BY c_nationkey""")
  }

  val dsOrExistsSql: String =
    s"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
       |  ${dsumSql("c_acctbal", 4)} AS sum_bal
       |FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o
       |              WHERE o.o_custkey = c.c_custkey
       |                AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
       |  AND (EXISTS (SELECT 1 FROM orders o2
       |               WHERE o2.o_custkey = c.c_custkey
       |                 AND o2.o_orderpriority = '1-URGENT')
       |    OR EXISTS (SELECT 1 FROM orders o3
       |               WHERE o3.o_custkey = c.c_custkey
       |                 AND o3.o_orderpriority = '5-LOW'))
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Resale chain (DS Q64 shape, pdsds_queries/q64): parts sold
    * through the URGENT channel in 1996 and RESOLD through the
    * standard channel in 1997 at least as many times — a fact⋈fact
    * self-join through the shared part dimension with TWO-SIDED
    * aggregation. The Q64 discipline this gate pins (PLANS.md): each
    * channel-year slice reduces to a |parts|-row aggregate BEFORE the
    * fact-fact join, so at 100 TB the fact is scanned twice with the
    * year/priority filters pushed to parquet, each side combines
    * map-side into its partkey aggregate, and the resale join + the
    * part-dimension lookup run over aggregate-sized frames (broadcast
    * under AQE) — raw fact rows never reach a join exchange. Revenue
    * goes through decimal so the two engines' sum order can't skew
    * doubles; the qty condition is exact BIGINT. */
  def dsResaleChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Seq("1-URGENT", "2-HIGH")
    def side(yr: Int, inUrgent: Boolean, tag: String) = {
      val pri = $"o_orderpriority".isin(urgent: _*)
      // range predicate, not year(): it reaches the parquet scan as a
      // PushedFilter (row-group skip + partition pruning at scale)
      val ord = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit(s"$yr-01-01").cast("timestamp") &&
          $"o_orderdate" < lit(s"${yr + 1}-01-01").cast("timestamp") &&
          (if (inUrgent) pri else !pri))
        .select($"o_orderkey")
      Tables.lineitem(s, dir)
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as(s"${tag}_n"),
          sum($"l_quantity".cast("bigint")).as(s"${tag}_qty"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
            .as(s"${tag}_rev"))
    }
    val first = side(1996, inUrgent = true, "sale")
    val resale = side(1997, inUrgent = false, "resale")
    first.join(resale, Seq("l_partkey"))
      .filter($"resale_n" >= $"sale_n")
      .join(Tables.part(s, dir)
        .select($"p_partkey", $"p_brand", $"p_type"),
        $"l_partkey" === $"p_partkey")
      .select($"l_partkey".as("partkey"), $"p_brand", $"p_type",
        $"sale_n", $"sale_qty", $"sale_rev",
        $"resale_n", $"resale_qty", $"resale_rev")
      .orderBy($"partkey")
  }

  val dsResaleChainSql: String = {
    def side(yr: Int, op: String, tag: String) =
      s"""  SELECT l_partkey,
         |    CAST(count(*) AS BIGINT) AS ${tag}_n,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ${tag}_qty,
         |    ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)}
         |      AS ${tag}_rev
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderdate >= TIMESTAMP '$yr-01-01 00:00:00'
         |    AND o_orderdate < TIMESTAMP '${yr + 1}-01-01 00:00:00'
         |    AND o_orderpriority $op ('1-URGENT','2-HIGH')
         |  GROUP BY 1""".stripMargin
    s"""WITH sale AS (
       |${side(1996, "IN", "sale")}),
       |resale AS (
       |${side(1997, "NOT IN", "resale")})
       |SELECT l_partkey AS partkey, p_brand, p_type,
       |  sale_n, sale_qty, sale_rev, resale_n, resale_qty, resale_rev
       |FROM sale JOIN resale USING (l_partkey)
       |JOIN part ON l_partkey = p_partkey
       |WHERE resale_n >= sale_n
       |ORDER BY partkey""".stripMargin
  }

  override def gates: Seq[Gate] = Seq(
    Gate("ds_resale_chain", dsResaleChain, dsResaleChainSql),
    Gate("ds_or_exists", dsOrExists, dsOrExistsSql),
    Gate("ds_frequent_best", dsFrequentBest, dsFrequentBestSql),
    Gate("ds_band_distincts", dsBandDistincts, dsBandDistinctsSql),
    Gate("ds_two_ended_rank", dsTwoEndedRank, dsTwoEndedRankSql),
    Gate("ds_demand_cov", dsDemandCov, dsDemandCovSql),
    Gate("ds_except_customers", dsExceptCustomers, dsExceptCustomersSql),
    Gate("ds_monthly_pivot", dsMonthlyPivot, dsMonthlyPivotSql),
    Gate("ds_return_rate_rank", dsReturnRateRank, dsReturnRateRankSql),
    Gate("ds_growth_compare", dsGrowthCompare, dsGrowthCompareSql),
    Gate("ds_deviation_window", dsDeviationWindow, dsDeviationWindowSql),
    Gate("ds_returns_net", dsReturnsNet, dsReturnsNetSql),
    Gate("ds_margin_rollup_rank", dsMarginRollupRank, dsMarginRollupRankSql),
    Gate("ds_cross_channel_tolerance", dsCrossChannelTolerance, dsCrossChannelToleranceSql),
    Gate("ds_timeband_counts", dsTimebandCounts, dsTimebandCountsSql),
    Gate("ds_sequential_purchase", dsSequentialPurchase, dsSequentialPurchaseSql),
    Gate("ds_union_weekday", dsUnionWeekday, dsUnionWeekdaySql),
    Gate("ds_exists_chain", dsExistsChain, dsExistsChainSql),
    Gate("ds_market_share_window", dsMarketShareWindow, dsMarketShareWindowSql),
    Gate("ds_all_channel_customers", dsAllChannelCustomers, dsAllChannelCustomersSql),
    Gate("ds_regression", dsRegression, dsRegressionSql),
    Gate("ds_basket_pairs", dsBasketPairs, dsBasketPairsSql),
    Gate("ds_moving_avg", dsMovingAvg, dsMovingAvgSql),
    Gate("ds_rollup_ranking", dsRollupRanking, dsRollupRankingSql),
    Gate("ds_cumulative_compare", dsCumulativeCompare, dsCumulativeCompareSql),
    Gate("ds_sales_ranking", dsSalesRanking, dsSalesRankingSql),
    Gate("ds_yoy_growth", dsYoyGrowth, dsYoyGrowthSql),
    Gate("ds_week_matrix", dsWeekMatrix, dsWeekMatrixSql),
    Gate("ds_multi_band", dsMultiBand, dsMultiBandSql),
    Gate("ds_cohort_retention", dsCohortRetention, dsCohortRetentionSql),
    Gate("ds_channel_report", dsChannelReport, dsChannelReportSql),
    Gate("ds_repeat_customers", dsRepeatCustomers, dsRepeatCustomersSql),
    Gate("ds_no_returns", dsNoReturns, dsNoReturnsSql),
    Gate("ds_returns_above_avg", dsReturnsAboveAvg, dsReturnsAboveAvgSql),
    Gate("ds_channel_coverage", dsChannelCoverage, dsChannelCoverageSql),
    Gate("ds_in_all_channels", dsInAllChannels, dsInAllChannelsSql),
    Gate("ds_having_threshold", dsHavingThreshold, dsHavingThresholdSql),
    Gate("ds_multi_fact_rollup", dsMultiFactRollup, dsMultiFactRollupSql),
    Gate("ds_excess_discount", dsExcessDiscount, dsExcessDiscountSql))
}
