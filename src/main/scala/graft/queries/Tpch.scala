package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryPack._

/** TPC-H-shaped headline queries over the driver testdata star schema.
  *
  * Mirrors the reference's NDS-H/PDS-H correctness-benchmark queries
  * (cpp/benchmarks/ndsh/q01.cpp, python/cudf_polars/cudf_polars/streaming/
  * benchmarks/pdsh.py:133-910) re-expressed as Spark DataFrame plans.
  * Dimension joins are broadcast; fact-fact joins shuffle on their keys.
  */
object Tpch extends QueryPack {

  /** Q1 analog: pricing summary. Scan → filter (pushed to parquet) →
    * hash agg (partial+final) → sort. */
  def q1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity", 2).as("sum_qty"),
        dsum($"l_extendedprice", 2).as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"), 6)
          .as("sum_charge"),
        davg($"l_quantity", 2).as("avg_qty"),
        davg($"l_extendedprice", 2).as("avg_price"),
        davg($"l_discount", 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity", 2)} AS sum_qty,
       |  ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
       |  ${davgSql("l_quantity", 2)} AS avg_qty,
       |  ${davgSql("l_extendedprice", 2)} AS avg_price,
       |  ${davgSql("l_discount", 6)} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q3 analog: shipping priority — two shuffled fact joins, broadcast-able
    * customer filter, top-10 by revenue. */
  def q3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter($"l_shipdate" > lit("1998-03-15").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING'
       |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin

  /** Q5 analog: local supplier volume — 5-way join, small dims broadcast. */
  def q5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, dir),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Sql: String =
    s"""SELECT n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** Q6 analog: forecast revenue change — pure scan+filter+agg; the filter
    * must reach the parquet reader as PushedFilters. */
  def q6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
              $"l_discount" >= 0.03 && $"l_discount" <= 0.07 &&
              $"l_quantity" < 24)
      .agg(dsum($"l_extendedprice" * $"l_discount", 6).as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  val q6Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice * l_discount", 6)} AS revenue,
       |  count(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount >= 0.03 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  /** Q10 analog: returned-item reporting — top 20 customers by lost revenue. */
  def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-10-01").cast("timestamp") &&
              $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** Q4 analog: priority counts of orders having a late-shipped item —
    * correlated EXISTS becomes a mixed-condition left-semi join. */
  def q4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    ord.join(Tables.lineitem(s, dir),
        $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate",
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q12 analog: per linestatus, high- vs low-priority line counts in a
    * ship-year — conditional aggregation over a fact-fact join. */
  def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hi = $"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH"
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
              $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_linestatus")
      .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
        sum(when(!hi, 1).otherwise(0)).as("low_line_count"))
      .orderBy($"l_linestatus")
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Q14 analog: promo revenue percentage — two exact-decimal sums whose
    * double quotient is engine-identical. */
  def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1997-06-01").cast("timestamp") &&
              $"l_shipdate" < lit("1997-07-01").cast("timestamp"))
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
      .agg((lit(100.0) *
        dsum(when($"p_type" === "ECONOMY",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0), 6) /
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6))
        .as("promo_revenue_pct"))
  }

  val q14Sql: String =
    s"""SELECT 100.0 *
       |  ${dsumSql("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)} /
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)}
       |  AS promo_revenue_pct
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'""".stripMargin

  /** Q18 analog: large-volume orders — HAVING on a grouped sum, joined
    * back to customers, top 20. */
  def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(dsum($"l_quantity", 2).as("total_qty"))
      .filter($"total_qty" > 150)
    big.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  val q18Sql: String =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
       |FROM (SELECT l_orderkey, ${dsumSql("l_quantity", 2)} AS total_qty
       |      FROM lineitem GROUP BY l_orderkey) big
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE total_qty > 150
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** Q19 analog: disjunctive brand/size/quantity predicates — Catalyst
    * pushes the common join key and keeps the OR as a residual. */
  def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cond =
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) &&
        $"l_quantity".between(1, 11)) ||
      ($"p_brand" === "Brand#2" && $"p_size".between(1, 25) &&
        $"l_quantity".between(10, 20)) ||
      ($"p_brand" === "Brand#3" && $"p_size".between(1, 50) &&
        $"l_quantity".between(20, 30))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
      .filter(cond)
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q19Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
       |  count(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Q9 analog (NDS-H benchmark set): product-type profit by nation and
    * order year. The schema has no partsupp, so supply cost is proxied by
    * p_retailprice — the plan shape (3 fact/dim joins + 2-key agg) is the
    * point. */
  def q9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter($"p_name".contains("o")),
        $"l_partkey" === $"p_partkey")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").as("o_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") -
        $"p_retailprice" * $"l_quantity", 4).as("sum_profit"))
      .orderBy($"n_name", $"o_year".desc)
  }

  val q9Sql: String =
    s"""SELECT n_name, year(o_orderdate) AS o_year,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity", 4)}
       |    AS sum_profit
       |FROM lineitem, part, supplier, orders, nation
       |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
       |  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
       |  AND contains(p_name, 'o')
       |GROUP BY n_name, year(o_orderdate)
       |ORDER BY n_name, o_year DESC""".stripMargin

  /** Q13 analog: customer distribution — left join, per-customer order
    * count, then a count-of-counts histogram. */
  def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(!$"o_orderpriority".startsWith("5")),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND NOT starts_with(o_orderpriority, '5')
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q17 analog: small-quantity-order revenue — the classic correlated
    * avg subquery, expressed as its scalable decorrelated form (per-part
    * aggregate + join; Catalyst's DecorrelateInnerQuery produces the same
    * shape from the SQL). */
  def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The correlated per-part AVG decorrelates into a window over ONE
    // brand-filtered scan (the avg only matters for brand parts, and it
    // ranges over exactly those parts' lineitems either way): one scan
    // + one partkey shuffle, vs the aggregate-then-join form's two
    // scans + a join whose per-part side stops being broadcastable at
    // scale. Window arithmetic mirrors davg(c, 2) term for term.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"l_partkey")
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter($"p_brand" === "Brand#3"),
        $"l_partkey" === $"p_partkey")
      .withColumn("half_avg_qty",
        (sum(graft.plans.GraftExpressions.fastDecimal($"l_quantity", 18, 2)).over(w).cast("double") /
          count($"l_quantity").over(w).cast("double")) * 0.5)
      .filter($"l_quantity" < $"half_avg_qty")
      .agg((dsum($"l_extendedprice", 2) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  val q17Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice", 2)} / 7.0 AS avg_yearly,
       |  count(*) AS n
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |JOIN (SELECT l_partkey AS pk,
       |        ${davgSql("l_quantity", 2)} * 0.5 AS half_avg_qty
       |      FROM lineitem GROUP BY l_partkey) ON l_partkey = pk
       |WHERE p_brand = 'Brand#3' AND l_quantity < half_avg_qty""".stripMargin

  /** Q22 analog: global-sales-opportunity — acctbal above the positive
    * average (scalar subquery) for customers with no orders (anti join),
    * grouped by a derived country code. */
  def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter($"c_acctbal" > 0.0)
      .agg(davg($"c_acctbal", 2).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy(($"c_nationkey" % 10).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum($"c_acctbal", 2).as("totacctbal"))
      .orderBy($"cntrycode")
  }

  val q22Sql: String =
    s"""SELECT c_nationkey % 10 AS cntrycode, count(*) AS numcust,
       |  ${dsumSql("c_acctbal", 2)} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (SELECT ${davgSql("c_acctbal", 2)}
       |                   FROM customer WHERE c_acctbal > 0.0)
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       |GROUP BY c_nationkey % 10 ORDER BY cntrycode""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("q9_product_profit", q9, q9Sql),
    Gate("q13_customer_distribution", q13, q13Sql),
    Gate("q17_small_qty_revenue", q17, q17Sql),
    Gate("q22_global_sales_opportunity", q22, q22Sql),
    Gate("q4_order_priority", q4, q4Sql),
    Gate("q12_shipping_priority_class", q12, q12Sql),
    Gate("q14_promo_revenue", q14, q14Sql),
    Gate("q18_large_orders", q18, q18Sql),
    Gate("q19_disjunctive_filter", q19, q19Sql),
    Gate("q1_pricing_summary", q1, q1Sql),
    Gate("q3_shipping_priority", q3, q3Sql),
    Gate("q5_local_supplier_volume", q5, q5Sql),
    Gate("q6_revenue_change", q6, q6Sql),
    Gate("q10_returned_items", q10, q10Sql))
}
