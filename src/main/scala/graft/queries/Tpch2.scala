package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryPack._

/** Second TPC-H analog pack: q7/q8/q15/q16/q21 (q2/q11/q20, which need
  * the partsupp table absent from this schema, live in [[Tpch3]] over a
  * lineitem-derived part-supplier relation — all 22 TPC-H shapes are
  * covered across the three packs). Columns missing from the driver
  * schema (commitdate/receiptdate, comments) are replaced by
  * deterministic analogs, keeping the PLAN SHAPE (the thing being
  * tested) intact.
  */
object Tpch2 extends QueryPack {

  /** Q7 volume shipping: revenue between two nations by year — join
    * chain with two nation aliases and a symmetric pair filter. */
  def q7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables.nation(s, dir)
      .select($"n_nationkey".as("n1_key"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select($"n_nationkey".as("n2_key"), $"n_name".as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"n1_key")
      .join(broadcast(n2), $"c_nationkey" === $"n2_key")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
              ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  year(l_shipdate) AS l_year,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q8 market share: one nation's share of a region's revenue by year —
    * conditional-sum ratio of exact decimal sums. */
  def q8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val custNation = Tables.nation(s, dir)
      .select($"n_nationkey".as("cn_key"), $"n_regionkey".as("cn_region"))
    val suppNation = Tables.nation(s, dir)
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter($"p_type" === "STANDARD"),
        $"l_partkey" === $"p_partkey")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(custNation), $"c_nationkey" === $"cn_key")
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "EUROPE")),
        $"cn_region" === $"r_regionkey")
      .join(broadcast(suppNation), $"s_nationkey" === $"sn_key")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg((dsum(when($"supp_nation" === "NATION_3",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0), 6) /
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6))
        .as("mkt_share"))
      .orderBy($"o_year")
  }

  val q8Sql: String =
    s"""SELECT year(o_orderdate) AS o_year,
       |  ${dsumSql("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)} /
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS mkt_share
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |JOIN region ON n1.n_regionkey = r_regionkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
       |GROUP BY year(o_orderdate) ORDER BY o_year""".stripMargin

  /** Q15 top supplier: per-supplier period revenue, keep the max —
    * exact-decimal revenue makes the equality-to-max join safe. */
  def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val revenue = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
        .as("total_revenue"))
    val maxRev = revenue.agg(max($"total_revenue").as("max_revenue"))
    revenue.crossJoin(broadcast(maxRev))
      .filter($"total_revenue" === $"max_revenue")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  val q15Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey,
       |    ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** Q16 analog: supplier counts by part attributes, excluding a
    * deterministic "complaints" supplier set via NOT IN (anti join). */
  def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val complaints = Tables.supplier(s, dir)
      .filter($"s_suppkey" % 13 === 0).select($"s_suppkey".as("bad_key"))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
          .filter($"p_brand" =!= "Brand#1" && !$"p_type".startsWith("PROMO") &&
            $"p_size".isin(1, 5, 9, 13, 17, 21, 25, 29)),
        $"l_partkey" === $"p_partkey")
      .join(complaints, $"l_suppkey" === $"bad_key", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND NOT starts_with(p_type, 'PROMO')
      |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_suppkey % 13 = 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q21 analog: suppliers who kept orders waiting — "late" emulated as
    * shipdate > orderdate + 60 days (schema has no commit/receipt dates).
    *
    * The textbook EXISTS/NOT-EXISTS form probes the fact join three times
    * (base + semi + anti → three lineitem scans at 100×). Here both
    * quantifiers are derived from per-order window counts over ONE pass:
    * another-supplier-exists ⟺ order has more lines than this supplier's;
    * no-other-late-supplier ⟺ all the order's late lines are this
    * supplier's. Both window specs cluster on l_orderkey, so Catalyst
    * plans one exchange + one extra sort — single scan, single shuffle. */
  def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wO = Window.partitionBy($"l_orderkey")
    val wOS = Window.partitionBy($"l_orderkey", $"l_suppkey")
    val isLate = when(datediff($"l_shipdate", $"o_orderdate") > 60, 1L)
      .otherwise(0L)
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).filter($"o_orderstatus" === "F"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey", isLate.as("late"))
      .withColumn("ord_lines", count(lit(1)).over(wO))
      .withColumn("ord_late", sum($"late").over(wO))
      .withColumn("supp_lines", count(lit(1)).over(wOS))
      .withColumn("supp_late", sum($"late").over(wOS))
      .filter($"late" === 1L && $"ord_lines" > $"supp_lines" &&
        $"ord_late" === $"supp_late")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
  }

  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE o_orderstatus = 'F'
      |  AND date_diff('day', o_orderdate, l1.l_shipdate) > 60
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND o3.o_orderstatus = 'F'
      |                    AND date_diff('day', o3.o_orderdate, l3.l_shipdate) > 60)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("q7_volume_shipping", q7, q7Sql),
    Gate("q8_market_share", q8, q8Sql),
    Gate("q15_top_supplier", q15, q15Sql),
    Gate("q16_parts_supplier", q16, q16Sql),
    Gate("q21_suppliers_waiting", q21, q21Sql))
}
