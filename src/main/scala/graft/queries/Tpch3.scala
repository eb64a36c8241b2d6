package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryPack._

/** Third TPC-H analog pack: q2 / q11 / q20 — the three shapes that need
  * the partsupp table, which the driver schema lacks. The pack derives
  * a part-supplier relation from lineitem's observed (partkey, suppkey)
  * pairs (supplycost = cheapest observed unit price, availqty = total
  * quantity shipped) so the PLAN SHAPES the originals exercise survive:
  *
  *  - q2: correlated per-part MIN subquery, decorrelated into a single
  *    window over the joined frame (no re-join, no second scan);
  *  - q11: global scalar threshold vs per-group aggregate — the scalar
  *    is rolled up FROM the per-part aggregate, so both branches share
  *    one exchange (ReusedExchange) instead of re-scanning the fact;
  *  - q20: nested EXISTS chain (part filter → per-(part,supp) shipped
  *    quantity → threshold → supplier semi-join).
  *
  * All float aggregation goes through the decimal-exact dsum helpers
  * (driver hash contract); every query ends in a total ORDER BY.
  */
object Tpch3 extends QueryPack {

  /** Derived partsupp: one row per observed (part, supplier) pair.
    * supplycost/availqty are deterministic (min / exact integer sum);
    * one shuffle on the pair key, uniform cardinality — at 100 TB this
    * is a plain map-side-combined aggregate over the fact table.
    * TPC-H quantities are integral by spec, so the availqty sum runs
    * in BIGINT (one codegen add per row) instead of decimal — same
    * exactness contract, measurably cheaper over the ~|lineitem|-sized
    * pair cardinality (the pair agg barely combines: most (part,supp)
    * pairs occur once, so this aggregate's per-row cost IS the
    * query's hot loop). */
  private def partsupp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
      .agg(min($"l_extendedprice" / $"l_quantity").as("ps_supplycost"),
        sum($"l_quantity".cast("long")).cast("double").as("ps_availqty"))
  }

  private val partsuppSql: String =
    s"""SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |    min(l_extendedprice / l_quantity) AS ps_supplycost,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS ps_availqty
       |  FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Q2 minimum-cost supplier: for each EUROPE part of one size/type,
    * the supplier(s) quoting the per-part minimum cost. The original's
    * correlated `= (SELECT min ...)` subquery is decorrelated into ONE
    * window partitioned by part — one shuffle on ps_partkey instead of
    * a second aggregate + re-join of the same frame. */
  def q2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eligible = partsupp(s, dir)
      .join(Tables.part(s, dir)
        .filter($"p_size" === 15 && $"p_type" === "STANDARD"),
        $"ps_partkey" === $"p_partkey")
      .join(Tables.supplier(s, dir), $"ps_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
    eligible
      .withColumn("min_cost",
        min($"ps_supplycost").over(Window.partitionBy($"ps_partkey")))
      .filter($"ps_supplycost" === $"min_cost")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_brand",
        $"ps_supplycost".as("supplycost"))
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(100)
  }

  val q2Sql: String =
    s"""WITH ps AS ($partsuppSql),
       |elig AS (
       |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost,
       |    min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
       |  FROM ps
       |  JOIN part ON ps_partkey = p_partkey
       |    AND p_size = 15 AND p_type = 'STANDARD'
       |  JOIN supplier ON ps_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       |  ps_supplycost AS supplycost
       |FROM elig WHERE ps_supplycost = min_cost
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** Q11 important stock: per-part inventory value in one nation vs a
    * fraction of the nation's total. The global scalar is aggregated
    * FROM the per-part frame (not from a second fact scan), so the two
    * branches share the identical per-part exchange and AQE's
    * ReuseExchange dedups it; the one-row threshold side broadcasts. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-pair inventory value quantized by FLOOR at 4 decimals and
    // summed as a LONG (fixed-point) — order-independent exactness
    // like a decimal(18,4) sum at a fraction of the agg cost, and
    // floor (unlike round) is tie-free so both engines quantize the
    // identical IEEE product identically by construction (the psum
    // pattern, LinkAnalysis.scala). Headroom: Σ|value|·1e4 < 2^63
    // ≈ 9e14 units per part, far above any SF
    val byPart = partsupp(s, dir)
      .join(Tables.supplier(s, dir), $"ps_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir).filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"ps_partkey")
      .agg((sum(floor($"ps_supplycost" * $"ps_availqty" * 1e4)
        .cast("long")).cast("double") / 1e4).as("value"))
    val threshold = byPart
      .agg((dsum($"value", 4) * lit(0.001)).as("threshold"))
    byPart.crossJoin(broadcast(threshold))
      .filter($"value" > $"threshold")
      .select($"ps_partkey", $"value")
      .orderBy($"value".desc, $"ps_partkey")
  }

  val q11Sql: String =
    s"""WITH ps AS ($partsuppSql),
       |bp AS (
       |  SELECT ps_partkey,
       |    CAST(sum(CAST(floor(ps_supplycost * ps_availqty * 1e4)
       |      AS BIGINT)) AS DOUBLE) / 1e4 AS value
       |  FROM ps
       |  JOIN supplier ON ps_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
       |  GROUP BY ps_partkey)
       |SELECT ps_partkey, value
       |FROM bp, (SELECT ${dsumSql("value", 4)} * 0.001 AS threshold FROM bp) t
       |WHERE value > threshold
       |ORDER BY value DESC, ps_partkey""".stripMargin

  /** Q20 potential part promotion: suppliers in one nation holding more
    * than half of what they shipped of 'small%'-named parts in 1997.
    * Shape: part filter (AQE broadcasts when small) → per-(part,supp)
    * aggregate (inner join = the original's correlated EXISTS; a pair
    * with no 1997 shipments fails the NULL comparison and drops) →
    * threshold filter → LEFT SEMI join onto supplier. */
  def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val smallParts = Tables.part(s, dir)
      .filter($"p_name".startsWith("small")).select($"p_partkey")
    // ONE lineitem scan + ONE (part, supp) shuffle computes both the
    // derived-partsupp availqty AND the 1997 shipped quantity (a
    // conditional sum). A pair with no 1997 shipments sums to NULL, so
    // the threshold comparison drops it — exactly the original
    // correlated-EXISTS inner-join semantics, at half the fact scans.
    val pairAgg = Tables.lineitem(s, dir)
      .groupBy($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
      .agg(sum($"l_quantity".cast("long")).cast("double").as("ps_availqty"),
        sum(when(year($"l_shipdate") === 1997, $"l_quantity").cast("long"))
          .cast("double").as("qty_1997"))
    val eligible = pairAgg
      .join(smallParts, $"ps_partkey" === $"p_partkey")
      .filter($"ps_availqty" > lit(0.5) * $"qty_1997")
      .select($"ps_suppkey")
    Tables.supplier(s, dir)
      .join(eligible, $"s_suppkey" === $"ps_suppkey", "left_semi")
      .join(broadcast(Tables.nation(s, dir).filter($"n_name" === "NATION_5")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal")
      // s_suppkey appended for a TOTAL order (names could collide)
      .orderBy($"s_name", $"s_suppkey")
  }

  val q20Sql: String =
    s"""WITH ps AS ($partsuppSql),
       |shipped AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS qty_1997
       |  FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1, 2)
       |SELECT s_suppkey, s_name, s_acctbal
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
       |WHERE s_suppkey IN (
       |  SELECT ps_suppkey FROM ps
       |  JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'small%'
       |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
       |  WHERE ps_availqty > 0.5 * qty_1997)
       |ORDER BY s_name, s_suppkey""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("q2_min_cost_supplier", q2, q2Sql),
    Gate("q11_important_stock", q11, q11Sql),
    Gate("q20_potential_promotion", q20, q20Sql))
}
