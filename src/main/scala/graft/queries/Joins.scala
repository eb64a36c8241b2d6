package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryPack._

/** Join-kind coverage (SURVEY.md §2.3 — headers under cpp/include/cudf/join).
  *
  * Each reference join kind is re-expressed as the Spark join type /
  * condition shape that makes Catalyst pick the analogous physical plan:
  * hash equi joins → Shuffled-Hash/SortMerge, conditional (AST) joins →
  * BroadcastNestedLoop, mixed joins → equi keys + residual filter,
  * filtered_join/mark_join → left_semi / left_anti, null-aware equality
  * (null_equality::EQUAL) → `<=>`.
  */
object Joins extends QueryPack {

  /** Hash inner equi join (join.hpp:162) — fact⋈dim, dim broadcast. */
  def joinInner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter($"p_size" > 45),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"l_linenumber", $"p_name", $"p_size",
        $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val joinInnerSql: String =
    """SELECT l_orderkey, l_linenumber, p_name, p_size, l_extendedprice
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Left outer join (join.hpp:203): orders kept even with no big lineitem. */
  def joinLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, dir).filter($"l_quantity" > 49)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_big"), dsum($"l_quantity", 2).as("qty_big"))
    Tables.orders(s, dir)
      .join(big, $"o_orderkey" === $"l_orderkey", "left")
      .select($"o_orderkey", $"o_orderstatus", $"n_big", $"qty_big")
      .orderBy($"o_orderkey")
  }

  val joinLeftSql: String =
    s"""SELECT o_orderkey, o_orderstatus, n_big, qty_big
       |FROM orders LEFT JOIN (
       |  SELECT l_orderkey, count(*) AS n_big,
       |         ${dsumSql("l_quantity", 2)} AS qty_big
       |  FROM lineitem WHERE l_quantity > 49 GROUP BY l_orderkey
       |) ON o_orderkey = l_orderkey
       |ORDER BY o_orderkey""".stripMargin

  /** Full outer join (join.hpp:244) on per-nation customer vs supplier counts. */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"))
    val p = Tables.supplier(s, dir).groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, $"c_nationkey" === $"s_nationkey", "full")
      .select(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        $"n_cust", $"n_supp")
      .orderBy($"nationkey")
  }

  val joinFullSql: String =
    """SELECT coalesce(c_nationkey, s_nationkey) AS nationkey, n_cust, n_supp
      |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) p
      |  ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Left semi join — filtered_join/mark_join (filtered_join.hpp:51). */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir).filter($"l_quantity" > 49.5),
        $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val joinSemiSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 49.5)
      |ORDER BY o_orderkey""".stripMargin

  /** Left anti join — NOT EXISTS via mark_join. */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir).filter($"l_quantity" > 49.5),
        $"o_orderkey" === $"l_orderkey", "left_anti")
      .select($"o_orderkey", $"o_orderstatus")
      .orderBy($"o_orderkey")
  }

  val joinAntiSql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_quantity > 49.5)
      |ORDER BY o_orderkey""".stripMargin

  /** Cross join (join.hpp:278) — bounded dims only; unbounded cross of
    * facts would be a scale bug, so the API keeps it on dimensions. */
  def joinCross(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
      .select($"r_name", $"n_name")
      .orderBy($"r_name", $"n_name")
  }

  val joinCrossSql: String =
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** Conditional (non-equi, AST-predicate) join (conditional_join.hpp:72):
    * pure inequality condition → BroadcastNestedLoopJoin. The hint is kept
    * HERE (unlike the equi-join gates, which let AQE size-check) because a
    * pure-inequality join has no hash strategy — without a broadcast side
    * Spark falls back to a CartesianProduct. Supplier DOES scale with SF,
    * so at large SF this band predicate should route through the interval
    * bucketing in [[graft.plans.RangeJoin]] (see join_range_* gates), which
    * turns the band into an equi-join on overlapping buckets. */
  def joinNonEqui(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = Tables.supplier(s, dir)
    Tables.customer(s, dir)
      .join(broadcast(sup),
        $"s_acctbal" > $"c_acctbal" - 0.5 && $"s_acctbal" < $"c_acctbal" + 0.5)
      .select($"c_custkey", $"s_suppkey", $"c_acctbal", $"s_acctbal")
      .orderBy($"c_custkey", $"s_suppkey")
  }

  val joinNonEquiSql: String =
    """SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
      |FROM customer JOIN supplier
      |  ON s_acctbal > c_acctbal - 0.5 AND s_acctbal < c_acctbal + 0.5
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** [[joinNonEqui]]'s band predicate through the SCALE path:
    * [[graft.operators.IntervalJoin.bandJoin]] buckets both sides by
    * floor(acctbal/width) and hashes on the bucket — no broadcast
    * hint, no nested loop, both sides free to scale with SF (PlanSpec
    * asserts the plan). Wider band (2.0) than join_nonequi so the two
    * gates don't share a result by accident. */
  def joinBandBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.IntervalJoin.bandJoin(
        Tables.customer(s, dir), "c_acctbal",
        Tables.supplier(s, dir), "s_acctbal", width = 2.0)
      .select($"c_custkey", $"s_suppkey", $"c_acctbal", $"s_acctbal")
      .orderBy($"c_custkey", $"s_suppkey")
  }

  val joinBandBucketedSql: String =
    """SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
      |FROM customer JOIN supplier
      |  ON s_acctbal > c_acctbal - 2.0 AND s_acctbal < c_acctbal + 2.0
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** Mixed join (mixed_join.hpp:92): equi keys + residual inequality —
    * Catalyst splits into hash-join keys plus post-join filter. */
  def joinMixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    Tables.lineitem(s, dir)
      .join(o, $"l_orderkey" === $"o_orderkey" &&
        $"l_extendedprice" > $"o_totalprice" * 0.5)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"o_totalprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val joinMixedSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey AND l_extendedprice > o_totalprice * 0.5
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Null-safe equality join (null_equality::EQUAL, join.hpp:162) via `<=>`
    * ≙ DuckDB IS NOT DISTINCT FROM. Keys are nulled for one nation to
    * exercise null-matches-null semantics. */
  def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
      .withColumn("ck", expr("nullif(c_nationkey, 13)"))
    val n = Tables.nation(s, dir)
      .withColumn("nk", expr("nullif(n_nationkey, 13)"))
    c.join(broadcast(n), $"ck" <=> $"nk")
      .select($"c_custkey", $"n_name")
      .orderBy($"c_custkey", $"n_name")
  }

  val joinNullSafeSql: String =
    """SELECT c_custkey, n_name
      |FROM (SELECT c_custkey, nullif(c_nationkey, 13) AS ck FROM customer) c
      |JOIN (SELECT n_name, nullif(n_nationkey, 13) AS nk FROM nation) n
      |  ON ck IS NOT DISTINCT FROM nk
      |ORDER BY c_custkey, n_name""".stripMargin

  /** Mark join (join/mark_join.hpp): EXISTS materialized as a BOOLEAN
    * COLUMN on every left row — distinct from semi/anti, which FILTER.
    * Formulation: distinct build keys flagged true, left join, coalesce
    * false — the build side is distinct-key-sized, so the probe join
    * carries one boolean per key, and no row is dropped. */
  def joinMark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val returned = Tables.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey").distinct()
      .withColumn("__m", lit(true))
    Tables.orders(s, dir)
      .join(returned, $"o_orderkey" === $"l_orderkey", "left")
      .select($"o_orderkey", coalesce($"__m", lit(false)).as("has_return"))
      .orderBy($"o_orderkey")
  }

  val joinMarkSql: String =
    """SELECT o_orderkey,
      |  EXISTS (SELECT 1 FROM lineitem
      |          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |    AS has_return
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Grid-bucketized point-in-interval join (operators/IntervalJoin) —
    * the BIG-BIG scale path for the non-equi predicate join_nonequi
    * covers in broadcast form: each purchase matched to the signup
    * windows [signup, signup+7d) of the same user via a 1-day cell
    * grid, planned as a hash EQUI-join on (user, cell) + residual —
    * no BroadcastNestedLoopJoin, no cartesian product (PlanSpec
    * guards the shape). Each point owns ONE cell, so qualifying pairs
    * appear exactly once without a dedup pass. */
  def joinIntervalGrid(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IntervalJoin
    val ev = Tables.events(s, dir)
    val points = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("p_us"))
    val intervals = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        unix_micros(col("ts")).as("lo_us"),
        (unix_micros(col("ts")) + 604800000000L).as("hi_us"))
    IntervalJoin.pointInInterval(points, "p_us", intervals,
        "lo_us", "hi_us", Seq("user_id"), 86400000000L)
      .select(col("user_id"), col("purchase_id"), col("signup_id"),
        (col("p_us") - col("lo_us")).as("gap_us"))
      .orderBy(col("purchase_id"), col("signup_id"))
  }

  val joinIntervalGridSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, s.event_id AS signup_id,
      |  epoch_us(p.ts) - epoch_us(s.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id
      |  AND epoch_us(p.ts) >= epoch_us(s.ts)
      |  AND epoch_us(p.ts) < epoch_us(s.ts) + 604800000000
      |ORDER BY purchase_id, signup_id""".stripMargin

  /** Power-law skewed equi-join through explicit n-way salting
    * ([[graft.operators.Salting.saltedJoin]], the 100 TB hot-key tool):
    * a synthetic zipf-ish probe — ~43% of lineitem (l_linenumber <= 3)
    * hammers key 1, the rest spread over their real orderkeys — joins
    * the orders dimension on the salted composite key. The salt is a
    * deterministic row hash, so the salted join's RESULT equals a plain
    * join's exactly (the oracle is the plain DuckDB join); what changes
    * is the physical shuffle: the hot key's rows split across 8 salt
    * buckets instead of one task. SCALING.md carries the salted-vs-raw
    * wall-time axis at 10x. */
  def joinSkewedSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Tables.lineitem(s, dir).select(
      when($"l_linenumber" <= 3, lit(1L)).otherwise($"l_orderkey").as("k"),
      $"l_quantity")
    val dim = Tables.orders(s, dir)
      .select($"o_orderkey".as("k"), $"o_orderpriority")
    graft.operators.Salting.saltedJoin(probe, dim, "k", n = 8)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity", 2).as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val joinSkewedSaltedSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |  ${dsumSql("l_quantity", 2)} AS sum_qty
       |FROM (SELECT CASE WHEN l_linenumber <= 3 THEN 1
       |             ELSE l_orderkey END AS k, l_quantity FROM lineitem) p
       |JOIN orders o ON p.k = o.o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The unsalted control for [[joinSkewedSalted]] — same skewed probe,
    * plain equi-join, AQE skew-split left to do what it can. Same oracle
    * (results must be identical); BENCH carries the salted-vs-raw
    * wall-time pair every round, SCALING.md the large-axis comparison. */
  def joinSkewedRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = Tables.lineitem(s, dir).select(
      when($"l_linenumber" <= 3, lit(1L)).otherwise($"l_orderkey").as("k"),
      $"l_quantity")
    val dim = Tables.orders(s, dir)
      .select($"o_orderkey".as("k"), $"o_orderpriority")
    probe.join(dim, "k")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity", 2).as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  override def gates: Seq[Gate] = Seq(
    Gate("join_skewed_raw", joinSkewedRaw, joinSkewedSaltedSql),
    Gate("join_skewed_salted", joinSkewedSalted, joinSkewedSaltedSql),
    Gate("join_interval_grid", joinIntervalGrid, joinIntervalGridSql),
    Gate("join_mark", joinMark, joinMarkSql),
    Gate("join_inner", joinInner, joinInnerSql),
    Gate("join_left", joinLeft, joinLeftSql),
    Gate("join_full", joinFull, joinFullSql),
    Gate("join_semi", joinSemi, joinSemiSql),
    Gate("join_anti", joinAnti, joinAntiSql),
    Gate("join_cross", joinCross, joinCrossSql),
    Gate("join_nonequi", joinNonEqui, joinNonEquiSql),
    Gate("join_band_bucketed", joinBandBucketed, joinBandBucketedSql),
    Gate("join_mixed", joinMixed, joinMixedSql),
    Gate("join_nullsafe", joinNullSafe, joinNullSafeSql))
}
