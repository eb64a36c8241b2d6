package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sort / limit / top-k / set-op / dedup coverage (SURVEY.md §2.6, §2.7 —
  * cpp/include/cudf/sorting.hpp, stream_compaction.hpp, concatenate.hpp,
  * merge.hpp).
  *
  * Global sorts ride Spark's RangePartitioner (sampled split points —
  * same design as the reference's streaming/sort.py); top-k plans as
  * TakeOrderedAndProject (no global sort at scale); keep-first dedup is
  * the row_number()==1 pattern (stable_distinct, keep_first).
  */
object SortSet extends QueryPack {

  /** Multi-key sort, per-key direction + null placement (sorting.hpp:44:
    * column_order + null_order). */
  def sortMultiNulls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .withColumn("seg", expr("nullif(c_mktsegment, 'BUILDING')"))
      .select($"c_custkey", $"seg", $"c_acctbal")
      .orderBy(asc_nulls_first("seg"), desc("c_acctbal"), asc("c_custkey"))
  }

  val sortMultiNullsSql: String =
    """SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg, c_acctbal
      |FROM customer
      |ORDER BY seg ASC NULLS FIRST, c_acctbal DESC, c_custkey ASC""".stripMargin

  /** Top-k: orderBy().limit(k) → TakeOrderedAndProject. */
  def topK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(15)
  }

  val topKSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin

  /** Slice: limit + offset (Slice IR, dsl/ir.py:3182; copying.hpp:496). */
  def limitOffset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus")
      .orderBy($"o_orderkey")
      .offset(50)
      .limit(100)
  }

  val limitOffsetSql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |ORDER BY o_orderkey LIMIT 100 OFFSET 50""".stripMargin

  /** Vertical concat keeping duplicates (concatenate.hpp:57, Union IR) —
    * overlapping date slices so UNION ALL semantics are observable; the
    * trailing sort doubles as merge-sorted (merge.hpp:97) semantics. */
  def unionAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.orders(s, dir)
      .filter($"o_orderdate" < lit("1995-07-01").cast("timestamp"))
    val b = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
              $"o_orderdate" < lit("1995-08-01").cast("timestamp"))
    a.select($"o_orderkey", $"o_orderstatus")
      .unionByName(b.select($"o_orderkey", $"o_orderstatus"))
      .orderBy($"o_orderkey", $"o_orderstatus")
  }

  val unionAllSql: String =
    """SELECT o_orderkey, o_orderstatus FROM (
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1995-08-01 00:00:00')
      |ORDER BY o_orderkey, o_orderstatus""".stripMargin

  /** Relational INTERSECT (distinct) — superset vs reference (§2.7). */
  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
      .intersect(Tables.supplier(s, dir).select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  val intersectKeysSql: String =
    """SELECT * FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT
      |  SELECT s_nationkey AS nationkey FROM supplier)
      |ORDER BY nationkey""".stripMargin

  /** Relational EXCEPT (distinct). */
  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).select($"l_orderkey".as("orderkey"))
      .except(Tables.orders(s, dir).filter($"o_totalprice" > 100000)
        .select($"o_orderkey".as("orderkey")))
      .orderBy($"orderkey")
  }

  val exceptKeysSql: String =
    """SELECT * FROM (
      |  SELECT l_orderkey AS orderkey FROM lineitem
      |  EXCEPT
      |  SELECT o_orderkey AS orderkey FROM orders WHERE o_totalprice > 100000)
      |ORDER BY orderkey""".stripMargin

  /** Row-level distinct (stream_compaction.hpp:321, keep-any). */
  def distinctRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val distinctRowsSql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Row-distinct under the reference's OTHER NaN policy
    * (stream_compaction.hpp:227 nan_equality::UNEQUAL — IEEE NaN ≠
    * NaN, so every NaN-carrying row survives distinct;
    * [[graft.operators.Dedup.distinctNanUnequal]]). Every 7th order's
    * price becomes NaN and the rest bucket to 10k so real (priority,
    * bucket) duplicates exist; the output summarizes the SURVIVOR
    * multiset per priority — under the default ALL_EQUAL policy the
    * NaN rows would collapse to one per priority, turning both
    * columns red. Counts (not raw NaN doubles) keep the compare free
    * of engine NaN-sort placement. */
  def distinctNanUnequalQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables.orders(s, dir).select($"o_orderpriority",
      when(pmod($"o_orderkey", lit(7)) === 0, lit(Double.NaN))
        .otherwise(floor($"o_totalprice".cast("double") / 10000.0)
          * 10000.0).as("v"))
    graft.operators.Dedup.distinctNanUnequal(t, Seq("v"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(isnan($"v"), 1L).otherwise(0L)).as("n_nan_rows"))
      .orderBy($"o_orderpriority")
  }

  val distinctNanUnequalSql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_nan_rows
      |FROM (
      |  SELECT o_orderpriority, v FROM (
      |    SELECT o_orderpriority,
      |      CASE WHEN o_orderkey % 7 = 0 THEN 'NaN'::DOUBLE
      |           ELSE floor(CAST(o_totalprice AS DOUBLE) / 10000.0)
      |                * 10000.0 END AS v
      |    FROM orders) WHERE isnan(v)
      |  UNION ALL
      |  SELECT DISTINCT o_orderpriority, v FROM (
      |    SELECT o_orderpriority,
      |      CASE WHEN o_orderkey % 7 = 0 THEN 'NaN'::DOUBLE
      |           ELSE floor(CAST(o_totalprice AS DOUBLE) / 10000.0)
      |                * 10000.0 END AS v
      |    FROM orders) WHERE NOT isnan(v))
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** CONSECUTIVE-duplicate removal (cudf `unique`,
    * stream_compaction.hpp:248 — std::unique semantics, distinct from
    * `distinct`): collapse each run of equal event_type per user in
    * event order to its first row. One window shuffle on the user key;
    * the run-start predicate is a single lag comparison. */
  def uniqueConsecutive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .select($"user_id", $"event_id", $"event_type")
      .orderBy($"user_id", $"event_id")
  }

  val uniqueConsecutiveSql: String =
    """SELECT user_id, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |WHERE prev_type IS NULL OR prev_type <> event_type
      |ORDER BY user_id, event_id""".stripMargin

  /** Keep-first dedup (stable_distinct keep_first, stream_compaction.hpp:383,
    * Distinct IR dsl/ir.py:3004): first order per customer by date. */
  def dedupKeepFirst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .orderBy($"o_custkey")
  }

  val dedupKeepFirstSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** The other two duplicate_keep_options (stream_compaction.hpp
    * KEEP_LAST, KEEP_NONE — [[dedupKeepFirst]] covers KEEP_FIRST):
    * one window pass computes both — the keep-LAST row per customer
    * (rn over the reversed order) and the keep-NONE membership flag
    * (group count = 1, i.e. rows with no duplicate at all). One
    * shuffle, shared partition key. */
  def dedupKeepVariants(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byKey = Window.partitionBy($"o_custkey")
    val wDesc = byKey.orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(wDesc))
      .withColumn("n_orders", count(lit(1)).over(byKey))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey".as("last_orderkey"),
        $"o_orderdate".as("last_orderdate"), $"n_orders",
        ($"n_orders" === 1).as("keep_none"))
      .orderBy($"o_custkey")
  }

  val dedupKeepVariantsSql: String =
    """SELECT o_custkey, o_orderkey AS last_orderkey,
      |  o_orderdate AS last_orderdate, n_orders, n_orders = 1 AS keep_none
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT)
      |      AS n_orders
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("sort_multi_nulls", sortMultiNulls, sortMultiNullsSql),
    Gate("dedup_keep_variants", dedupKeepVariants, dedupKeepVariantsSql),
    Gate("topk", topK, topKSql),
    Gate("limit_offset", limitOffset, limitOffsetSql),
    Gate("set_union_all", unionAll, unionAllSql),
    Gate("set_intersect", intersectKeys, intersectKeysSql),
    Gate("set_except", exceptKeys, exceptKeysSql),
    Gate("distinct_rows", distinctRows, distinctRowsSql),
    Gate("distinct_nan_unequal", distinctNanUnequalQ, distinctNanUnequalSql),
    Gate("dedup_keep_first", dedupKeepFirst, dedupKeepFirstSql),
    Gate("unique_consecutive", uniqueConsecutive, uniqueConsecutiveSql))
}
