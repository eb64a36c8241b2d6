package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryPack._

/** Nested-type (list/struct) + reshape coverage (SURVEY.md §2.9 —
  * cpp/src/lists, explode.hpp, set_operations.hpp, filling.hpp,
  * reshape.py melt/pivot).
  *
  * Per-row list ops run inside codegen (`functions._` higher-order
  * functions), so they scale as a pure map stage — no shuffle.
  */
object Nested extends QueryPack {

  /** List element access / size / contains / slice / sort / overlap /
    * per-row set ops (extract.hpp, count_elements.hpp, contains.hpp,
    * set_operations.hpp:52-163, sorting.hpp). */
  def arrOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = array(lit("the"), lit("a"), lit("and"), lit("of"))
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        size($"toks").as("n_toks"),
        size(array_distinct($"toks")).as("n_types"),
        element_at($"toks", 1).as("first_tok"),
        array_join(slice($"toks", 1, 5), " ").as("head5"),
        array_contains($"toks", "join").as("has_join"),
        arrays_overlap($"toks", array(lit("join"), lit("filter"))).as("ov"),
        size(array_intersect($"toks", stop)).as("n_stop"),
        size(array_union($"toks", stop)).as("n_union"),
        size(array_except($"toks", stop)).as("n_rest"),
        array_join(sort_array(array_distinct(slice($"toks", 1, 8))), ",").as("sorted8"))
      .orderBy($"doc_id")
  }

  val arrOpsSql: String =
    """SELECT doc_id,
      |  len(toks) AS n_toks,
      |  len(list_distinct(toks)) AS n_types,
      |  toks[1] AS first_tok,
      |  array_to_string(toks[1:5], ' ') AS head5,
      |  list_contains(toks, 'join') AS has_join,
      |  list_has_any(toks, ['join', 'filter']) AS ov,
      |  len(list_intersect(toks, ['the','a','and','of'])) AS n_stop,
      |  len(list_distinct(list_concat(toks, ['the','a','and','of']))) AS n_union,
      |  len(list_filter(list_distinct(toks),
      |      x -> NOT list_contains(['the','a','and','of'], x))) AS n_rest,
      |  array_to_string(list_sort(list_distinct(toks[1:8])), ',') AS sorted8
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Higher-order lambdas: transform / filter / aggregate (the AST
    * transform surface, transform.hpp:121, applied per list element). */
  def arrLambda(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        expr("aggregate(toks, 0, (acc, x) -> acc + length(x))").as("sum_len"),
        size(expr("filter(toks, x -> length(x) > 4)")).as("n_long"),
        array_join(expr("transform(slice(toks, 1, 3), x -> upper(x))"), " ")
          .as("head3_upper"))
      .orderBy($"doc_id")
  }

  val arrLambdaSql: String =
    """SELECT doc_id,
      |  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS INT)
      |    AS sum_len,
      |  len(list_filter(toks, x -> length(x) > 4)) AS n_long,
      |  array_to_string(list_transform(toks[1:3], x -> upper(x)), ' ')
      |    AS head3_upper
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Sequence generation + explode (filling.hpp:173 sequence,
    * explode.hpp:64 — posexplode covers explode_position). */
  def seqExplode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, dir)
      .select($"n_nationkey",
        posexplode(sequence(lit(1), $"n_nationkey" % 5 + 1)))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "v")
      .orderBy($"n_nationkey", $"idx")
  }

  val seqExplodeSql: String =
    """SELECT n_nationkey, CAST(u.v - 1 AS INT) AS idx, CAST(u.v AS INT) AS v
      |FROM nation, unnest(generate_series(1, n_nationkey % 5 + 1)) AS u(v)
      |ORDER BY n_nationkey, idx""".stripMargin

  /** Pivot wide (reshape.py:1088): linestatus values to columns. */
  def pivotWide(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .orderBy($"l_returnflag")
  }

  val pivotWideSql: String =
    """SELECT l_returnflag,
      |  count(*) FILTER (WHERE l_linestatus = 'F') AS F,
      |  count(*) FILTER (WHERE l_linestatus = 'O') AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Unpivot / melt (reshape.py:610) back to long form. */
  def unpivotLong(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(dsum($"l_quantity", 2).as("sum_qty"),
        dsum($"l_extendedprice", 2).as("sum_price"))
      .unpivot(Array($"l_returnflag"), Array($"sum_qty", $"sum_price"),
        "metric", "val")
      .orderBy($"l_returnflag", $"metric")
  }

  val unpivotLongSql: String =
    s"""SELECT l_returnflag, metric, val FROM (
       |  SELECT l_returnflag, 'sum_qty' AS metric,
       |    ${dsumSql("l_quantity", 2)} AS val
       |  FROM lineitem GROUP BY l_returnflag
       |  UNION ALL
       |  SELECT l_returnflag, 'sum_price' AS metric,
       |    ${dsumSql("l_extendedprice", 2)} AS val
       |  FROM lineitem GROUP BY l_returnflag)
       |ORDER BY l_returnflag, metric""".stripMargin

  /** Struct build + field access + struct ordering (cpp/src/structs):
    * structs are first-class in Spark; sort by struct gives
    * lexicographic field order. */
  def structOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .withColumn("st", struct($"o_orderstatus".as("a"), $"o_totalprice".as("b")))
      .select($"o_orderkey", $"st.a".as("status"),
        ($"st.b" * 2).as("dbl_price"))
      .orderBy($"o_orderkey")
  }

  val structOpsSql: String =
    """SELECT o_orderkey, o_orderstatus AS status, o_totalprice * 2 AS dbl_price
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** get_dummies / one_hot_encode (reshape.py:784, transform.hpp:384). */
  def oneHot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Reshape.oneHot(Tables.orders(s, dir),
        "o_orderstatus", Seq("F", "O", "P"))
      .groupBy($"o_orderpriority")
      .agg(sum($"o_orderstatus_F").as("n_f"),
        sum($"o_orderstatus_O").as("n_o"),
        sum($"o_orderstatus_P").as("n_p"))
      .orderBy($"o_orderpriority")
  }

  val oneHotSql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** interleave_columns (reshape.hpp:51): one column from alternating
    * row-wise values of several columns. */
  def interleaveQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Reshape.interleave(
        Tables.region(s, dir).withColumn("r_name_upper", upper($"r_name")),
        "r_regionkey", Seq("r_name", "r_name_upper"))
      .orderBy($"r_regionkey", $"pos")
  }

  val interleaveSql: String =
    """SELECT r_regionkey, unnest([0, 1]) AS pos,
      |  unnest([r_name, upper(r_name)]) AS value
      |FROM region ORDER BY r_regionkey, pos""".stripMargin

  /** tile (cudf/reshape.hpp:54): whole-table repetition — broadcast
    * cross join with a tiny range, map-side only. */
  def tileQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Reshape.tile(Tables.region(s, dir), 3)
      .orderBy($"r_regionkey")
  }

  val tileSql: String =
    """SELECT r_regionkey, r_name
      |FROM region CROSS JOIN (SELECT unnest([0, 1, 2]) AS t)
      |ORDER BY r_regionkey""".stripMargin

  /** repeat with a per-row count column (cudf/filling.hpp:90): each
    * nation appears (key % 3) times with a 0-based rep index; count-0
    * rows drop. Map-side explode, zero shuffle. */
  def repeatRowsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Reshape.repeatRows(
        Tables.nation(s, dir).select($"n_nationkey", $"n_name"),
        col("n_nationkey") % 3)
      .orderBy($"n_nationkey", $"rep")
  }

  val repeatRowsSql: String =
    """SELECT n_nationkey, n_name,
      |  CAST(unnest(range(n_nationkey % 3)) AS BIGINT) AS rep
      |FROM nation ORDER BY n_nationkey, rep""".stripMargin

  /** byte_cast (cudf/reshape.hpp:84): numeric columns reinterpreted as
    * big-endian bytes — gated through hex(), which for the big-endian
    * form equals the zero-padded hex of the VALUE, independently
    * computable by DuckDB's to_hex. Little-endian and float/double
    * paths are bit-checked in ExpressionsSpec. */
  def byteCastQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.HashVariants.byteCast
    Tables.region(s, dir)
      .select($"r_regionkey",
        hex(byteCast($"r_regionkey".cast("int"))).as("be32_hex"),
        hex(byteCast($"r_regionkey".cast("long"))).as("be64_hex"))
      .orderBy($"r_regionkey")
  }

  val byteCastSql: String =
    """SELECT r_regionkey,
      |  upper(lpad(to_hex(r_regionkey), 8, '0')) AS be32_hex,
      |  upper(lpad(to_hex(r_regionkey), 16, '0')) AS be64_hex
      |FROM region ORDER BY r_regionkey""".stripMargin

  /** crosstab (reshape.py:1543) — explicit-values groupBy+pivot (no
    * driver-side distinct matrix). */
  def crosstabQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Reshape.crosstab(Tables.lineitem(s, dir),
        "l_returnflag", "l_linestatus", Seq("F", "O"))
      .orderBy($"l_returnflag_l_linestatus")
  }

  val crosstabSql: String =
    """SELECT l_returnflag AS l_returnflag_l_linestatus,
      |  count(*) FILTER (WHERE l_linestatus = 'F') AS F,
      |  count(*) FILTER (WHERE l_linestatus = 'O') AS O
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag_l_linestatus""".stripMargin

  /** MapType ops — native superset (SURVEY §1.2: cudf has no map type;
    * Spark-RAPIDS models maps as list<struct>). Builds a status→count map
    * per priority, then extracts/inspects it; the oracle computes the
    * same values relationally, proving the map path's semantics. */
  def mapOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .groupBy($"o_orderpriority")
      .agg(map_from_entries(collect_list(struct($"o_orderstatus", $"n")))
        .as("m"))
      .select($"o_orderpriority",
        coalesce(element_at($"m", "F"), lit(0L)).as("n_f"),
        coalesce(element_at($"m", "O"), lit(0L)).as("n_o"),
        size($"m").as("n_keys"),
        array_join(sort_array(map_keys($"m")), ",").as("statuses"))
      .orderBy($"o_orderpriority")
  }

  val mapOpsSql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |  CAST(count(DISTINCT o_orderstatus) AS INT) AS n_keys,
      |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Nested list-of-lists + flatten (lists are recursively nestable,
    * lists_column_view.hpp:54; combine.hpp concat): char-bigrams per
    * token → flatten → count. */
  def flattenNested(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      // NOTE: Spark's sequence(1, 0) yields a DESCENDING [1, 0] rather
      // than empty, so 1-char tokens would emit bogus grams — keep only
      // true bigrams.
      .withColumn("grams", expr(
        """filter(flatten(transform(toks, t ->
             transform(sequence(1, greatest(length(t) - 1, 1)),
                       i -> substring(t, i, 2)))),
                  g -> length(g) = 2)"""))
      .select($"doc_id", size($"grams").as("n_grams"),
        array_join(slice($"grams", 1, 6), ",").as("head6"),
        size(array_distinct($"grams")).as("n_distinct"))
      .orderBy($"doc_id")
  }

  val flattenNestedSql: String =
    """SELECT doc_id, len(grams) AS n_grams,
      |  array_to_string(grams[1:6], ',') AS head6,
      |  len(list_distinct(grams)) AS n_distinct
      |FROM (SELECT doc_id,
      |        flatten(list_transform(string_split(text, ' '), t ->
      |          list_transform(generate_series(1, greatest(length(t) - 1, 0)),
      |                         i -> substring(t, CAST(i AS INT), 2)))) AS grams
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** transpose (transpose.hpp:39) on an aggregated frame: metrics per
    * l_returnflag become rows, flag values become columns — the
    * reference's bounded rows↔columns swap, here a fully distributed
    * unpivot → pivot (no driver materialization). Oracle: conditional
    * aggregation per flag value (DuckDB's PIVOT needs literal IN values
    * anyway, and CASE keeps the column names identical). */
  def transposeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import QueryPack._
    val base = Tables.lineitem(s, dir).groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n_rows"),
        dsum($"l_quantity", 2).as("sum_qty"),
        dsum($"l_discount", 6).as("sum_disc"))
    graft.operators.Reshape.transpose(base, "l_returnflag")
      .orderBy($"metric")
  }

  val transposeSql: String = {
    import QueryPack._
    def row(metric: String) =
      s"""SELECT '$metric' AS metric,
         |  max(CASE WHEN l_returnflag = 'A' THEN $metric END) AS "A",
         |  max(CASE WHEN l_returnflag = 'N' THEN $metric END) AS "N",
         |  max(CASE WHEN l_returnflag = 'R' THEN $metric END) AS "R"
         |FROM base""".stripMargin
    s"""WITH base AS (
       |  SELECT l_returnflag,
       |    CAST(count(*) AS DOUBLE) AS n_rows,
       |    ${dsumSql("l_quantity", 2)} AS sum_qty,
       |    ${dsumSql("l_discount", 6)} AS sum_disc
       |  FROM lineitem GROUP BY l_returnflag)
       |${row("n_rows")}
       |UNION ALL ${row("sum_qty")}
       |UNION ALL ${row("sum_disc")}
       |ORDER BY metric""".stripMargin
  }

  /** GROUPING SETS + grouping() markers (superset; Catalyst-native). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
        CAST(grouping(o_orderstatus) AS INT) AS g_status,
        CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        count(*) AS n
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        o_orderpriority NULLS FIRST""")
  }

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |  count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("flatten_nested", flattenNested, flattenNestedSql),
    Gate("agg_grouping_sets", groupingSets, groupingSetsSql),
    Gate("map_ops", mapOps, mapOpsSql),
    Gate("reshape_onehot", oneHot, oneHotSql),
    Gate("reshape_crosstab", crosstabQ, crosstabSql),
    Gate("reshape_interleave", interleaveQ, interleaveSql),
    Gate("reshape_tile", tileQ, tileSql),
    Gate("reshape_repeat", repeatRowsQ, repeatRowsSql),
    Gate("reshape_bytecast", byteCastQ, byteCastSql),
    Gate("reshape_transpose", transposeQ, transposeSql),
    Gate("arr_ops", arrOps, arrOpsSql),
    Gate("arr_lambda", arrLambda, arrLambdaSql),
    Gate("seq_explode", seqExplode, seqExplodeSql),
    Gate("pivot_wide", pivotWide, pivotWideSql),
    Gate("unpivot_long", unpivotLong, unpivotLongSql),
    Gate("struct_ops", structOps, structOpsSql))
}
