package graft.queries

import graft.Tables
import graft.sources.{Io, Layout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryPack._

/** Source/sink round-trip queries (SURVEY.md §2.1). Each query writes a
  * deterministic slice to a scratch dir in the engine's own sink format,
  * reads it back with the matching source (schema inference where the
  * reference infers), and aggregates — so the oracle (which reads the
  * original parquet) only matches if the round trip was lossless.
  */
object IoPack extends QueryPack {

  // per-JVM scratch root: two concurrent drivers (a Verify run racing a
  // test suite) once collided on the fixed path and corrupted a layout
  // mid-write — the pid suffix makes every JVM's write-then-read private
  private val scratchRoot =
    s"${System.getProperty("java.io.tmpdir")}/graft_io_${ProcessHandle.current().pid()}"

  private def scratch(name: String): String = s"$scratchRoot/$name"

  /** CSV write → read with dtype inference (csv.hpp:1350,1755). */
  def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority")
    Io.csvRoundTrip(slice, scratch("csv_orders"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice", 2).as("sum_price"),
        min($"o_orderkey").as("min_key"), max($"o_orderpriority").as("max_prio"))
      .orderBy($"o_orderstatus")
  }

  val csvRoundTripSql: String =
    s"""SELECT o_orderstatus, count(*) AS n,
       |  ${dsumSql("o_totalprice", 2)} AS sum_price,
       |  min(o_orderkey) AS min_key, max(o_orderpriority) AS max_prio
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** NDJSON write → schema read (json.hpp:926,1451). */
  def jsonRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    Io.jsonRoundTrip(slice, scratch("json_events"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value", 2).as("sum_value"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  val jsonRoundTripSql: String =
    s"""SELECT event_type, count(*) AS n, ${dsumSql("value", 2)} AS sum_value,
       |  max(event_id) AS max_id
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ORC write → read incl. timestamps (orc.hpp:464,1076). */
  def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_shipdate")
    Io.orcRoundTrip(slice, scratch("orc_lineitem"))
      .groupBy(year($"l_shipdate").as("ship_year"))
      .agg(count(lit(1)).as("n"), dsum($"l_quantity", 2).as("sum_qty"))
      .orderBy($"ship_year")
  }

  val orcRoundTripSql: String =
    s"""SELECT year(l_shipdate) AS ship_year, count(*) AS n,
       |  ${dsumSql("l_quantity", 2)} AS sum_qty
       |FROM lineitem GROUP BY 1 ORDER BY ship_year""".stripMargin

  /** Avro write → read (avro.hpp:217) through the `graft-avro`
    * DataSource (sources/AvroDataSource.scala): a long, a string, a
    * double and a string key, all four read back and aggregated. */
  def avroRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("avro_customer")
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
      .write.format("graft-avro").mode("overwrite").save(path)
    s.read.format("graft-avro").load(path)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum($"c_acctbal", 2).as("sum_bal"),
        min($"c_custkey").as("min_key"), max($"c_name").as("max_name"))
      .orderBy($"c_mktsegment")
  }

  val avroRoundTripSql: String =
    s"""SELECT c_mktsegment, count(*) AS n, ${dsumSql("c_acctbal", 2)} AS sum_bal,
       |  min(c_custkey) AS min_key, max(c_name) AS max_name
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** The §2.1 pluggable-source (DSv2) row exercised INSIDE the gate —
    * datasource.hpp's pluggability contract: write a customer slice
    * through the registered `graft-avro` source's two-phase-commit
    * BatchWrite, read it back through its ScanBuilder (which prunes to
    * the columns this aggregate references — PlanSpec asserts the
    * pruned read schema), and aggregate per segment. */
  def avroDsv2RoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("avro_dsv2_customer")
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
      .write.format("graft-avro").mode("overwrite").save(path)
    s.read.format("graft-avro").load(path)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum($"c_acctbal", 2).as("sum_bal"))
      .orderBy($"c_mktsegment")
  }

  val avroDsv2RoundTripSql: String =
    s"""SELECT c_mktsegment, count(*) AS n, ${dsumSql("c_acctbal", 2)} AS sum_bal
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Arrow interop round trip (interop.hpp:504,622 to_arrow/from_arrow)
    * exercised INSIDE the gate: a lineitem slice (long, double, string,
    * timestamp) converts per-partition to Arrow IPC record batches and
    * back via [[org.apache.spark.sql.graftshim.ArrowBridge]], then
    * aggregates — the oracle reads the ORIGINAL parquet, so the row only
    * matches if the Arrow round trip preserved every value (timestamp
    * timezone/unit handling is the classic interop pitfall). */
  def arrowRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity", $"l_returnflag", $"l_shipdate")
    org.apache.spark.sql.graftshim.ArrowBridge.roundTrip(slice)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity", 2).as("sum_qty"),
        min($"l_shipdate").as("min_ship"), max($"l_shipdate").as("max_ship"),
        max($"l_orderkey").as("max_key"))
      .orderBy($"l_returnflag")
  }

  val arrowRoundTripSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${dsumSql("l_quantity", 2)} AS sum_qty,
       |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
       |  max(l_orderkey) AS max_key
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Custom-delimiter text records (text/multibyte_split.hpp:37):
    * write ';'-separated records, read with lineSep, aggregate lengths. */
  def textDelim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("text_nation")
    Tables.nation(s, dir).orderBy($"n_nationkey")
      .select(concat_ws(":", $"n_nationkey", $"n_name").as("value"))
      .agg(concat_ws(";", collect_list($"value")).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    // The text sink appends a final newline; strip it so record lengths
    // reflect the delimited payload only.
    Io.readTextDelim(s, path, ";")
      .select(rtrim($"value", "\n").as("value"))
      .agg(count(lit(1)).as("n_records"),
        sum(length($"value")).as("total_chars"),
        min(length($"value")).as("min_len"))
  }

  val textDelimSql: String =
    """SELECT count(*) AS n_records,
      |  CAST(sum(length(n_nationkey || ':' || n_name)) AS BIGINT) AS total_chars,
      |  min(length(n_nationkey || ':' || n_name)) AS min_len
      |FROM nation""".stripMargin

  /** Bucketed co-located join (partitioning.hpp hash_partition persisted
    * to storage): both sides pre-bucketed on the join key into the same
    * bucket count, so the fact-fact sort-merge join plans with ZERO
    * join-side shuffle exchanges — the decisive layout at 100 TB, where
    * re-shuffling lineitem per query is the dominant cost. Guarded by
    * PlanSpec ("bucketed join"). The oracle joins the raw parquet: the
    * result must be layout-independent. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .filter($"l_shipdate".between("1997-01-01", "1997-03-31"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority")
    val bl = Layout.writeBucketed(li, "graft_bkt_lineitem",
      scratch("bkt_lineitem"), 8, "l_orderkey")
    val bo = Layout.writeBucketed(ord, "graft_bkt_orders",
      scratch("bkt_orders"), 8, "o_orderkey")
    bl.hint("merge").join(bo, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val bucketedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS n,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Hive-style partitioned layout + partition pruning: events written
    * one directory per event_type; the filtered read lists only the
    * matching directory (driver-side pruning, no data-file footers
    * touched — PartitionFilters in the scan, guarded by PlanSpec). */
  def partitionPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"value", $"event_type")
    Layout.writePartitioned(ev, scratch("part_events"), Seq("event_type"))
      .filter($"event_type" === "click")
      .agg(count(lit(1)).as("n"), dsum($"value", 2).as("sum_value"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }

  val partitionPruneSql: String =
    s"""SELECT count(*) AS n, ${dsumSql("value", 2)} AS sum_value,
       |  min(event_id) AS min_id, max(event_id) AS max_id
       |FROM events WHERE event_type = 'click'""".stripMargin

  /** Z-ordered layout + two-dimensional pruning: lineitem clustered on
    * (l_partkey, l_suppkey) via the Morton curve, then filtered on the
    * SECOND dimension — the one a linear sort scatters across every
    * file. The oracle reads the raw parquet: results must be
    * layout-independent; the file-level min/max clustering evidence is
    * asserted quantitatively in IoSpec. */
  def zorderPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
    Layout.writeZOrdered(li, scratch("zorder_lineitem"),
        Seq("l_partkey", "l_suppkey"))
      .filter($"l_suppkey" <= 10)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice", 2).as("sum_price"),
        min($"l_partkey").as("min_part"), max($"l_partkey").as("max_part"))
      .orderBy($"l_suppkey")
  }

  val zorderPruneSql: String =
    s"""SELECT l_suppkey, count(*) AS n, ${dsumSql("l_extendedprice", 2)} AS sum_price,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part
       |FROM lineitem WHERE l_suppkey <= 10
       |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** 3-D Z-order layout ([[graft.plans.InterleaveBits]] is k-dim; the
    * 2-dim gate above leaves the k > 2 claim spec-only): lineitem
    * clustered on (l_partkey, l_suppkey, l_quantity) and filtered on
    * the THIRD dimension — the one neither a linear sort nor a 2-dim
    * curve serves. Results must be layout-independent (the oracle
    * reads the raw parquet); the per-file min/max tightness in all
    * three dims is asserted quantitatively in IoSpec. */
  def zorder3Prune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice")
    Layout.writeZOrdered(li, scratch("zorder3_lineitem"),
        Seq("l_partkey", "l_suppkey", "l_quantity"))
      .filter($"l_quantity" <= 5)
      .groupBy($"l_quantity".cast("long").as("qty"))
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice", 2).as("sum_price"),
        min($"l_partkey").as("min_part"), max($"l_partkey").as("max_part"),
        min($"l_suppkey").as("min_supp"), max($"l_suppkey").as("max_supp"))
      .orderBy($"qty")
  }

  val zorder3PruneSql: String =
    s"""SELECT CAST(l_quantity AS BIGINT) AS qty, count(*) AS n,
       |  ${dsumSql("l_extendedprice", 2)} AS sum_price,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM lineitem WHERE l_quantity <= 5
       |GROUP BY 1 ORDER BY qty""".stripMargin

  /** Footer-metadata-as-a-table (parquet_metadata.hpp; DuckDB's
    * parquet_metadata() twin): write a deterministic orders slice (with
    * a planted nullable column) as ONE parquet file, read back ONLY its
    * footer via [[Layout.parquetMetadata]], and reduce the metadata
    * rows to data-derivable facts — row counts, per-column value/null
    * counts, min/max stats cast back to their types. The oracle
    * computes the same facts from the DATA, so the gate proves the
    * footer stats ARE the data's truth (and that no data page needed
    * reading to get them). */
  def parquetMetadataGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("meta_orders")
    Tables.orders(s, dir)
      .filter($"o_orderkey" % 97 < 30)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus",
        when($"o_orderstatus" =!= "O", $"o_orderstatus").as("o_nullable"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
    val m = Layout.parquetMetadata(s, path)
    def forCol(c: String, expr: org.apache.spark.sql.Column) =
      max(when($"path_in_schema" === c, expr))
    m.agg(
      countDistinct($"file_name").cast("int").as("n_files"),
      (max($"row_group_id") + 1).cast("int").as("n_row_groups"),
      max($"row_group_num_rows").as("n_rows"),
      forCol("o_orderkey", $"num_values").as("okey_values"),
      forCol("o_orderkey", $"stats_min".cast("long")).as("okey_min"),
      forCol("o_orderkey", $"stats_max".cast("long")).as("okey_max"),
      forCol("o_totalprice", $"stats_min".cast("double")).as("price_min"),
      forCol("o_totalprice", $"stats_max".cast("double")).as("price_max"),
      forCol("o_orderstatus", $"stats_min").as("status_min"),
      forCol("o_orderstatus", $"stats_max").as("status_max"),
      forCol("o_nullable", $"null_count").as("nullable_nulls"))
  }

  val parquetMetadataGateSql: String =
    """SELECT CAST(1 AS INT) AS n_files, CAST(1 AS INT) AS n_row_groups,
      |  count(*) AS n_rows, count(*) AS okey_values,
      |  min(o_orderkey) AS okey_min, max(o_orderkey) AS okey_max,
      |  min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
      |  min(o_orderstatus) AS status_min, max(o_orderstatus) AS status_max,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nullable_nulls
      |FROM orders WHERE o_orderkey % 97 < 30""".stripMargin

  /** ORC twin of [[parquetMetadataGate]] (orc_metadata.hpp): same
    * slice written as ONE orc file, footer statistics reduced to
    * data-derivable facts. ORC's num_values counts NON-null values
    * (parquet counts all), so the nullable column's value count is the
    * null-policy probe here. */
  def orcMetadataGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("meta_orders_orc")
    Tables.orders(s, dir)
      .filter($"o_orderkey" % 97 < 30)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus",
        when($"o_orderstatus" =!= "O", $"o_orderstatus").as("o_nullable"),
        // typed-statistics probes: date / timestamp / decimal / boolean
        // footer min/max all render data-derivably (ISO date, UTC epoch
        // millis, decimal-as-double, true/false)
        to_date($"o_orderdate").as("o_date"),
        // cast NTZ → instant timestamp: Spark maps TimestampNTZType to
        // a plain ORC bigint (micros), which would exercise the integer
        // stats path instead of the timestamp one
        $"o_orderdate".cast("timestamp").as("o_ts"),
        $"o_totalprice".cast("decimal(12,2)").as("o_dec"),
        ($"o_orderkey" % 2 === 0).as("o_flag"))
      .coalesce(1)
      .write.mode("overwrite").orc(path)
    val m = Layout.orcMetadata(s, path)
    def forCol(c: String, expr: org.apache.spark.sql.Column) =
      max(when($"column_name" === c, expr))
    m.agg(
      countDistinct($"file_name").cast("int").as("n_files"),
      max($"file_rows").as("n_rows"),
      forCol("o_orderkey", $"num_values").as("okey_values"),
      forCol("o_orderkey", $"stats_min".cast("long")).as("okey_min"),
      forCol("o_orderkey", $"stats_max".cast("long")).as("okey_max"),
      forCol("o_totalprice", $"stats_min".cast("double")).as("price_min"),
      forCol("o_totalprice", $"stats_max".cast("double")).as("price_max"),
      forCol("o_orderstatus", $"stats_min").as("status_min"),
      forCol("o_orderstatus", $"stats_max").as("status_max"),
      forCol("o_nullable", $"num_values").as("nullable_nonnull"),
      forCol("o_nullable", $"has_null".cast("boolean")).as("nullable_has_null"),
      forCol("o_date", $"stats_min").as("date_min"),
      forCol("o_date", $"stats_max").as("date_max"),
      forCol("o_ts", $"stats_min".cast("long")).as("ts_min_ms"),
      forCol("o_ts", $"stats_max".cast("long")).as("ts_max_ms"),
      forCol("o_dec", $"stats_min".cast("double")).as("dec_min"),
      forCol("o_dec", $"stats_max".cast("double")).as("dec_max"),
      forCol("o_flag", $"stats_min").as("flag_min"),
      forCol("o_flag", $"stats_max").as("flag_max"))
  }

  val orcMetadataGateSql: String =
    """SELECT CAST(1 AS INT) AS n_files, count(*) AS n_rows,
      |  count(*) AS okey_values,
      |  min(o_orderkey) AS okey_min, max(o_orderkey) AS okey_max,
      |  min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
      |  min(o_orderstatus) AS status_min, max(o_orderstatus) AS status_max,
      |  CAST(sum(CASE WHEN o_orderstatus <> 'O' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nullable_nonnull,
      |  max(o_orderstatus = 'O') AS nullable_has_null,
      |  CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS date_min,
      |  CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS date_max,
      |  epoch_ms(min(o_orderdate)) AS ts_min_ms,
      |  epoch_ms(max(o_orderdate)) AS ts_max_ms,
      |  min(o_totalprice) AS dec_min, max(o_totalprice) AS dec_max,
      |  CAST(min(o_orderkey % 2 = 0) AS VARCHAR) AS flag_min,
      |  CAST(max(o_orderkey % 2 = 0) AS VARCHAR) AS flag_max
      |FROM orders WHERE o_orderkey % 97 < 30""".stripMargin

  /** Per-stripe ORC statistics (orc_metadata.hpp stripe structure —
    * [[orcMetadataGate]] at row-group grain): the lineitem slice is
    * written with a small stripe size so several stripes exist, then
    * the per-stripe stats are reduced to STRIPE-COUNT-INVARIANT facts
    * (sums of value counts, global extrema over stripe extrema) the
    * oracle recomputes from data — stripe boundaries themselves depend
    * on writer memory estimates and are not pinned. */
  def orcStripeMetadataGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = scratch("meta_lineitem_stripes")
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 13 < 6)
      .select($"l_orderkey", $"l_quantity", $"l_returnflag",
        when($"l_linenumber" =!= 1, $"l_extendedprice").as("l_nullable"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("orc.stripe.size", "65536").option("orc.compress", "NONE")
      .orc(path)
    val m = Layout.orcStripeMetadata(s, path)
    def forCol(c: String, expr: org.apache.spark.sql.Column) =
      max(when($"column_name" === c, expr))
    def sumCol(c: String, expr: org.apache.spark.sql.Column) =
      sum(when($"column_name" === c, expr))
    m.agg(
      sumCol("l_orderkey", $"num_values").as("okey_values"),
      // one row per (stripe, column): summing stripe_rows over a single
      // column's rows counts each stripe exactly once
      sumCol("l_orderkey", $"stripe_rows").as("n_rows"),
      min(when($"column_name" === "l_orderkey",
        $"stats_min".cast("long"))).as("okey_min"),
      forCol("l_orderkey", $"stats_max".cast("long")).as("okey_max"),
      min(when($"column_name" === "l_quantity",
        $"stats_min".cast("double"))).as("qty_min"),
      forCol("l_quantity", $"stats_max".cast("double")).as("qty_max"),
      min(when($"column_name" === "l_returnflag", $"stats_min"))
        .as("flag_min"),
      forCol("l_returnflag", $"stats_max").as("flag_max"),
      sumCol("l_nullable", $"num_values").as("nullable_nonnull"),
      forCol("l_nullable", $"has_null".cast("boolean")).as("nullable_has_null"))
  }

  val orcStripeMetadataGateSql: String =
    """SELECT count(*) AS okey_values, count(*) AS n_rows,
      |  min(l_orderkey) AS okey_min, max(l_orderkey) AS okey_max,
      |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
      |  min(l_returnflag) AS flag_min, max(l_returnflag) AS flag_max,
      |  CAST(sum(CASE WHEN l_linenumber <> 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nullable_nonnull,
      |  max(l_linenumber = 1) AS nullable_has_null
      |FROM lineitem WHERE l_orderkey % 13 < 6""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("io_parquet_metadata", parquetMetadataGate, parquetMetadataGateSql),
    Gate("io_orc_metadata", orcMetadataGate, orcMetadataGateSql),
    Gate("io_orc_stripe_metadata", orcStripeMetadataGate, orcStripeMetadataGateSql),
    Gate("io_csv_roundtrip", csvRoundTrip, csvRoundTripSql),
    Gate("io_json_roundtrip", jsonRoundTrip, jsonRoundTripSql),
    Gate("io_orc_roundtrip", orcRoundTrip, orcRoundTripSql),
    Gate("io_avro_roundtrip", avroRoundTrip, avroRoundTripSql),
    Gate("io_avro_dsv2_roundtrip", avroDsv2RoundTrip, avroDsv2RoundTripSql),
    Gate("io_arrow_roundtrip", arrowRoundTrip, arrowRoundTripSql),
    Gate("io_text_delim", textDelim, textDelimSql),
    Gate("io_bucketed_join", bucketedJoin, bucketedJoinSql),
    Gate("io_partition_prune", partitionPrune, partitionPruneSql),
    Gate("io_zorder_prune", zorderPrune, zorderPruneSql),
    Gate("io_zorder3_prune", zorder3Prune, zorder3PruneSql))
}
