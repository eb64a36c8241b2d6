package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All engine inputs are parquet scans so that Catalyst's predicate
  * pushdown / column pruning / partition sizing apply (SURVEY.md §2.1:
  * the reference's `read_parquet`, cpp/include/cudf/io/parquet.hpp:1009,
  * maps to Spark's built-in parquet source).
  *
  * Each `(session, path)` is resolved once, as cudf-polars' `Scan` node
  * carries the schema resolved when its plan was made (SURVEY.md
  * §IR-level scan). The first `load` runs `spark.read.parquet` — a file
  * listing plus a footer-reading schema-inference job — and keeps the
  * resolved `HadoopFsRelation` (inferred schema + `InMemoryFileIndex`).
  * Every `load` then wraps it with `baseRelationToDataFrame`, the call the
  * reader itself makes for v1 parquet, so plans, pushdown, pruning and
  * statistics are those of a fresh read and building a query launches no
  * job.
  *
  * Contract: a table's files do not change while a session that has
  * loaded them is alive. The testdata, the perfbench inputs and Bench's
  * 10x copy (renamed into place before its first load) all hold it;
  * readers of files that change (`GFrame.read`, `Replay`, `Layout`) use
  * `spark.read.parquet` directly.
  *
  * The relation is cached, never the DataFrame: each wrap gets fresh
  * attribute ids, so a query that loads one table twice (q7/q8's two
  * `nation`s) keeps two distinct relations, where a shared DataFrame
  * would make the self-join ambiguous. The cache belongs to one session,
  * because the relation captures its `SparkSession` and the scan reads
  * conf through it; a different session replaces it, so a stopped
  * session stays reachable only until the next one loads.
  */
object Tables {
  private var owner: SparkSession = _
  private val relations = mutable.HashMap.empty[String, BaseRelation]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val rel = synchronized {
      if (owner ne spark) { owner = spark; relations.clear() }
      relations.getOrElseUpdate(path,
        spark.read.parquet(path).queryExecution.analyzed.collectFirst {
          case l: LogicalRelation => l.relation
        }.get)
    }
    spark.baseRelationToDataFrame(rel)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped as both parquet INT64 TIMESTAMP(NANOS) — which
    * Spark has no native type for (SURVEY.md §1.2: TIMESTAMP_NANOS → µs
    * truncation) — and, in newer generations, plain TIMESTAMP(MICROS).
    * Adapt to whichever the file carries: when the column reads back as a
    * long (nanosAsLong), truncate ns→µs exactly as DuckDB does so the
    * oracles agree; when it is already a timestamp, pass it through.
    * Load events only through here: its relation is resolved once, and
    * must be resolved under the conf set below. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Session TZ is pinned to UTC everywhere (Bench/Verify/tests), so
        // NTZ→TIMESTAMP is a pure reinterpretation; downstream operators
        // (unix_micros, range windows) expect TimestampType.
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
