package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named
  * query over the test data, paired with DuckDB oracle SQL.
  * Query packs live in graft.queries.*.
  */
object SparkEntry {

  /** All query packs, each covering a slice of the SURVEY §2 inventory.
    * Single source of truth: tests iterate this val, so registering a
    * new pack can never desynchronize the uniqueness check. */
  val packs: Seq[QueryPack] =
    Seq(Tpch, Tpch2, Tpch3, TpcDs, Joins, Aggs, Windows, SortSet, Funcs,
      Nested, TextOps, EventOps, IoPack, MiscPack, CurationPack, StreamPack)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.gates).map(g => g.name -> g.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.gates).map(g => g.name -> g.oracleSql).toMap
}
