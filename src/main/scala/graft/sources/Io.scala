package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink coverage (SURVEY.md §2.1 — cpp/src/io, the reference's
  * largest subsystem). Spark's built-in readers provide the same option
  * surface: dtype inference (csv.hpp:1350 dtype options ≙ inferSchema),
  * per-row JSON diagnostics (json.hpp:1021 ≙ PERMISSIVE +
  * columnNameOfCorruptRecord), byte-range chunking (≙ file splits /
  * maxPartitionBytes), and predicate pushdown in parquet/orc footers.
  *
  * Avro (avro.hpp:217): the `spark-avro` DataSource module is absent
  * from this offline classpath, so [[AvroDataSource]] registers the
  * `graft-avro` DataSource V2 format over the avro core jar that IS
  * present. Kafka (custreamz) maps to readStream.format("kafka");
  * no broker in this environment — exercised via MemoryStream.
  */
object Io {

  /** CSV sink + source round trip. Doubles survive exactly: Spark writes
    * shortest-round-trip decimal strings. CAVEAT (same hazard
    * Layout.writePartitioned documents for partition columns): with
    * `inferSchema = true` the read-back TYPES come from the data, not
    * from `df.schema` — a string column holding "01"/"7" returns as
    * int (losing the leading zero), "2024-01-01" strings return as
    * date. Pass `inferSchema = false` to read back under the original
    * schema when type fidelity matters more than inference parity. */
  def csvRoundTrip(df: DataFrame, path: String, inferSchema: Boolean = true): DataFrame = {
    df.write.mode("overwrite").option("header", "true").csv(path)
    val r = df.sparkSession.read.option("header", "true")
    (if (inferSchema) r.option("inferSchema", "true")
     else r.schema(df.schema)).csv(path)
  }

  /** NDJSON (json-lines) sink + source round trip (json.hpp:926,1451). */
  def jsonRoundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").json(path)
    df.sparkSession.read.schema(df.schema).json(path)
  }

  /** ORC sink + source round trip (orc.hpp:464,1076). */
  def orcRoundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").orc(path)
    df.sparkSession.read.orc(path)
  }

  /** PERMISSIVE NDJSON read with per-row diagnostics (json.hpp:1021
    * read_json_with_diagnostics ≙ columnNameOfCorruptRecord). */
  def readJsonPermissive(spark: SparkSession, schema: StructType,
      path: String): DataFrame = {
    // a caller reusing the schema of a frame THIS function produced
    // already has _corrupt_record — adding it again would fail the read
    // with a duplicate-column error
    val withDiag =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", "string")
    spark.read
      .schema(withDiag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** Delimited text chunker (text/multibyte_split.hpp:37): custom record
    * separator via lineSep; each record becomes one row. */
  def readTextDelim(spark: SparkSession, path: String, delim: String): DataFrame =
    spark.read.option("lineSep", delim).text(path)
}
