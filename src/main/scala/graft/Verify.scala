package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=<regex>: dump/compare just the matching queries
    // (local iteration aid; the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.pattern.matcher(n).matches())
    }
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    println(s"[verify] ${selected.size - failed.size} dumped, " +
      s"${failed.size} failed${if (failed.nonEmpty) failed.mkString(": ", ", ", "") else ""}")
    // Failures leave no parquet dir, so they'd silently vanish from the
    // driver's correctness artifact (round-5 lesson: 22 queries dropped
    // without a trace). Record them explicitly alongside the dumps.
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map("\"" + _ + "\"").mkString("[", ",", "]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
