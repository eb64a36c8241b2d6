package graft

/** Plan-inspection tool: prints the formatted physical plan of one or
  * more named SparkEntry queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName...]
  * Used to confirm scan pushdown (PushedFilters), broadcast choices,
  * and WholeStageCodegen coverage — the scale checklist from SURVEY §7.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(4)
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
