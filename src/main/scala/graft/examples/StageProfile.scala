package graft.examples

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level profile of one named SparkEntry query: runs it (warm,
  * after one untimed pass), then prints every stage's executor-run
  * time, shuffle read/write bytes and record counts, sorted by run
  * time — the "where do the seconds go" view the guide's UI loop gives
  * interactively, usable headless. Usage:
  *   sbt "runMain graft.examples.StageProfile <query> [sfDir] [runs]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProfile <queryName> [sfDir] [runs]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm pass (tables + codegen)
    case class St(id: Int, nm: String, runMs: Long, cpuMs: Long,
      srMB: Double, swMB: Double, inMB: Double, rows: Long, tasks: Int)
    val stages = collection.mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(80),
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.recordsRead, i.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    for (_ <- 1 to runs) fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000) // let the listener bus drain
    println(f"== $name: wall ${wall}%.2f s over $runs run(s), " +
      f"${stages.size} stages ==")
    println(f"${"stage"}%6s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"sh_rd_MB"}%9s " +
      f"${"sh_wr_MB"}%9s ${"in_MB"}%8s ${"sh_rows"}%10s ${"tasks"}%6s  name")
    stages.sortBy(-_.runMs).take(25).foreach { s =>
      println(f"${s.id}%6d ${s.runMs}%8d ${s.cpuMs}%8d ${s.srMB}%9.1f " +
        f"${s.swMB}%9.1f ${s.inMB}%8.1f ${s.rows}%10d ${s.tasks}%6d  ${s.nm}")
    }
    println(f"TOTAL run_ms=${stages.map(_.runMs).sum} " +
      f"cpu_ms=${stages.map(_.cpuMs).sum} stages=${stages.size} " +
      f"tasks=${stages.map(_.tasks).sum}")
    spark.stop()
  }
}
