package graft

import org.scalatest.funsuite.AnyFunSuite

/** The deterministic micro-batch replay harness that feeds the
  * stream_* oracle gate rows (graft.streaming.Replay): schedule
  * construction, batch_id tagging, and schedule-invariance of a
  * mergeable twin (the property the gate's oracles rely on).
  */
class ReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("timeSlices: contiguous cover, deterministic, bounds") {
    val rows = (1 to 10).toSeq
    val s4 = graft.streaming.Replay.timeSlices(rows, 4)
    assert(s4.flatten == rows, "slices concatenate to the input in order")
    assert(s4.forall(_.nonEmpty))
    assert(graft.streaming.Replay.timeSlices(rows, 100).size == 10,
      "never more slices than rows")
    assert(graft.streaming.Replay.timeSlices(Seq.empty[Int], 3).isEmpty)
  }

  test("run tags emissions with their micro-batch id (update mode)") {
    import spark.implicits._
    val batches = Seq(Seq(("a", 1.0), ("b", 2.0)), Seq(("a", 3.0)))
    val out = graft.streaming.Replay.run(spark, batches, "update") { ds =>
      graft.streaming.StatefulOps.runningAgg(ds.groupByKey(_._1)).toDF()
    }.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getDouble(3))).sortBy(t => (t._1, t._2))
    // batch 0 emits both keys' first states; batch 1 re-emits only "a"
    assert(out.toSeq == Seq((0L, "a", 1L, 1.0), (0L, "b", 1L, 2.0),
      (1L, "a", 2L, 4.0)), s"got ${out.toSeq}")
  }

  test("schedule invariance: 1-batch and 3-batch replays agree on final state") {
    import spark.implicits._
    val rows = (1 to 30).map(i => ("k" + (i % 3), i.toDouble))
    def finalState(nBatches: Int): Map[String, (Long, Double)] = {
      val out = graft.streaming.Replay.run(spark,
        graft.streaming.Replay.timeSlices(rows, nBatches), "update") { ds =>
        graft.streaming.StatefulOps.runningAgg(ds.groupByKey(_._1)).toDF()
      }
      out.collect().map(r => (r.getString(1),
          (r.getLong(0), r.getLong(2), r.getDouble(3))))
        .groupBy(_._1).view
        .mapValues(v => { val m = v.map(_._2).maxBy(_._1); (m._2, m._3) })
        .toMap
    }
    assert(finalState(1) == finalState(3))
  }

  test("runWithRestart returns every row once and leaves no scratch directory") {
    import spark.implicits._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] =
      tmp.list().filter(_.startsWith("graft_replay_rs")).toSet
    val before = scratch()
    val out = graft.streaming.Replay.runWithRestart(spark,
      Seq(Seq(1L, 2L), Seq(3L)), Seq(Seq(4L), Seq(5L)))(_.toDF("v"))
    assert(scratch().diff(before).isEmpty, "scratch directory left behind")
    assert(out.as[Long].collect().sorted.toSeq == (1L to 5L))
  }

  test("rig checkpoint I/O spawns no process") {
    // /proc/stat's `processes` counts every task created since boot,
    // machine-wide, threads included: take this JVM's own thread starts
    // off it and what is left is child processes (plus co-tenant noise).
    // Without libhadoop, Hadoop's LocalFs forks chmod / readlink around
    // every checkpoint file (~440 children, each with a stderr reader
    // thread, for this replay); the rig's NioLocalFs does that I/O
    // in-process
    val stat = java.nio.file.Paths.get("/proc/stat")
    assume(java.nio.file.Files.isReadable(stat), "needs Linux /proc/stat")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    def forks(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(stat).asScala
        .collectFirst { case l if l.startsWith("processes ") =>
          l.split("\\s+")(1).toLong }.get - threads.getTotalStartedThreadCount
    }
    import spark.implicits._
    val t0 = 1700000000000L
    val rows = (0 until 400).map(i =>
      (new java.sql.Timestamp(t0 + i * 60000L), (i % 37).toLong, s"e${i % 3}"))
    val before = forks()
    val out = graft.streaming.Replay.run(spark,
      graft.streaming.Replay.timeSlices(rows, 4), "append") { ds =>
      graft.streaming.StatefulOps.streamingDedup(
        ds.toDF("ts", "user_id", "event_type"), "ts", "40 days",
        Seq("user_id", "event_type"))
    }.count()
    val spawned = forks() - before
    assert(out == 37 * 3, "every (user, event) key emitted once")
    info(s"one 4-batch replay started $spawned processes")
    assert(spawned < 100, s"one 4-batch replay started $spawned processes")
  }
}
