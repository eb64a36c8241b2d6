package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming coverage (SURVEY.md §2.10): event-time tumbling
  * windows + watermark (superset of the reference, which has no
  * event-time semantics) and bounded-key incremental aggregation
  * (streaming_groupby parity, cpp/include/cudf/groupby.hpp:478) via the
  * state store.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("event-time timeout emits closed sessions when the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val withWm = input.toDF().toDF("user", "ts", "value")
      .withWatermark("ts", "10 minutes")
    val grouped = withWm
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
    val sessions = graft.streaming.StatefulOps
      .sessionizeStream(grouped, gapMillis = 30L * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("evt_sess_out").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"), 1.0),
        (1L, ts("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // advance the watermark far past user 1's session end + gap
      input.addData((2L, ts("2024-01-01 03:00:00"), 9.0))
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 03:00:01"), 1.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user, n_events, sum_value FROM evt_sess_out WHERE user = 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == Seq((1L, 2L, 3.0)), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("driftStream emits exact KS/TVD numerators when the watermark closes a window") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // reference: uniform over {0..3}, 8 each
    val ref = (0L to 3L).map(_ -> 8L).toMap
    val winMs = 60L * 60 * 1000 // 1h windows
    val input = MemoryStream[(Timestamp, Long)]
    val withWm = input.toDF().toDF("ts", "v").withWatermark("ts", "0 seconds")
    val grouped = withWm.as[(Timestamp, Long)]
      .groupByKey(r => (r._1.getTime / winMs) * winMs)
    val out = StatefulOps.driftStream(grouped, ref, winMs)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("drift_out").start()
    try {
      // window A (00:xx): same shape as ref (uniform {0..3} x2) →
      // zero drift; spread over two batches to exercise state merge
      input.addData((ts("2024-01-01 00:01:00"), 0L),
        (ts("2024-01-01 00:02:00"), 1L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:03:00"), 2L),
        (ts("2024-01-01 00:04:00"), 3L))
      q.processAllAvailable()
      // window B (01:xx): disjoint support {10} → saturated drift
      input.addData((ts("2024-01-01 01:30:00"), 10L))
      q.processAllAvailable()
      // advance the watermark past both windows
      input.addData((ts("2024-01-01 05:00:00"), 0L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 06:00:00"), 0L))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT winStart, n, ksNum, tvdNum, den FROM drift_out ORDER BY winStart")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      assert(got.length >= 2, s"expected two closed windows, got ${got.toSeq}")
      val (_, nA, ksA, tvdA, denA) = got(0)
      // identical shape: numerators exactly zero
      assert(nA == 4L && ksA == 0L && tvdA == 0L && denA == 32L * 4L,
        s"window A not exact-zero drift: ${got(0)}")
      val (_, nB, ksB, tvdB, denB) = got(1)
      // disjoint support: KS = 1 and TVD = 1 exactly (num == den, 2*num == 2*den)
      assert(nB == 1L && ksB == denB && tvdB == 2L * denB,
        s"window B not saturated: ${got(1)}")
      // twin contract: the in-JVM numerators equal the batch formula
      val (k2, t2, d2) = StatefulOps.driftNums(Map(10L -> 1L), ref)
      assert((ksB, tvdB, denB) == ((k2, t2, d2)))
    } finally q.stop()
  }

  test("late rows behind the watermark don't kill or stretch sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val withWm = input.toDF().toDF("user", "ts", "value")
      .withWatermark("ts", "1 minute")
    val grouped = withWm.as[(Long, Timestamp, Double)].groupByKey(_._1)
    val sessions = graft.streaming.StatefulOps
      .sessionizeStream(grouped, gapMillis = 10L * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("evt_late_out").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // advance watermark far ahead (12:00 - 1min) via another user
      input.addData((2L, ts("2024-01-01 12:00:00"), 5.0))
      q.processAllAvailable()
      // a VERY late row for user 1 (09:00, behind watermark): before the
      // clamp fix this batch threw from setTimeoutTimestamp; the row must
      // also not re-open or extend the already-emitted session
      input.addData((1L, ts("2024-01-01 09:00:00"), 99.0))
      q.processAllAvailable()
      input.addData((3L, ts("2024-01-01 15:00:00"), 1.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT n_events, sum_value FROM evt_late_out WHERE user = 1")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 1.0)), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("tumbling event-time window agg over a stream matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))

    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("win_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "a", 1.0),
        (ts("2024-01-01 00:02:00"), "a", 2.0),
        (ts("2024-01-01 00:06:00"), "a", 4.0),
        (ts("2024-01-01 00:03:00"), "b", 8.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n, v FROM win_out ORDER BY event_type, n")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // window [00:00,00:05): a -> (2, 3.0), b -> (1, 8.0); [00:05,00:10): a -> (1, 4.0)
      assert(rows.toSet == Set(("a", 1L, 4.0), ("a", 2L, 3.0), ("b", 1L, 8.0)))
    } finally q.stop()
  }

  test("session_window groups events by inactivity gap on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val sessions = input.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))

    val q = sessions.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sess_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 7L, 1.0),
        (ts("2024-01-01 00:10:00"), 7L, 2.0),   // same session (gap 10m)
        (ts("2024-01-01 01:10:00"), 7L, 4.0))   // gap 60m -> new session
      q.processAllAvailable()
      val rows = spark.sql("SELECT n, v FROM sess_out ORDER BY n")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((1L, 4.0), (2L, 3.0)))
    } finally q.stop()
  }

  test("session re-keying: chained stateful ops — sessionize, then " +
    "re-aggregate sessions by a derived key in ONE streaming query") {
    // The 100 TB streaming shape: stage 1 holds per-user session state,
    // stage 2 re-keys the CLOSED sessions (shuffle on the new key) and
    // holds per-window counts — Spark chains both stateful operators in
    // a single query when stage 1 emits an event-time column
    // (session_window.end) that stage 2 windows over. Append mode +
    // watermark so stage-1 output finalizes before stage 2 consumes it.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val sessions = input.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
    val rekeyed = sessions
      .withColumn("size_class",
        when($"n_events" >= 2, "multi").otherwise("single"))
      .groupBy(window($"session_window", "1 hour"), $"size_class")
      .agg(count(lit(1)).as("n_sessions"))

    val q = rekeyed.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rekey_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 7L, 1.0),
        (ts("2024-01-01 00:10:00"), 7L, 2.0),  // user 7: 2-event session
        (ts("2024-01-01 00:05:00"), 8L, 4.0))  // user 8: 1-event session
      input.addData((ts("2024-01-01 03:00:00"), 9L, 1.0)) // advance wm
      input.addData((ts("2024-01-01 06:00:00"), 9L, 1.0)) // close stage 2
      q.processAllAvailable()
      // closed sessions: user 7 multi @00h, user 8 single @00h, user 9
      // single @03h (closed once the 06:00 event advances the watermark)
      val rows = spark.sql(
        """SELECT size_class, CAST(sum(n_sessions) AS BIGINT) AS n
          |FROM rekey_out GROUP BY size_class ORDER BY size_class""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("multi", 1L), ("single", 2L)),
        s"got ${rows.toSeq}")
      assert(spark.sql("SELECT count(*) FROM rekey_out").head.getLong(0) == 3L,
        "the two single sessions land in different hour windows")
    } finally q.stop()
  }

  test("stream-static broadcast join enriches a stream against a dimension") {
    // The standard streaming enrichment shape: the static side
    // broadcasts once, each micro-batch joins map-side — stateless, so
    // Append mode needs no watermark and no state store.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val joined = input.toDF().toDF("ts", "user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 7L, 1.0),
        (ts("2024-01-01 00:01:00"), 9L, 2.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, tier FROM enrich_out ORDER BY user_id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      assert(rows.toSeq == Seq((7L, Some("gold")), (9L, None)))
    } finally q.stop()
  }

  test("stream-static refresh: frozen plan-side dim vs per-batch re-read") {
    // Slowly-changing-dimension semantics, both sides of the contract:
    // (a) a parquet static side joined directly into the streaming plan
    // FREEZES its file listing at query start — later files are
    // invisible to every batch (even after refreshByPath, because the
    // analyzed streaming plan holds the resolved relation); (b) the
    // refresh pattern is re-reading the dimension INSIDE foreachBatch,
    // where each micro-batch plans a fresh scan. A long-running
    // enrichment job must use (b) — this test pins both behaviors so a
    // Spark upgrade changing either is caught.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft_dim").toString
    Seq((7L, "gold")).toDF("user_id", "tier")
      .write.mode("append").parquet(dimDir)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()
    val frozen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()
    val dimAtStart = spark.read.parquet(dimDir)
    val input = MemoryStream[(Timestamp, Long)]
    val q = input.toDF().toDF("ts", "user_id")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = batch.sparkSession.read.parquet(dimDir)
        batch.join(fresh, Seq("user_id"), "left")
          .select($"user_id", $"tier").collect()
          .foreach(r => results.add((r.getLong(0), Option(r.getString(1)))))
        batch.join(dimAtStart, Seq("user_id"), "left")
          .select($"user_id", $"tier").collect()
          .foreach(r => frozen.add((r.getLong(0), Option(r.getString(1)))))
      }.start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 8L))
      q.processAllAvailable()
      // dim gains user 8 between batches
      Seq((8L, "silver")).toDF("user_id", "tier")
        .write.mode("append").parquet(dimDir)
      spark.catalog.refreshByPath(dimDir)
      input.addData((ts("2024-01-01 00:01:00"), 8L))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      // per-batch re-read: batch 1 missed user 8, batch 2 sees it
      assert(results.asScala.toSeq == Seq((8L, None), (8L, Some("silver"))),
        s"re-read path: ${results.asScala.toSeq}")
      // the dim captured before query start stays stale in batch 2
      assert(frozen.asScala.toSeq.last == ((8L, None)),
        s"frozen path unexpectedly refreshed: ${frozen.asScala.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join: clicks within 10 min of impression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "30 minutes")
    val clk = clicks.toDF().toDF("ad_id", "clk_ts")
      .withWatermark("clk_ts", "30 minutes")
    val q = imp.join(clk, Seq("ad_id"))
      .filter($"clk_ts" >= $"imp_ts" &&
        $"clk_ts" <= $"imp_ts" + expr("INTERVAL 10 MINUTES"))
      .writeStream.format("memory").queryName("ssj_out").start()
    try {
      impressions.addData((1L, ts("2024-01-01 00:00:00")),
        (2L, ts("2024-01-01 00:00:00")))
      clicks.addData((1L, ts("2024-01-01 00:05:00")),   // within window
        (2L, ts("2024-01-01 00:20:00")))                // too late
      q.processAllAvailable()
      val got = spark.sql("SELECT ad_id FROM ssj_out").as[Long].collect()
      assert(got.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched rows after watermark") {
    // Outer emission semantics: an impression with no click inside its
    // window may only emit (with null click) once the watermark proves
    // no matching click can still arrive — the state-cleanup contract
    // that bounds join state at scale. Both event-time bounds (range
    // condition + watermark) are required for Spark to accept the outer
    // join in Append mode.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF().toDF("ad_id", "imp_ts")
      .withWatermark("imp_ts", "10 seconds")
    val clk = clicks.toDF().toDF("ad_id", "clk_ts")
      .withWatermark("clk_ts", "10 seconds")
    val q = imp.join(clk,
        imp("ad_id") === clk("ad_id") &&
          $"clk_ts" >= $"imp_ts" &&
          $"clk_ts" <= $"imp_ts" + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(imp("ad_id"), $"imp_ts", $"clk_ts")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_outer_out").start()
    try {
      impressions.addData((1L, ts("2024-01-01 00:00:00")), // will match
        (2L, ts("2024-01-01 00:00:00"))) // never clicked
      clicks.addData((1L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      // matched row may emit now; unmatched ad 2 must NOT have emitted
      val early = spark.sql(
        "SELECT ad_id FROM ssj_outer_out WHERE clk_ts IS NULL")
        .as[Long].collect()
      assert(early.isEmpty,
        s"null-padded row emitted before the watermark closed: ${early.toSeq}")
      // advance both watermarks far past imp_ts + 10 min
      impressions.addData((9L, ts("2024-01-01 02:00:00")))
      clicks.addData((9L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      impressions.addData((10L, ts("2024-01-01 03:00:00")))
      clicks.addData((10L, ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT ad_id, clk_ts IS NULL FROM ssj_outer_out WHERE ad_id <= 2")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
      assert(rows == Set((1L, false), (2L, true)),
        s"expected ad 1 matched + ad 2 null-padded, got $rows")
    } finally q.stop()
  }

  test("asofJoinStream matches probes to the latest reference event") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.AsOfIn
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val joined = StatefulOps.asofJoinStream(
      input.toDS()
        .map(r => AsOfIn(r._1, r._2, r._3, r._4))
        .groupByKey(_.key))

    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("asof_out").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:00:30"), "R", 10.0), // before any L -> None
        (1L, ts("2024-01-01 00:01:00"), "L", 100.0),
        (1L, ts("2024-01-01 00:02:00"), "R", 20.0)) // same-batch L match
      q.processAllAvailable()
      input.addData(
        (1L, ts("2024-01-01 00:05:00"), "R", 30.0)) // cross-batch state match
      q.processAllAvailable()
      // equal-timestamp L and R in ONE batch: the L-before-R tie-break
      // makes "at or before" include "at", deterministically
      input.addData(
        (1L, ts("2024-01-01 00:09:00"), "R", 40.0),
        (1L, ts("2024-01-01 00:09:00"), "L", 900.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT right_value, left_value FROM asof_out ORDER BY right_ts_us")
        .collect().map(r =>
          (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      assert(rows.toSeq == Seq(
        (10.0, None), (20.0, Some(100.0)), (30.0, Some(100.0)),
        (40.0, Some(900.0))))
    } finally q.stop()
  }

  test("asofJoinStream: a late cross-batch L never regresses newer reference state") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.AsOfIn
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val q = StatefulOps.asofJoinStream(
        input.toDS().map(r => AsOfIn(r._1, r._2, r._3, r._4))
          .groupByKey(_.key))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("asof_late_out").start()
    try {
      input.addData((1L, ts("2024-01-01 00:10:00"), "L", 100.0))
      q.processAllAvailable()
      // batch 2: an OLDER L arrives late, then a probe — the probe must
      // match the NEWER stored reference (00:10), not the stale one
      input.addData(
        (1L, ts("2024-01-01 00:01:00"), "L", 1.0),
        (1L, ts("2024-01-01 00:20:00"), "R", 9.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT left_value FROM asof_late_out")
        .collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(100.0),
        s"late L regressed the reference state: $got")
    } finally q.stop()
  }

  test("sessionizeStream: out-of-order strays split backward and emission waits for the watermark") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = StatefulOps.sessionizeStream(
      input.toDS().withWatermark("_2", "2 hours")
        .groupByKey(_._1), gapMillis = 30 * 60 * 1000) // 30 min gap
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_ooo_out").start()
    try {
      // batch 1: open session at 02:00-02:05
      input.addData((1L, ts("2024-01-01 02:00:00"), 1.0),
        (1L, ts("2024-01-01 02:05:00"), 1.0))
      q.processAllAvailable()
      // batch 2: within-watermark stray at 01:00 — >30min BEFORE the
      // open session's start; must NOT merge (a merged session would
      // span a 1-hour internal silence)
      input.addData((1L, ts("2024-01-01 01:00:00"), 5.0))
      q.processAllAvailable()
      // nothing may emit yet: the watermark hasn't passed end + gap
      assert(spark.sql("SELECT * FROM sess_ooo_out").isEmpty,
        "session emitted before the watermark closed it")
      // advance the watermark far past everything
      input.addData((1L, ts("2024-01-01 08:00:00"), 0.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 09:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT start_us, end_us, n_events FROM sess_ooo_out ORDER BY start_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def us(t: String) = ts(t).getTime * 1000
      assert(got.length >= 2, s"expected both sessions, got ${got.toSeq}")
      assert(got(0) == ((us("2024-01-01 01:00:00"),
        us("2024-01-01 01:00:00"), 1L)),
        s"stray must be its own session: ${got.toSeq}")
      assert(got(1) == ((us("2024-01-01 02:00:00"),
        us("2024-01-01 02:05:00"), 2L)),
        s"open session must stay intact: ${got.toSeq}")
    } finally q.stop()
  }

  test("streamingDedup drops cross-batch duplicates within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val deduped = graft.streaming.StatefulOps.streamingDedup(
      input.toDF().toDF("ts", "digest", "value"), "ts", "10 minutes",
      Seq("digest"))

    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "d1", 1.0),
        (ts("2024-01-01 00:02:00"), "d2", 2.0),
        (ts("2024-01-01 00:03:00"), "d1", 3.0)) // same-batch dup
      q.processAllAvailable()
      // cross-batch dup at a DIFFERENT event time still dedups (the
      // event-time column is not part of the key)
      input.addData((ts("2024-01-01 00:05:00"), "d1", 4.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT digest, value FROM dedup_out ORDER BY digest")
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(rows.toSeq == Seq(("d1", 1.0), ("d2", 2.0)),
        s"first occurrence per digest must survive, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("nearDupScreenBatch admits only novel docs against a static corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five")).toDF("doc_id", "text").cache()
    val screen = graft.streaming.StatefulOps.nearDupScreenBatch(
      corpus, "doc_id", "text", numHashes = 16, bands = 4, threshold = 0.9)
    val survived = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = screen(batch).select("doc_id").as[Long].collect()
        survived.synchronized { survived ++= kept }
        ()
      }
      .start()
    try {
      input.addData(
        (10L, "alpha beta gamma delta epsilon"), // near-dup of corpus 0
        (11L, "six seven eight nine ten"))       // novel
      q.processAllAvailable()
      input.addData((12L, "one two three four five")) // near-dup of corpus 1
      q.processAllAvailable()
      assert(survived.sorted.toSeq == Seq(11L),
        s"only the novel doc must pass the screen, got $survived")
    } finally q.stop()
  }

  test("fuzzyScreenBatch rejects typo-variants of corpus keys, admits novel ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("paypal", "amazon", "google").toDF("domain").cache()
    val screen = graft.operators.FuzzyJoin.fuzzyScreenBatch(
      corpus, "domain", k = 1)
    val survived = scala.collection.mutable.ArrayBuffer.empty[String]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "domain")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = screen(batch).select("domain").as[String].collect()
        survived.synchronized { survived ++= kept }
        ()
      }
      .start()
    try {
      input.addData(
        (10L, "paypa1"),   // substitution variant of corpus "paypal"
        (11L, "github"))   // novel, far from everything
      q.processAllAvailable()
      input.addData(
        (12L, "amazonn"),  // insertion variant of corpus "amazon"
        (13L, "gogle"),    // deletion variant of corpus "google"
        (14L, "paypal"))   // exact corpus hit is also distance 0 ≤ k
      q.processAllAvailable()
      assert(survived.sorted.toSeq == Seq("github"),
        s"only the novel domain must pass the screen, got $survived")
    } finally { q.stop(); screen.close() }
  }

  test("semanticScreenBatch admits only novel embeddings against a static corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two well-separated corpus clusters; the screen trains 2 cells
    val corpus = Seq(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.9, 0.1, 0.0)),
      (2L, Array(0.0, 0.0, 1.0)), (3L, Array(0.0, 0.1, 0.9))
    ).toDF("vec_id", "embedding").cache()
    val screen = graft.operators.Similarity.semanticScreenBatch(
      corpus, "vec_id", "embedding", threshold = 0.95, nCells = 2)
    val survived = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Array[Double])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = screen(batch).select("vec_id").as[Long].collect()
        survived.synchronized { survived ++= kept }
        ()
      }
      .start()
    try {
      input.addData(
        (10L, Array(0.99, 0.05, 0.0)),  // near-dup of corpus cluster A
        (11L, Array(0.0, 1.0, 0.0)))    // novel direction
      q.processAllAvailable()
      input.addData((12L, Array(0.0, 0.05, 0.99))) // near-dup of cluster B
      q.processAllAvailable()
      assert(survived.sorted.toSeq == Seq(11L),
        s"only the novel embedding must pass the screen, got $survived")
    } finally q.stop()
  }

  test("foreachBatch sink writes each micro-batch to parquet (custom sink surface)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fes").toString + "/out"
    val input = MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("k", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(dir)
      }.start()
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      input.addData((3L, 3.0))
      q.processAllAvailable()
      val got = spark.read.parquet(dir)
      assert(got.count() == 3)
      assert(got.select("batch_id").distinct().count() == 2)
      assert(got.agg(sum($"v")).as[Double].head() == 6.0)
    } finally q.stop()
  }

  test("incremental grouped aggregation accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val counts = input.toDF().toDF("k", "v")
      .groupBy($"k").agg(sum($"v").as("total"))

    val q = counts.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sg_out").start()
    try {
      input.addData(("x", 1L), ("y", 2L))
      q.processAllAvailable()
      input.addData(("x", 10L))
      q.processAllAvailable()
      val got = spark.sql("SELECT k, total FROM sg_out ORDER BY k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("x", 11L), ("y", 2L)))
    } finally q.stop()
  }

  test("curation split + mixture run unchanged on a stream (zero-shuffle maps)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // the same stateless Curation stages used in batch apply per micro-batch:
    // ingest-time corpus assembly (split assignment + source mixing)
    val curated = graft.operators.Curation.mixCorpora(
      graft.operators.Curation.assignSplit(
        input.toDF().toDF("doc_id", "source"),
        "doc_id", "s", Seq("train" -> 0.5, "test" -> 1.0)),
      "source", "doc_id", Map("keep" -> 1.0), seed = "m")

    val q = curated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cur_out").start()
    try {
      input.addData((0L until 100L).map(i =>
        (i, if (i % 2 == 0) "keep" else "drop")): _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, split FROM cur_out")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.length == 50 && got.forall(_._1 % 2 == 0)) // mixture kept 'keep' only
      // split labels match the batch assignment exactly (same hash, same seed)
      val batch = graft.operators.Curation.assignSplit(
          (0L until 100L).filter(_ % 2 == 0).toDF("doc_id"),
          "doc_id", "s", Seq("train" -> 0.5, "test" -> 1.0))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got.forall { case (id, sp) => batch(id) == sp })
    } finally q.stop()
  }

  test("checkpointed parquet sink: restart resumes from offsets, no dup rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    val input = MemoryStream[(Long, Double)]
    def start() = input.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", out).start()
    val q1 = start()
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the same checkpoint: only NEW offsets process —
    // the batch already committed to the sink log must not re-emit
    val q2 = start()
    try {
      input.addData((3L, 3.0))
      q2.processAllAvailable()
      val got = spark.read.parquet(out)
      assert(got.count() == 3, "restart must not duplicate committed rows")
      assert(got.agg(sum($"v")).as[Double].head() == 6.0)
    } finally q2.stop()
  }

  /** Runs the transformWithState sessionizer (RocksDB state) over four
    * batches whose last two push the watermark past both of user 1's
    * sessions, so they close through expired timers; returns user 1's
    * (user, n_events, sum_value) rows. */
  private def runTwsSessionizer(queryName: String): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Timestamp, Double)]
    val grouped = input.toDF().toDF("user", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
    val sessions = graft.streaming.StatefulOps
      .sessionizeStreamTws(grouped, gapMillis = 30L * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"), 1.0),
        (1L, ts("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // same user, new session after the 30-min gap
      input.addData((1L, ts("2024-01-01 02:00:00"), 5.0))
      q.processAllAvailable()
      // watermark far ahead closes everything via timers
      input.addData((2L, ts("2024-01-01 06:00:00"), 9.0))
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 06:00:01"), 1.0))
      q.processAllAvailable()
      spark.sql(
        s"SELECT user, n_events, sum_value FROM $queryName WHERE user = 1 " +
          "ORDER BY sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState sessionizer matches the fMGWS one (RocksDB state)") {
    val got = runTwsSessionizer("tws_sess_out")
    assert(got == Seq((1L, 2L, 3.0), (1L, 1L, 5.0)),
      s"expected both user-1 sessions closed, got $got")
  }

  test("TWS sessionizer never deletes a timer that is gone") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the operator deletes a firing timer after its handler returns; a
    // handler that deletes it too makes TimerStateImpl warn per firing.
    // Start the session first: its logging setup reloads the log4j
    // configuration, which would drop an appender attached before it.
    spark.sparkContext
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("timer-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.sql.execution." +
      "streaming.operators.stateful.transformwithstate.timers.TimerStateImpl")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    val got =
      try runTwsSessionizer("tws_timer_out")
      finally { logger.removeAppender(appender); appender.stop() }
    // both sessions closed, so their timers fired
    assert(got == Seq((1L, 2L, 3.0), (1L, 1L, 5.0)))
    val failed = warnings.toArray.count(_.toString.contains("Failed to delete timer"))
    assert(failed == 0, s"$failed 'Failed to delete timer' warnings")
  }

  test("streaming ingest curation: redact -> quality-filter -> dedup in one query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    // the batch curation stages compose unchanged on a stream: PII
    // redaction + quality scoring are stateless maps, exact dedup is the
    // watermark-bounded stateful stage
    val scored = graft.operators.TextPipeline.redactPii(
        input.toDF().toDF("ts", "doc_id", "text"), "text")
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("redacted")))
      .withColumn("quality", graft.functions.TextFunctions.qualityScore("toks"))
      // real curation gates on length AND composite quality: TTR alone
      // rates a one-word doc highly
      .filter(size(col("toks")) >= 5 && col("quality") >= 0.3)
      .withColumn("digest", md5(col("redacted")))
    val curated = graft.streaming.StatefulOps.streamingDedup(
      scored, "ts", "10 minutes", Seq("digest"))

    val q = curated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_cur_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), 1L,
          "a perfectly reasonable document with enough words to pass"),
        (ts("2024-01-01 00:02:00"), 2L, "x"), // fails the quality floor
        (ts("2024-01-01 00:03:00"), 3L,
          "email me at a@b.com and a perfectly reasonable document too"))
      q.processAllAvailable()
      // cross-batch exact dup of doc 1 (post-redaction digest) drops
      input.addData((ts("2024-01-01 00:04:00"), 4L,
        "a perfectly reasonable document with enough words to pass"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, redacted FROM stream_cur_out ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.map(_._1).toSeq == Seq(1L, 3L),
        s"expected docs 1 and 3 to survive, got ${got.toSeq}")
      assert(got.find(_._1 == 3L).get._2.contains("<EMAIL>"),
        "PII must be redacted before hashing")
    } finally q.stop()
  }

  test("segmentScreenBatch scrubs known corpus lines from a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "subscribe to our newsletter\nunique corpus content"),
      (1L, "all rights reserved")).toDF("doc_id", "text").cache()
    val screen = graft.operators.SegmentDedup.segmentScreenBatch(
      corpus, "doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = screen(batch).select("doc_id", "cleaned")
          .as[(Long, String)].collect()
        out.synchronized { out ++= kept }
        ()
      }
      .start()
    try {
      input.addData(
        (10L, "fresh reporting\nall rights reserved"),
        (11L, "subscribe to our newsletter"))
      q.processAllAvailable()
      input.addData((12L, "subscribe to our newsletter\nmore fresh text"))
      q.processAllAvailable()
      val byId = out.toMap
      assert(byId(10L) == "fresh reporting", "corpus line must be scrubbed")
      assert(byId(11L) == "", "fully-boilerplate doc survives empty")
      assert(byId(12L) == "more fresh text",
        "index reused across micro-batches")
    } finally { q.stop(); screen.close() }
  }

  test("weightedReservoirStream: final state equals the batch weighted sample") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.WRIn
    implicit val sqlCtx = spark.sqlContext
    // 90 rows / 3 groups, skewed weights; fed in 3 arbitrary batches
    val rows = (0L until 90L).map(i =>
      (s"g${i % 3}", i, if (i % 7 == 0) 50.0 else 1.0 + (i % 5)))
    val input = MemoryStream[(String, Long, Double)]
    val sampled = StatefulOps.weightedReservoirStream(
      input.toDS().map(r => WRIn(r._1, r._2, r._3)).groupByKey(_.group),
      k = 5, seed = "wres")
    val q = sampled.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("wres_out").start()
    try {
      input.addData(rows.slice(0, 40): _*); q.processAllAvailable()
      // replay a slice (same ids): dedup-by-id must make this a no-op
      input.addData(rows.slice(20, 60): _*); q.processAllAvailable()
      input.addData(rows.slice(60, 90): _*); q.processAllAvailable()
      // Update mode re-emits a group's sample each batch; the LAST
      // emission per group is its final reservoir
      val finalRows: Set[(String, Long)] =
        spark.sql("SELECT `group`, id FROM wres_out").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      // reconstruct "last emission per group" by replaying the batch op
      val batch = graft.operators.Curation.sampleWeightedByGroup(
        rows.toDF("group", "id", "w"), "group", "id", "w", k = 5,
        seed = "wres")
        .select($"group", $"id").as[(String, Long)].collect().toSet
      // every batch-selected row appears in the stream output, and the
      // stream's final per-group top-5 is exactly the batch selection:
      // take each group's 5 smallest-priority ids from the full emission
      // log — dedup makes the log a superset whose minimum is the state
      assert(batch.subsetOf(finalRows), s"missing: ${batch -- finalRows}")
      val u = (id: Long) => graft.plans.PortableHash.md5_60(
        ("wres|" + id).getBytes("UTF-8")).toDouble / 1152921504606846976.0
      val w: Map[Long, Double] = rows.map(r => r._2 -> r._3).toMap
      // .values.toSeq first: flatMap directly on the Map would rebuild
      // a Map keyed by group and silently keep ONE entry per group
      val streamTop: Set[(String, Long)] = finalRows.groupBy(_._1)
        .values.toSeq
        .flatMap(g =>
          g.toSeq.sortBy { case (_, id) => (u(id) / w(id), id) }.take(5))
        .toSet
      assert(streamTop == batch, "stream reservoir diverges from batch")
    } finally q.stop()
  }
}
