package graft.queries

import java.sql.Timestamp

import graft.Tables
import graft.streaming.{Replay, StatefulOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Oracle-gated STREAMING queries (SURVEY.md §2.10): each entry replays
  * a fixed micro-batch schedule of the events table through a
  * StatefulOps twin via [[graft.streaming.Replay]] and exposes the
  * final emitted table — the same rows a DuckDB batch SQL over the
  * same parquet computes, because every twin is contractually equal to
  * its batch operator under any batch schedule (mergeable state /
  * in-order feed / exact integer numerators).
  *
  * Determinism ground rules shared by all entries:
  *  - feeds are time-ordered slices (plus far-future sentinel batches
  *    where event-time timers must drain), so no row is ever
  *    watermark-dropped and the replay equals the batch semantics;
  *  - every double that crosses an aggregation is integer-valued
  *    (round(value*100)) so float summation order cannot matter;
  *  - session/window times are millisecond-truncated in BOTH engines
  *    (java.sql.Timestamp.getTime carries ms), oracle side via
  *    (epoch_us(ts) // 1000).
  */
object StreamPack extends QueryPack {

  /** Oracle SQL for the portable md5-60 hash unit (same pipeline as
    * Curation.hashUnit / PortableHash.md5_60). */
  private def uSql(keyExpr: String, seed: String): String =
    s"(('0x' || substring(md5('$seed|' || CAST($keyExpr AS VARCHAR)), 1, 15))" +
      "::BIGINT::DOUBLE / 1152921504606846976.0)"

  private val Batches = 4

  // Feeds are collected unsorted and sorted here on the driver, where
  // their rows go anyway: an `orderBy` before `collect` costs a sampling
  // job and a range shuffle. Both orders are Spark's for the feeds'
  // non-null keys; strings compare by their UTF-8 bytes. Rows with
  // equal keys may come out in another order, which time-ordered slices
  // make harmless.
  private implicit val utf8Order: Ordering[String] =
    Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0).on(UTF8String.fromString)
  private implicit val tsOrder: Ordering[Timestamp] =
    Ordering.fromLessThan[Timestamp](_.before(_))

  /** Driver-side half-AWAY-FROM-ZERO ×100 rounding — matches DuckDB's
    * round(value * 100) exactly. java's math.round is half-UP (toward
    * +∞), which diverges on negative exact .5 halves; current event
    * values are non-negative so the two agree, but the gate contract is
    * that rounding can never matter for ANY corpus. */
  private def r100(v: Double): Double = {
    val x = v * 100
    if (x < 0) -math.floor(-x + 0.5) else math.floor(x + 0.5)
  }

  // -- incremental per-key aggregation --------------------------------------

  /** streaming_groupby parity, end-to-end: runningAgg over 4 time-ordered
    * micro-batches; the gate row is each key's LAST Update-mode emission
    * (= final state = whole-stream aggregate). */
  def runningAggQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
      .map { case (_, et, v) => (et, r100(v)) }
    val out = Replay.run(s, Replay.timeSlices(rows, Batches), "update") { ds =>
      StatefulOps.runningAgg(ds.groupByKey(_._1)).toDF()
    }
    val w = Window.partitionBy(col("key")).orderBy(col("batch_id").desc)
    out.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("key"), col("count").as("cnt"), col("sum").as("total"))
      .orderBy("key")
  }

  val runningAggSql: String =
    """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -- streaming exact dedup ------------------------------------------------

  /** streamingDedup exactly-once proof: every (user_id, event_type) key
    * survives the whole replay EXACTLY once (n_emitted = 1 for every
    * distinct key — a dropped-dup bug would push a key to 2+, a
    * lost-row bug would drop its row). Watermark delay exceeds the
    * corpus span so no dedup state is evicted mid-replay. */
  def dedupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .as[(Timestamp, Long, String)].collect().toSeq.sortBy(r => (r._1, r._2))
    val out = Replay.run(s, Replay.timeSlices(rows, Batches), "append") { ds =>
      StatefulOps.streamingDedup(ds.toDF("ts", "user_id", "event_type"),
        "ts", "40 days", Seq("user_id", "event_type"))
    }
    out.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_emitted"))
      .orderBy("user_id", "event_type")
  }

  val dedupSql: String =
    """SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_emitted
      |FROM (SELECT DISTINCT user_id, event_type FROM events)
      |ORDER BY user_id, event_type""".stripMargin

  // -- event-time sessionization -------------------------------------------

  private val GapMs = 2L * 60 * 60 * 1000 // 2h session gap

  /** sessionizeStream vs the batch gaps-and-islands oracle: 2h gap,
    * 10-minute watermark, time-ordered feed; two far-future sentinel
    * batches (excluded user −1) advance the watermark so every real
    * session's event-time timer fires before the replay ends. */
  def sessionizeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("value"))
      .as[(Timestamp, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
      .map { case (t, u, v) => (u, t, r100(v)) }
    val maxMs = rows.map(_._2.getTime).max
    val day = 86400000L
    val sentinels = Seq(
      Seq((-1L, new Timestamp(maxMs + 30 * day), 0.0)),
      Seq((-1L, new Timestamp(maxMs + 31 * day), 0.0)))
    val out = Replay.run(s, Replay.timeSlices(rows, Batches) ++ sentinels,
      "append") { ds =>
      val wm = ds.toDF("user", "ts", "value").withWatermark("ts", "10 minutes")
      StatefulOps.sessionizeStream(
        wm.as[(Long, Timestamp, Double)].groupByKey(_._1), GapMs).toDF()
    }
    out.filter(col("user") >= 0)
      .select(col("user").as("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")
  }

  val sessionizeSql: String =
    s"""WITH e AS (SELECT user_id, (epoch_us(ts) // 1000) * 1000 AS tus,
       |             CAST(round(value * 100) AS DOUBLE) AS v FROM events),
       |o AS (SELECT user_id, tus, v,
       |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
       |      FROM e),
       |m AS (SELECT user_id, tus, v,
       |        sum(CASE WHEN prev IS NULL OR tus - prev > ${GapMs * 1000}
       |            THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY user_id ORDER BY tus
       |                ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM o)
       |SELECT user_id, CAST(min(tus) AS BIGINT) AS start_us,
       |  CAST(max(tus) AS BIGINT) AS end_us,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(v) AS DOUBLE) AS sum_value
       |FROM m GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin

  /** [[sessionizeQ]] through the transformWithState API + RocksDB
    * state store ([[StatefulOps.sessionizeStreamTws]]) — the Spark-4.x
    * successor path, gated by the SAME gaps-and-islands oracle: the two
    * state APIs share advanceSession, so their gate rows must be
    * byte-identical or one of them regressed. */
  def sessionizeTwsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("value"))
        .as[(Timestamp, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
        .map { case (t, u, v) => (u, t, r100(v)) }
      val maxMs = rows.map(_._2.getTime).max
      val day = 86400000L
      val sentinels = Seq(
        Seq((-1L, new Timestamp(maxMs + 30 * day), 0.0)),
        Seq((-1L, new Timestamp(maxMs + 31 * day), 0.0)))
      val out = Replay.run(s, Replay.timeSlices(rows, Batches) ++ sentinels,
        "append") { ds =>
        val wm = ds.toDF("user", "ts", "value")
          .withWatermark("ts", "10 minutes")
        StatefulOps.sessionizeStreamTws(
          wm.as[(Long, Timestamp, Double)].groupByKey(_._1), GapMs).toDF()
      }
      out.filter(col("user") >= 0)
        .select(col("user").as("user_id"), col("start_us"), col("end_us"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "start_us")
    } finally prev match {
      case Some(p) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** [[sessionizeQ]] across a CRASH-RESTART: half the schedule runs
    * under one query, the query stops, a fresh instance resumes from
    * the checkpoint and consumes the rest ([[Replay.runWithRestart]]).
    * Oracle is the SAME gaps-and-islands SQL — so the gate proves
    * state-store recovery plus the parquet sink's exactly-once commit
    * log give a result indistinguishable from an unbroken run. */
  def restartQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("value"))
      .as[(Timestamp, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
      .map { case (t, u, v) => (u, t, r100(v)) }
    val maxMs = rows.map(_._2.getTime).max
    val day = 86400000L
    val sentinels = Seq(
      Seq((-1L, new Timestamp(maxMs + 30 * day), 0.0)),
      Seq((-1L, new Timestamp(maxMs + 31 * day), 0.0)))
    val (first, second) = Replay.timeSlices(rows, Batches)
      .splitAt(Batches / 2)
    val out = Replay.runWithRestart(s, first, second ++ sentinels) { ds =>
      val wm = ds.toDF("user", "ts", "value").withWatermark("ts", "10 minutes")
      StatefulOps.sessionizeStream(
        wm.as[(Long, Timestamp, Double)].groupByKey(_._1), GapMs).toDF()
    }
    out.filter(col("user") >= 0)
      .select(col("user").as("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")
  }

  // -- streaming drift monitor ---------------------------------------------

  private val WinMs = 7L * 86400000 // 7-day tumbling drift windows

  /** driftStream vs a per-window SQL replay of the exact integer
    * KS/TVD numerators (binWidth 1): metric = round(value·100) mod 7,
    * reference histogram = the 'view' rows' metric distribution
    * (computed batch-side and broadcast, exactly as a production
    * monitor would pin a trusted-corpus histogram). Sentinel batches
    * close every real window; the sentinels' own window never fires
    * (its close time stays past the final watermark). */
  def driftQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("event_type"),
        (round(col("value") * 100).cast("long") % 7).as("v"))
    val ref = ev.filter(col("event_type") === "view")
      .groupBy("v").count()
      .as[(Long, Long)].collect().toMap
    val rows = ev.select("ts", "v").as[(Timestamp, Long)].collect().toSeq.sorted
    val maxMs = rows.map(_._1.getTime).max
    // Sentinels aligned to the START of a WinMs window 10 windows past
    // the corpus (both inside the SAME window, 1h apart): the final
    // watermark is sentinel2 − 1h = w1, strictly before the sentinel
    // window's close w1 + WinMs, so the sentinels' own window provably
    // never fires for ANY corpus — while the watermark after sentinel 1
    // (w1 − 1h) exceeds every real window's close by ≥ 9 windows.
    // (The previous maxMs + 60d sentinels only happened to satisfy this
    // for the current corpus's phase within the 7-day grid.)
    val w1 = (maxMs / WinMs + 10) * WinMs
    val sentinels = Seq(
      Seq((new Timestamp(w1), 0L)),
      Seq((new Timestamp(w1 + 3600000L), 0L)))
    val out = Replay.run(s, Replay.timeSlices(rows, Batches) ++ sentinels,
      "append") { ds =>
      val wm = ds.toDF("ts", "v").withWatermark("ts", "1 hour")
      StatefulOps.driftStream(
        wm.as[(Timestamp, Long)].groupByKey(r => (r._1.getTime / WinMs) * WinMs),
        ref, WinMs).toDF()
    }
    out.select(col("winStart").as("win_start"), col("n"),
        col("ksNum").as("ks_num"), col("tvdNum").as("tvd_num"), col("den"))
      .orderBy("win_start")
  }

  val driftSql: String =
    s"""WITH e AS (SELECT ((epoch_us(ts) // 1000) // $WinMs) * $WinMs AS w,
       |             CAST(round(value * 100) AS BIGINT) % 7 AS v,
       |             event_type FROM events),
       |g AS (SELECT w, v, CAST(count(*) AS BIGINT) AS cg FROM e GROUP BY 1, 2),
       |r AS (SELECT v, CAST(count(*) AS BIGINT) AS cr FROM e
       |      WHERE event_type = 'view' GROUP BY 1),
       |ng AS (SELECT w, CAST(sum(cg) AS BIGINT) AS n_g FROM g GROUP BY w),
       |nr AS (SELECT CAST(sum(cr) AS BIGINT) AS n FROM r),
       |vals AS (SELECT v FROM g UNION SELECT v FROM r),
       |grid AS (SELECT ng.w, ng.n_g, vals.v FROM ng CROSS JOIN vals),
       |j AS (SELECT grid.w, grid.n_g, grid.v,
       |        COALESCE(g.cg, 0) AS cg, COALESCE(r.cr, 0) AS cr
       |      FROM grid LEFT JOIN g ON g.w = grid.w AND g.v = grid.v
       |      LEFT JOIN r ON r.v = grid.v),
       |cum AS (SELECT w, n_g, cg, cr,
       |          sum(cg) OVER (PARTITION BY w ORDER BY v) AS acc_g,
       |          sum(cr) OVER (PARTITION BY w ORDER BY v) AS acc_r
       |        FROM j)
       |SELECT w AS win_start, n_g AS n,
       |  CAST(max(abs(acc_r * n_g - acc_g * (SELECT n FROM nr))) AS BIGINT)
       |    AS ks_num,
       |  CAST(sum(abs(cg * (SELECT n FROM nr) - cr * n_g)) AS BIGINT)
       |    AS tvd_num,
       |  CAST(n_g * (SELECT n FROM nr) AS BIGINT) AS den
       |FROM cum GROUP BY w, n_g ORDER BY win_start""".stripMargin

  // -- streaming weighted reservoir ----------------------------------------

  private val ReservoirK = 10

  /** weightedReservoirStream vs the batch weighted sample: per
    * event_type, the k = 10 events with the smallest portable
    * priorities q = u/weight after the ENTIRE replay (each group's
    * last Update-mode emission = its merged final reservoir). */
  def reservoirQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .select(col("ts"), col("event_type"), col("event_id"), col("value"))
      .as[(Timestamp, String, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._3))
      .map { case (_, et, id, v) => StatefulOps.WRIn(et, id, v) }
    val out = Replay.run(s, Replay.timeSlices(rows, Batches), "update") { ds =>
      StatefulOps.weightedReservoirStream(
        ds.groupByKey(_.group), ReservoirK, "graft").toDF()
    }
    val lastBatch = out.groupBy("group").agg(max("batch_id").as("__mb"))
    out.join(lastBatch, "group").filter(col("batch_id") === col("__mb"))
      .select(col("group").as("event_type"), col("id").as("event_id"),
        col("weight"))
      .orderBy("event_type", "event_id")
  }

  val reservoirSql: String =
    s"""SELECT event_type, event_id, value AS weight FROM (
       |  SELECT event_type, event_id, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY ${uSql("event_id", "graft")} / value, event_id) AS rn
       |  FROM events WHERE value > 0 AND NOT isnan(value))
       |WHERE rn <= $ReservoirK ORDER BY event_type, event_id""".stripMargin

  // -- streaming as-of join -------------------------------------------------

  /** asofJoinStream vs a batch "latest reference at-or-before" window
    * replay: views are the reference stream (side L), clicks the probe
    * stream (side R), both fed time-ordered through one tagged union —
    * so the append-mode stream equals the batch as-of join exactly
    * (the data has zero same-user same-ms view/click collisions, so
    * the L-before-R tie rule never has to break a real tie). */
  def asofQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click"))
      .select(col("ts"), col("user_id"),
        when(col("event_type") === "view", "L").otherwise("R").as("side"),
        col("value"))
      .as[(Timestamp, Long, String, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
      .map { case (t, u, sd, v) => StatefulOps.AsOfIn(u, t, sd, v) }
    val out = Replay.run(s, Replay.timeSlices(rows, Batches), "append") { ds =>
      StatefulOps.asofJoinStream(ds.groupByKey(_.key)).toDF()
    }
    out.select(col("key").as("user_id"), col("right_ts_us"),
        col("right_value"), col("left_ts_us"), col("left_value"))
      .orderBy("user_id", "right_ts_us")
  }

  val asofSql: String =
    """WITH u AS (
      |  SELECT user_id, (epoch_us(ts) // 1000) * 1000 AS tus, value,
      |         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS sd
      |  FROM events WHERE event_type IN ('view', 'click')),
      |o AS (SELECT user_id, tus, value, sd,
      |        last_value(CASE WHEN sd = 0 THEN tus END IGNORE NULLS)
      |          OVER (PARTITION BY user_id ORDER BY tus, sd
      |                ROWS UNBOUNDED PRECEDING) AS l_ts,
      |        last_value(CASE WHEN sd = 0 THEN value END IGNORE NULLS)
      |          OVER (PARTITION BY user_id ORDER BY tus, sd
      |                ROWS UNBOUNDED PRECEDING) AS l_val
      |      FROM u)
      |SELECT user_id, CAST(tus AS BIGINT) AS right_ts_us,
      |  value AS right_value, CAST(l_ts AS BIGINT) AS left_ts_us,
      |  l_val AS left_value
      |FROM o WHERE sd = 1 ORDER BY user_id, right_ts_us""".stripMargin

  // -- stream-stream LEFT OUTER interval join --------------------------------

  private val IntervalUs = 10L * 60 * 1000 * 1000 // clicks within 10 min

  /** Stream-stream LEFT OUTER interval join with watermark-gated null
    * emission — the bounded-state contract: each view joins every click
    * of the same user within 10 minutes AFTER it; a view with no such
    * click may emit (null-padded) only once BOTH watermarks prove no
    * matching click can still arrive — which is also when Spark evicts
    * its join state, the property that bounds state at 100 TB. Both
    * sides replay from ONE tagged MemoryStream (a documented stream
    * self-join), each branch carrying its own watermark; sentinel rows
    * on BOTH sides (user −1, filtered post-join) advance the min-of-two
    * watermark so every unmatched view drains before the replay ends.
    *
    * Feed: a deterministic 1-in-5 user slice (user_id % 5 = 4, same
    * predicate in the oracle SQL). The gate's sensitivity lives in
    * schedule STRUCTURE — unmatched views, matches straddling batch
    * boundaries, watermark crossings — all of which are per-user and
    * fully preserved by a user-keyed slice; replaying all 100k rows
    * only multiplied replay cost 5x without adding a failure mode
    * (round-10 verdict ask #4; mutation check re-proven on the join
    * bound). */
  /** The interval-join gate's feed + sentinel schedule, shared with
    * [[rigBaselineQ]] so the null-op baseline replays EXACTLY the same
    * triggers and row volumes as the heaviest stream gate. */
  private def intervalFeed(s: SparkSession, dir: String)
      : (Seq[(Timestamp, Long, String)], Seq[Seq[(Timestamp, Long, String)]]) = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click"))
      .filter(col("user_id") % 5 === 4)
      .select(col("ts"), col("user_id"),
        when(col("event_type") === "view", "V").otherwise("C").as("side"))
      .as[(Timestamp, Long, String)].collect().toSeq.sorted
      // ms-truncate HERE: unlike the StatefulOps twins (which read
      // .getTime themselves) the raw ts column flows into Spark SQL,
      // which would otherwise keep parquet's microseconds
      .map { case (t, u, sd) => (new Timestamp(t.getTime), u, sd) }
    val maxMs = rows.map(_._1.getTime).max
    val day = 86400000L
    val sentinels = (30 to 32).map { d =>
      Seq((new Timestamp(maxMs + d * day), -1L, "V"),
        (new Timestamp(maxMs + d * day), -1L, "C"))
    }
    (rows, sentinels)
  }

  def intervalJoinQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (rows, sentinels) = intervalFeed(s, dir)
    val out = Replay.run(s, Replay.timeSlices(rows, Batches) ++ sentinels,
      "append") { ds =>
      val tagged = ds.toDF("ts", "user_id", "side")
      val views = tagged.filter(col("side") === "V")
        .select(col("user_id"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "10 minutes")
      val clicks = tagged.filter(col("side") === "C")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      views.join(clicks,
        views("user_id") === clicks("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
        .select(col("user_id"), col("v_ts"), col("c_ts"))
    }
    out.filter(col("user_id") >= 0)
      .select(col("user_id"), unix_micros(col("v_ts")).as("v_us"),
        unix_micros(col("c_ts")).as("c_us"))
      .orderBy("user_id", "v_us", "c_us")
  }

  val intervalJoinSql: String =
    s"""WITH v AS (SELECT user_id, (epoch_us(ts) // 1000) * 1000 AS v_us
       |           FROM events
       |           WHERE event_type = 'view' AND user_id % 5 = 4),
       |c AS (SELECT user_id, (epoch_us(ts) // 1000) * 1000 AS c_us
       |      FROM events
       |      WHERE event_type = 'click' AND user_id % 5 = 4)
       |SELECT v.user_id, CAST(v.v_us AS BIGINT) AS v_us,
       |  CAST(c.c_us AS BIGINT) AS c_us
       |FROM v LEFT JOIN c ON c.user_id = v.user_id
       |  AND c.c_us >= v.v_us AND c.c_us <= v.v_us + $IntervalUs
       |ORDER BY v.user_id, v_us, c_us""".stripMargin

  /** Null-op replay baseline — the verification RIG's own cost,
    * isolated (round-12 verdict ask #5): exactly [[intervalJoinQ]]'s
    * feed slice and trigger schedule (Batches + 3 sentinel triggers)
    * through an IDENTITY streaming select — no state store, no
    * watermark, no join. bench.json surfaces this row as `rig_sec`,
    * so any stream gate's time decomposes into harness floor (this
    * row: MemoryStream feed + per-trigger planning +
    * foreachBatch collect) vs attributable operator cost, and a
    * future stream regression is readable as rig vs operator. The
    * oracle is the same slice batch-side — identity is still a
    * correctness contract (no row lost or duplicated across
    * triggers). */
  def rigBaselineQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (rows, sentinels) = intervalFeed(s, dir)
    val out = Replay.run(s, Replay.timeSlices(rows, Batches) ++ sentinels,
      "append") { ds =>
      ds.toDF("ts", "user_id", "side")
        .select(col("user_id"), col("ts"), col("side"))
    }
    out.filter(col("user_id") >= 0)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("side"))
      .orderBy("user_id", "t_us", "side")
  }

  val rigBaselineSql: String =
    """SELECT user_id, CAST((epoch_us(ts) // 1000) * 1000 AS BIGINT) AS t_us,
      |  CASE WHEN event_type = 'view' THEN 'V' ELSE 'C' END AS side
      |FROM events
      |WHERE event_type IN ('view', 'click') AND user_id % 5 = 4
      |ORDER BY user_id, t_us, side""".stripMargin

  // -- chained stateful ops: sessionize, then re-key --------------------------

  private val DayUs = 86400000000L

  /** Chained stateful operators in ONE streaming query — the 100 TB
    * re-keying shape: stage 1 holds per-user session_window state (2h
    * gap), stage 2 re-keys the CLOSED sessions by a derived size class
    * and holds per-day-window counts. Spark 3.4+ chains the two when
    * stage 2 windows over the stage-1 window column (event time =
    * window_time = session end − 1µs).
    *
    * Sentinels (user −1) advance the watermark through both stages and
    * are dropped AFTER the replay by a window-start cutoff — NOT by a
    * mid-query filter: a `user_id >= 0` filter between the stages gets
    * pushed by Catalyst below the EventTimeWatermark node (user_id is a
    * grouping column), so sentinel rows would never reach the watermark
    * tracker and the tail sessions would never close (observed: the
    * last two day-windows silently missing). The cutoff is provable for
    * any corpus: real day windows start ≤ maxTs + gap, sentinel windows
    * start ≥ maxTs + 29d, and the cutoff sits at maxTs + 7d.
    *
    * Feed: the same deterministic 1-in-5 user slice as the interval
    * join (user_id % 5 = 4, mirrored in the oracle SQL) — both stages
    * key on user (then on windows derived from per-user sessions), so
    * a user-keyed slice preserves every failure mode (sessions
    * straddling batch boundaries, day-window re-keying, sentinel
    * drainage) at a fifth of the replay cost (round-10 ask #4;
    * mutation check re-proven on the session gap). */
  def rekeyQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, dir)
      .filter(col("user_id") % 5 === 4)
      .select(col("ts"), col("user_id"))
      .as[(Timestamp, Long)].collect().toSeq.sorted
      .map { case (t, u) => (new Timestamp(t.getTime), u) }
    val maxMs = rows.map(_._1.getTime).max
    val day = 86400000L
    val sentinels = (30 to 32).map(d =>
      Seq((new Timestamp(maxMs + d * day), -1L)))
    val out = Replay.run(s, Replay.timeSlices(rows, Batches) ++ sentinels,
      "append") { ds =>
      val sessions = ds.toDF("ts", "user_id")
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      sessions
        .withColumn("size_class",
          when(col("n_events") >= 3, "multi").otherwise("small"))
        .groupBy(window(col("session_window"), "1 day"), col("size_class"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))
    }
    val cutoffUs = (maxMs + 7 * day) * 1000L
    out.filter(unix_micros(col("window.start")) < cutoffUs)
      .select(unix_micros(col("window.start")).as("win_us"),
        col("size_class"), col("n_sessions"), col("n_events"))
      .orderBy("win_us", "size_class")
  }

  val rekeySql: String =
    s"""WITH e AS (SELECT user_id, (epoch_us(ts) // 1000) * 1000 AS tus
       |           FROM events WHERE user_id % 5 = 4),
       |o AS (SELECT user_id, tus,
       |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
       |      FROM e),
       |m AS (SELECT user_id, tus,
       |        sum(CASE WHEN prev IS NULL OR tus - prev >= ${GapMs * 1000}
       |            THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY user_id ORDER BY tus
       |                ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM o),
       |sess AS (SELECT user_id, sid, count(*) AS n_events,
       |           max(tus) + ${GapMs * 1000} AS end_us
       |         FROM m GROUP BY 1, 2),
       |cls AS (SELECT ((end_us - 1) // $DayUs) * $DayUs AS win_us,
       |          CASE WHEN n_events >= 3 THEN 'multi' ELSE 'small' END
       |            AS size_class,
       |          n_events
       |        FROM sess)
       |SELECT CAST(win_us AS BIGINT) AS win_us, size_class,
       |  CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(sum(n_events) AS BIGINT) AS n_events
       |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- streaming ingest curation ---------------------------------------------

  private val QualityFloor = 0.62
  private val EchoOffset = 1000000L

  /** Streaming ingest curation in one query: PII redaction → token
    * quality gate → content-digest exact dedup (the batch curation
    * stages compose unchanged on a stream — the stateless maps are the
    * SAME TextPipeline/TextFunctions code, dedup is the watermark-
    * bounded stateful stage). The feed interleaves every 3rd document
    * with a later byte-identical ECHO row under a shifted doc_id: a
    * correct pipeline admits each passing original exactly once and
    * drops every echo (digest already seen), so the final table is the
    * batch curation SQL over the original documents — any dropped
    * original, admitted echo, redaction or quality divergence goes red. */
  def curationQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.saltedText(col("text"), col("doc_id")).as("text2"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    // RANK-based synthetic timestamps (1 s apart), not id-based: ids at
    // a stress copy reach c*10M, and id-seconds would stretch the feed
    // span past the 400-day dedup watermark — evicting early digests
    // before their echoes arrive and breaking the gate at scale. The
    // rank span is 2n+10 seconds for ANY id domain.
    val n = docs.size
    val originals = docs.zipWithIndex.map { case ((id, t), r) =>
      (new Timestamp(base + r * 1000L), id, t)
    }
    val echoes = docs.zipWithIndex.collect { case ((id, t), r) if id % 3 == 0 =>
      (new Timestamp(base + (n + 10 + r) * 1000L), id + EchoOffset, t)
    }
    val feed = (originals ++ echoes).sortBy(_._1.getTime)
    val out = Replay.run(s, Replay.timeSlices(feed, Batches), "append") { ds =>
      val red = graft.operators.TextPipeline.redactPii(
        ds.toDF("ts", "doc_id", "text"), "text")
      val scored = red
        .withColumn("toks", graft.functions.TextFunctions.tokens(col("redacted")))
        .withColumn("quality", graft.functions.TextFunctions.qualityScore("toks"))
        .filter(size(col("toks")) >= 5 && col("quality") >= QualityFloor)
        .withColumn("digest", md5(col("redacted")))
      StatefulOps.streamingDedup(scored, "ts", "400 days", Seq("digest"))
    }
    out.select(col("doc_id"), size(col("toks")).cast("int").as("n_tok"),
        col("quality"), col("digest"))
      .orderBy("doc_id")
  }

  val curationSql: String = {
    val toks = TextOps.toksSqlOf("redacted")
    s"""WITH red AS (
       |  SELECT doc_id, ${TextOps.redactChainSql("text2")} AS redacted
       |  FROM (SELECT doc_id, ${TextOps.saltedTextSql} AS text2
       |        FROM documents)),
       |q AS (SELECT doc_id, toks, ${TextOps.qualityExprSql} AS quality,
       |        md5(redacted) AS digest
       |      FROM (SELECT doc_id, redacted, $toks AS toks FROM red)
       |      WHERE len(toks) >= 5)
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_tok, quality, digest
       |FROM q WHERE quality >= $QualityFloor
       |ORDER BY doc_id""".stripMargin
  }

  // -- foreachBatch ingest screens -------------------------------------------

  /** Streaming fuzzy-match ingest screen ([[graft.operators.FuzzyJoin
    * .fuzzyScreenBatch]], SymSpell deletion neighborhoods, k = 1)
    * replayed over micro-batches: the corpus variant index is built and
    * persisted ONCE, each batch equi-joins it on 8-byte variant hashes,
    * exact-verifies with levenshtein, and anti-joins the matches away.
    * The probe feed is derived from customer names — every 20th key a
    * 1-substitution typo variant (must be REJECTED), other sampled keys
    * a clearly-novel suffix form (must be ADMITTED); the oracle is the
    * brute-force NOT EXISTS levenshtein <= 1 screen in DuckDB, so both
    * decisions are checked for every probe. */
  def fuzzyScreenQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customers = Tables.customer(s, dir)
    val screen = graft.operators.FuzzyJoin.fuzzyScreenBatch(
      customers.select(col("c_name")), "c_name", 1)
    try {
      val probes = customers.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 20 === 0,
            concat(lit("q"), expr("substring(c_name, 2, 1000000)")))
            .otherwise(concat(col("c_name"), lit(" zqxj"))).as("probe"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val out = Replay.runForeachBatch(s,
        Replay.timeSlices(probes, Batches)) { df =>
        screen(df.toDF("probe_key", "c_name"))
      }
      out.select(col("probe_key"), col("c_name").as("probe"))
        .orderBy("probe_key")
    } finally screen.close() // replay already materialized; index freed
  }

  val fuzzyScreenSql: String =
    """WITH probes AS (
      |  SELECT c_custkey AS probe_key,
      |    CASE WHEN c_custkey % 20 = 0 THEN 'q' || substring(c_name, 2)
      |         ELSE c_name || ' zqxj' END AS probe
      |  FROM customer WHERE c_custkey % 10 = 0),
      |names AS (SELECT DISTINCT c_name FROM customer)
      |SELECT p.probe_key, p.probe FROM probes p
      |WHERE NOT EXISTS (SELECT 1 FROM names n
      |                  WHERE levenshtein(p.probe, n.c_name) <= 1)
      |ORDER BY p.probe_key""".stripMargin

  /** Streaming segment-scrub ingest screen ([[graft.operators
    * .SegmentDedup.segmentScreenBatch]]): known corpus segments (tokens
    * — the synthetic corpus is single-line) are removed from every
    * stream document, order-preserving reassembly, kept/total counts.
    * Corpus = even doc_ids, stream = odd; the segment doc-frequency
    * index is built and persisted once, each micro-batch anti-joins it. */
  def segmentScreenQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      .withColumn("text", trim(col("text")))
    val screen = graft.operators.SegmentDedup.segmentScreenBatch(
      corpus, "doc_id", "text", delimRegex = "\\s+", joinSep = " ")
    try {
      val feed = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), trim(col("text")).as("text"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      val out = Replay.runForeachBatch(s,
        Replay.timeSlices(feed, Batches)) { df =>
        screen(df.toDF("doc_id", "text"))
      }
      out.select(col("doc_id"), col("cleaned"), col("n_segs"),
          col("n_removed"))
        .orderBy("doc_id")
    } finally screen.close()
  }

  val segmentScreenSql: String =
    raw"""WITH segs AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(trim(text), '\s+')) AS seg,
         |    unnest(range(1, len(string_split_regex(trim(text), '\s+')) + 1))
         |      AS seg_no
         |  FROM documents WHERE doc_id % 2 = 1),
         |cseg AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+'))
         |           AS seg
         |         FROM documents WHERE doc_id % 2 = 0),
         |kept AS (SELECT s.doc_id, s.seg_no, s.seg FROM segs s
         |         WHERE s.seg NOT IN (SELECT seg FROM cseg)),
         |agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no)
         |          AS cleaned,
         |        count(*) AS n_kept FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.cleaned, '') AS cleaned,
         |  CAST(coalesce(t.n_segs, 0) AS BIGINT) AS n_segs,
         |  CAST(coalesce(t.n_segs, 0) - coalesce(a.n_kept, 0) AS BIGINT)
         |    AS n_removed
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         |LEFT JOIN tot t ON t.doc_id = d.doc_id
         |LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  override def gates: Seq[Gate] = Seq(
    Gate("stream_running_agg", runningAggQ, runningAggSql),
    Gate("stream_dedup", dedupQ, dedupSql),
    Gate("stream_sessionize", sessionizeQ, sessionizeSql),
    Gate("stream_sessionize_tws", sessionizeTwsQ, sessionizeSql),
    Gate("stream_restart", restartQ, sessionizeSql),
    Gate("stream_drift", driftQ, driftSql),
    Gate("stream_weighted_reservoir", reservoirQ, reservoirSql),
    Gate("stream_asof", asofQ, asofSql),
    Gate("stream_interval_join", intervalJoinQ, intervalJoinSql),
    Gate("stream_rekey", rekeyQ, rekeySql),
    Gate("stream_curation", curationQ, curationSql),
    Gate("stream_fuzzy_screen", fuzzyScreenQ, fuzzyScreenSql),
    Gate("stream_segment_screen", segmentScreenQ, segmentScreenSql),
    Gate("stream_rig_baseline", rigBaselineQ, rigBaselineSql))
}
