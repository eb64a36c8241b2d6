package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a query's span tree. `layer` is the repo layer
  * the span's self time is charged to. */
final class Span(val kind: String, val layer: String, val name: String,
    val startMs: Long, val endMs: Long) {
  val children = mutable.ArrayBuffer.empty[Span]
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def durMs: Long = endMs - startMs
  def contains(o: Span): Boolean = o.startMs >= startMs && o.endMs <= endMs

  /** Own duration minus the union of the children's intervals. */
  def selfMs: Long = {
    var covered = 0L
    var reach = startMs
    children.sortBy(_.startMs).foreach { c =>
      val s = math.max(c.startMs, reach)
      val e = math.min(c.endMs, endMs)
      if (e > s) { covered += e - s; reach = e }
    }
    durMs - covered
  }

  def walk(f: Span => Unit): Unit = { f(this); children.foreach(_.walk(f)) }

  def toMap: Map[String, Any] = Map("kind" -> kind, "layer" -> layer,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
    "self_ms" -> selfMs, "attrs" -> attrs, "children" -> children.map(_.toMap))
}

object Span {
  /** Nests `spans` under `root`: each goes into the deepest span that
    * contains its interval, longest spans first. */
  def tree(root: Span, spans: Seq[Span]): Span = {
    spans.sortBy(s => (-s.durMs, s.startMs)).foreach { s =>
      var parent = root
      var next = parent.children.find(_.contains(s))
      while (next.isDefined) { parent = next.get; next = parent.children.find(_.contains(s)) }
      parent.children += s
    }
    root
  }
}

final case class StageRec(id: Int, name: String, submitMs: Long, endMs: Long,
    tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
    inRows: Long, outBytes: Long, shufRead: Long, shufWrite: Long,
    spill: Long, slowestTaskMs: Long, schedDelayMs: Long)

final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int], callSite: String, frames: String)

final case class TriggerRec(startMs: Long, triggerMs: Long, addBatchMs: Long,
    logCommitMs: Long, stateCommitMs: Long, stateRows: Long,
    stateMemBytes: Long, inputRows: Long)

/** Events collected between two `take()` calls. */
final case class Events(jobs: Seq[JobRec], stages: Map[Int, StageRec],
    qes: Seq[Map[String, (Long, Long)]], triggers: Seq[TriggerRec])

/** The traced run's listeners: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for Catalyst phase times, and a
  * StreamingQueryListener for micro-batch progress. They are installed
  * only while a traced pass runs, and hold events until `take()`. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val jobStarts = mutable.LinkedHashMap.empty[Int, (String, Long, Seq[Int], String, String)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val slowest = mutable.HashMap.empty[Int, Long]
  private val delay = mutable.HashMap.empty[Int, Long]
  private val qes = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  private val triggers = mutable.ArrayBuffer.empty[TriggerRec]
  private val sqlSites = mutable.HashMap.empty[Long, String]

  private val sparkListener = new SparkListener {
    // A SQL execution records the call site of the thread that started it;
    // its jobs may be launched from Spark's own threads (adaptive query
    // stages), whose call sites no longer show the engine's frames.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized { sqlSites(s.executionId) = s.details }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val last = e.stageInfos.maxBy(_.stageId)
      val frames = prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
        .getOrElse(last.details)
      jobStarts(e.jobId) = (prop("spark.jobGroup.id").getOrElse(""), e.time, e.stageIds,
        last.name, frames)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (g, t0, ids, site, frames) =>
        jobs += JobRec(e.jobId, g, t0, e.time, ids, site, frames)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (i != null && m != null) {
        val d = i.duration
        slowest(e.stageId) = math.max(slowest.getOrElse(e.stageId, 0L), d)
        val sched = d - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime
        delay(e.stageId) = delay.getOrElse(e.stageId, 0L) + math.max(0L, sched)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages(s.stageId) = StageRec(s.stageId, s.name,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        s.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        slowest.getOrElse(s.stageId, 0L), delay.getOrElse(s.stageId, 0L))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = Tracer.phases(qe)
      lock.synchronized { qes += ph }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      val rec = TriggerRec(
        startMs = Instant.parse(p.timestamp).toEpochMilli,
        triggerMs = d.getOrElse("triggerExecution", 0L),
        addBatchMs = d.getOrElse("addBatch", 0L),
        logCommitMs = d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
        stateCommitMs = ops.map(_.commitTimeMs).sum,
        stateRows = ops.map(_.numRowsTotal).sum,
        stateMemBytes = ops.map(_.memoryUsedBytes).sum,
        inputRows = p.numInputRows)
      lock.synchronized { triggers += rec }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Delivers pending events and returns everything since the last take. */
  def take(): Events = {
    drain()
    lock.synchronized {
      val ids = jobs.flatMap(_.stageIds).toSet
      val ev = Events(jobs.toSeq, stages.view.filterKeys(ids).toMap,
        qes.toSeq, triggers.toSeq)
      jobs.clear(); qes.clear(); triggers.clear(); sqlSites.clear()
      ids.foreach { i => stages.remove(i); slowest.remove(i); delay.remove(i) }
      ev
    }
  }
}

object Tracer {
  /** Catalyst phase intervals (epoch ms) recorded by a QueryExecution. */
  def phases(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }

  def phasesOf(df: DataFrame): Map[String, (Long, Long)] =
    try phases(df.queryExecution) catch { case NonFatal(_) => Map.empty }

  /** The repo layer a job belongs to, from its Spark call site: the first
    * frame of the engine's own code that launched it. */
  def layerOf(frames: String): String = {
    val user = frames.split("\n").iterator.drop(1).map(_.trim)
      .find(f => f.startsWith("graft.") || f.startsWith("perfbench."))
    user match {
      case Some(f) if f.startsWith("graft.operators.") => "operators"
      case Some(f) if f.startsWith("graft.streaming.") => "streaming"
      case Some(f) if f.startsWith("graft.sources.") => "sources"
      case Some(f) if f.startsWith("graft.queries.") || f.startsWith("graft.Tables") =>
        "queries"
      case _ => "exec"
    }
  }

  private val PhaseLayer = Seq("analysis" -> "analyze", "optimization" -> "optimize",
    "planning" -> "plan")

  /** Builds one query's span tree: build over [q0, b1], execute (the
    * noop write) over [x0, w1]; the gap between is the tracer's own. */
  def queryTree(group: String, name: String, q0: Long, b1: Long, x0: Long, w1: Long,
      dfPhases: Map[String, (Long, Long)], build: Events, write: Events): Span = {
    val root = new Span("query", "harness", name, q0, w1)
    root.attrs("group") = group
    val buildSpan = new Span("build", "queries", name, q0, b1)
    val execSpan = new Span("execute", "exec", name, x0, w1)
    root.children += buildSpan
    root.children += execSpan
    def phaseSpans(ph: Map[String, (Long, Long)]): Seq[Span] = PhaseLayer.flatMap {
      case (k, label) => ph.get(k).filter { case (s, e) => e > s }
        .map { case (s, e) => new Span(label, "plans", k, s, e) }
    }
    def jobSpans(ev: Events): Seq[Span] = ev.jobs.flatMap { j =>
      val js = new Span("job", layerOf(j.frames), j.callSite, j.startMs, j.endMs)
      js.attrs("job_id") = j.id
      js.attrs("group") = j.group
      js +: j.stageIds.flatMap(ev.stages.get).filter(_.endMs > 0).map { s =>
        val ss = new Span("stage", "exec", s.name, s.submitMs, s.endMs)
        ss.attrs("stage_id") = s.id
        ss.attrs("tasks") = s.tasks
        ss.attrs("task_run_ms") = s.runMs
        ss.attrs("slowest_task_ms") = s.slowestTaskMs
        ss
      }
    }
    def triggerSpans(ev: Events): Seq[Span] = ev.triggers.map { t =>
      val ts = new Span("trigger", "streaming", "trigger", t.startMs, t.startMs + t.triggerMs)
      ts.attrs("input_rows") = t.inputRows
      ts
    }
    val analyze = dfPhases.get("analysis").filter { case (s, e) => e > s && s >= q0 }
      .map { case (s, e) => new Span("analyze", "plans", "analysis", s, e) }
    Span.tree(buildSpan, analyze.toSeq ++ build.qes.flatMap(phaseSpans) ++
      jobSpans(build) ++ triggerSpans(build))
    Span.tree(execSpan, write.qes.flatMap(phaseSpans) ++
      jobSpans(write) ++ triggerSpans(write))
    root
  }
}
