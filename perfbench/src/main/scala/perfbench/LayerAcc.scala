package perfbench

import scala.collection.mutable

/** Sums one traced pass's spans and events into the per-layer metrics. */
final class LayerAcc(cores: Int) {
  private val self = mutable.LinkedHashMap(
    "queries" -> 0L, "plans" -> 0L, "operators" -> 0L, "sources" -> 0L,
    "streaming" -> 0L, "exec" -> 0L, "harness" -> 0L)
  private val phase = mutable.HashMap("analyze" -> 0L, "optimize" -> 0L, "plan" -> 0L)
  // jobs: every job of the pass; opJobs: those launched from graft.operators
  private var buildJobs, jobs, opJobs, cuts = 0L
  private var executeMs, opTaskMs = 0L
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val triggers = mutable.ArrayBuffer.empty[TriggerRec]

  /** One query: its span tree and the events of its build and write. */
  def add(tree: Span, build: Events, write: Events): Unit = {
    tree.walk { s =>
      self(s.layer) = self.getOrElse(s.layer, 0L) + s.selfMs
      phase.get(s.kind).foreach(v => phase(s.kind) = v + s.durMs)
      if (s.kind == "execute") executeMs += s.durMs
    }
    buildJobs += build.jobs.size
    Seq(build, write).foreach { ev =>
      stages ++= ev.stages.values
      triggers ++= ev.triggers
      ev.jobs.foreach { j =>
        jobs += 1
        if (j.frames.contains("graft.operators.Checkpoints")) cuts += 1
        if (Tracer.layerOf(j.frames) == "operators") {
          opJobs += 1
          opTaskMs += j.stageIds.flatMap(ev.stages.get).map(_.runMs).sum
        }
      }
    }
  }

  def metrics(wallS: Double): Map[String, Any] = {
    val runMs = stages.map(_.runMs).sum
    Map(
      "queries.build_s" -> self("queries") / 1e3,
      "queries.build_jobs" -> buildJobs.toDouble,
      "plans.analyze_s" -> phase("analyze") / 1e3,
      "plans.optimize_s" -> phase("optimize") / 1e3,
      "plans.physical_s" -> phase("plan") / 1e3,
      "operators.jobs" -> opJobs.toDouble,
      "operators.task_s" -> opTaskMs / 1e3,
      "operators.checkpoint_cuts" -> cuts.toDouble,
      "sources.input_bytes" -> stages.map(_.inBytes).sum.toDouble,
      "sources.input_rows" -> stages.map(_.inRows).sum.toDouble,
      "sources.output_bytes" -> stages.map(_.outBytes).sum.toDouble,
      "exec.execute_s" -> executeMs / 1e3,
      "exec.jobs" -> jobs.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks.toLong).sum.toDouble,
      "exec.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> runMs / 1e3,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> stages.map(_.shufRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> stages.map(_.shufWrite).sum.toDouble,
      "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "exec.sched_delay_s" -> stages.map(_.schedDelayMs).sum / 1e3,
      "exec.slowest_task_s" -> stages.map(_.slowestTaskMs).sum / 1e3,
      "exec.core_busy_frac" -> (if (wallS > 0) runMs / 1e3 / (cores * wallS) else 0.0),
      // one row per micro-batch; run.py turns these into streaming.*
      "triggers" -> triggers.map(t => Seq(t.triggerMs, t.addBatchMs, t.logCommitMs,
        t.stateCommitMs, t.stateRows, t.stateMemBytes, t.inputRows))
    ) ++ self.map { case (l, ms) => s"self.${l}_s" -> ms / 1e3 }
  }
}
