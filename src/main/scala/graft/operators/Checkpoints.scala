package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.CheckpointUtil

/** Lineage-cut policy for graft's iterative operators (pointer-jumping
  * connected components, PageRank/BFS fixpoints, BPE merge learning).
  *
  * Each round of those loops must cut lineage or the plan grows without
  * bound. Two regimes:
  *
  *  - Default (`spark.graft.checkpointDir` unset): `localCheckpoint()` —
  *    executor-local MEMORY_AND_DISK blocks, no DFS round-trip. Right for
  *    local mode and for clusters that accept "executor loss fails the
  *    job" on these operators.
  *  - `spark.graft.checkpointDir=<dfs path>`: reliable `checkpoint()` to
  *    that directory. On a 1000-executor cluster running hours-long
  *    fixpoints, an executor loss then recovers from DFS instead of
  *    failing the query — the 100 TB fault-tolerance knob, no source
  *    edit needed. Enable `spark.cleaner.referenceTracking.cleanCheckpoints`
  *    to reap superseded round files.
  *
  * Both regimes are eager (computed once, lineage cut, result pinned);
  * outputs are bit-identical — the knob changes WHERE the cut frame
  * lives, never WHAT it holds. The reliable regime caches the frame
  * around the cut: `Dataset.checkpoint` runs TWO jobs over the plan
  * (the eager materializing count, then the DFS partition write), so
  * without the persist every round would compute twice.
  */
object Checkpoints {
  val DirKey = "spark.graft.checkpointDir"

  // setCheckpointDir is NOT idempotent: each call mkdirs a fresh
  // <dir>/<randomUUID> subdirectory (and getCheckpointDir returns that
  // UUID-suffixed path, never the configured parent). Cache the dir we
  // last set per context so per-iteration cut() calls touch the driver
  // filesystem once, and all of a loop's rounds share one UUID dir.
  private val lastSetDir =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, String]()

  /** Cut lineage on `df` per the session's checkpoint policy. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        if (lastSetDir.put(sc, dir) != dir) sc.setCheckpointDir(dir)
        // Cache so the count job populates blocks and the write job
        // reads them back instead of re-executing the plan.
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint() // eager: both jobs done on return
        finally df.unpersist()
      case _ => df.localCheckpoint()
    }
  }

  /** Lineage cut that DEFERS materialization to the caller's next
    * action over the frame — one job instead of two when an aggregate
    * or count immediately follows (that action's job computes and pins
    * the cut blocks as it runs). The returned plan is already the flat
    * LogicalRDD, so per-iteration ANALYSIS cost stays constant either
    * way. Use only when (a) an action on the frame runs before any
    * free() of its inputs — an unmaterialized lazy cut still depends on
    * its parents' blocks — and (b) the frame is not self-joined before
    * materializing (concurrent tasks could double-compute the backing
    * RDD). Reliable regime delegates to [[cut]]: the DFS write there
    * needs the eager cached-frame dance. */
  def lazyCut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey) match {
      case Some(dir) if dir.nonEmpty => cut(df)
      case _ => df.localCheckpoint(eager = false)
    }
  }

  /** Release the executor storage behind a consumed `cut` frame (no-op
    * for reliable checkpoints, whose blocks live on DFS; essential for
    * local ones, which `unpersist()` never touches). Only call once every
    * consumer is materialized — a cut frame has no lineage to recompute.
    */
  def free(df: DataFrame): Unit = CheckpointUtil.free(df)
}
