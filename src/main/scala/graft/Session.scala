package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one way to build a session. Bench, Verify, Explain, PlanDump, the
  * examples and the test suites all run on it, so every entry point plans
  * a query the same way. Config mirrors the 100 TB design defaults scaled
  * to local mode: shuffle partitions = cores (not 200), AQE on (runtime
  * coalescing + skew-join splitting + dynamic broadcast), UTC session TZ,
  * and the engine's SQL functions and planner strategies installed.
  */
object Session {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing is BYTES-based; its default 1 MB minPartitionSize
      // floor collapses CPU-dense/byte-light shuffles (LSH candidate
      // verify, token/pair kernels: ~1 MB of ids carrying seconds of
      // per-row CPU) to ONE task while every other core idles —
      // measured: doc_minhash_pairs wall 6.2 s -> 1.7 s at a 64 KB
      // floor, verify stage 1 task -> 13. 64 KB still amortizes task
      // launch (~ms) thousands-fold; parallelismFirst (default true)
      // keeps byte-dense stages sized by cluster parallelism as before.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // fast_decimal is bit-identical to Cast only under ANSI (see
      // plans/FastDecimal): Spark 4.1's default, pinned here.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's ContextCleaner frees shuffle/broadcast state only when
      // the DRIVER GCs. A 189-query run on a huge heap may never GC, so
      // driver bookkeeping grows and late queries inflate up to 50×
      // (measured: 286 s with -Xmx96g vs 112 s with -Xmx8g, same code).
      // Periodic GC caps that regardless of heap size — the same setting
      // a long-lived 100 TB driver needs (default is 30 min).
      .config("spark.cleaner.periodicGC.interval", "2min")
      // Long full-GC pauses on a 25x stress dir (or CPU contention from
      // a concurrent build) can starve the local executor's heartbeat
      // past the 120 s default; in local mode the dropped executor is
      // unrecoverable and every later query fails with
      // RpcEndpointNotFoundException. Batch work is not latency-
      // sensitive — wait out pauses instead of declaring the
      // (in-process!) executor dead.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // Static conf, must be set before the session exists: the codegen
      // class cache defaults to 100 entries, and a 320+-query suite
      // churns far more generated classes than that — each eviction
      // re-runs Janino on the next execution, which showed up as
      // first-run-vs-rerun drift concentrated in compile-heavy queries
      // (suite reruns crept from 46 s to 63 s). Size it to hold the suite.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
