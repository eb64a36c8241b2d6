package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric","value","unit","queries","sf"}, on a [[Session.local]]
  * session of SPARK_GRAFT_CPUS cores.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Loadavg-gated cooldown (round-11 ask #1, extended round-13 to the
    // session START): wait until the 1-min loadavg decays below
    // SPARK_GRAFT_COOLDOWN_LOAD (default 2.0, the judge's idle bar),
    // bounded by SPARK_GRAFT_COOLDOWN_MAX_SEC (default 360 s) so a busy
    // co-tenant can never stall the bench forever. Returns the wait so
    // it can be recorded (never part of a timed axis).
    def awaitIdle(): Double = {
      val t0 = System.nanoTime()
      val target = sys.env.get("SPARK_GRAFT_COOLDOWN_LOAD")
        .map(_.toDouble).getOrElse(2.0)
      val maxSec = sys.env.get("SPARK_GRAFT_COOLDOWN_MAX_SEC")
        .map(_.toDouble).getOrElse(360.0)
      while (loadavg() > target &&
          (System.nanoTime() - t0) / 1e9 < maxSec)
        Thread.sleep(5000)
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_ONLY=<regex>: time just the matching queries (local
    // iteration aid; the driver never sets it). Resolved BEFORE the
    // start cooldown so a scoped run doesn't block up to 360 s on a
    // busy machine (round-13 advice) — scoped timings are iteration
    // feedback, not committed evidence.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)

    // Round-12 lesson (BENCH_r12: load_10x=2.80 -> a contaminated
    // 38.0 s 10x axis): the r12 cooldown gated only the AXIS BOUNDARY;
    // the driver runs Verify immediately before Bench, so the session
    // can START hot. Gate here, BEFORE the warmups, so the 10x axis
    // inherits an idle machine (the warmups themselves are seconds and
    // barely move a 1-min EMA). Skipped in scoped (SPARK_GRAFT_ONLY)
    // mode.
    val cooldownStartSec = if (only.isDefined) 0.0 else awaitIdle()

    // One JVM/codegen warmup pass on the smallest SF so the first timed
    // query doesn't absorb cold-start (classloading, Janino, shuffle init).
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // Warm the bench-SF tables themselves: the first query to touch a
    // large parquet column (documents.text ≈ the whole table) otherwise
    // absorbs its cold read — measured 6.5 s cold vs 0.67 s warm for the
    // same query at sf0.1 — and the per-query numbers stop reflecting
    // plan cost. One count(col) PER COLUMN forces every column chunk
    // through the reader (a bare count() is answered from row-group
    // metadata and reads nothing; hash(*) would reject map columns),
    // so this is steady-state priming for the whole table.
    import org.apache.spark.sql.functions.{col, count, lit, max}
    // Loading through Tables also resolves each table once, so the first
    // timed query of a table does not pay its schema inference either.
    def warmTable(table: (SparkSession, String) => DataFrame): Unit =
      try {
        val df = table(spark, sfDir)
        val counts = df.columns.map(c => count(col(c)).as(c))
        df.agg(counts.head, counts.tail: _*).collect()
        ()
      } catch { case _: Throwable => () }
    Seq[(SparkSession, String) => DataFrame](Tables.lineitem, Tables.orders,
      Tables.customer, Tables.part, Tables.supplier, Tables.documents,
      Tables.embeddings, Tables.events).foreach(warmTable)

    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.pattern.matcher(n).matches())
    }
    // A failing query records -1.0, never its elapsed-until-throw: a
    // 70 ms analysis failure must not masquerade as a fast passing query
    // in a committed snapshot (round-5 lesson).
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }

    // ---- standing TPC-H 10x axis (round-8 verdict ask #7): at sf0.1
    // the 22-query subtotal is ~15 s where JVM/job overhead dominates
    // and sub-30% regressions vanish below the noise floor; timing the
    // same queries against a 10x key-shifted copy (~sf1) makes per-query
    // plan costs visible. The copy is built once per machine (marker
    // file) with the same key-offset construction the stress envelope
    // uses, so referential integrity holds. Skipped when SPARK_GRAFT_ONLY
    // scopes a local iteration or SPARK_GRAFT_10X=0.
    //
    // PROTOCOL (round-10 lesson): this axis runs FIRST in the session —
    // BENCH_r10 recorded tpch10x_sec=71.3 s vs a reproducible ~22 s
    // because the axis ran LAST, after 329 queries + 93 reruns + an
    // in-session copy rebuild, and min-of-2 can't help when both runs
    // sit in the same contended tail. Running it before the main suite
    // isolates it from self-inflicted load; a /proc/loadavg sentinel is
    // recorded at axis start so a contaminated snapshot is identifiable;
    // and when the min-of-2 spread exceeds 2x (contention signature) a
    // third pass runs and the min is kept.
    val tenXLoad = loadavg()
    var reruns10x = 0
    val tenX: Seq[(String, Double)] =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_10X").contains("0")) Nil
      else try {
        val tag = new java.io.File(sfDir).getName
        val dir10 = s"${System.getProperty("java.io.tmpdir")}/graft_tpch10x_$tag"
        val marker = new java.io.File(dir10, "_SUCCESS_10X")
        if (!marker.exists()) {
          val keyMap = Seq(
            "region" -> Seq("r_regionkey"),
            "nation" -> Seq("n_nationkey", "n_regionkey"),
            "customer" -> Seq("c_custkey", "c_nationkey"),
            "supplier" -> Seq("s_suppkey", "s_nationkey"),
            "part" -> Seq("p_partkey"),
            "orders" -> Seq("o_orderkey", "o_custkey"),
            "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"))
          // The per-copy key offset must exceed EVERY key in EVERY
          // table (keys cross-reference: o_custkey -> c_custkey), and
          // it must be one shared value so referential integrity holds
          // across tables. A fixed 10M was only safe below sf~2.5;
          // derive the next power of ten above the global max instead.
          val globalMax = keyMap.map { case (t, keys) =>
            val df = spark.read.parquet(s"$sfDir/$t.parquet")
            val maxes = keys.map(k => max(col(k).cast("long")).as(k))
            df.agg(maxes.head, maxes.tail: _*).collect()(0)
              .toSeq.map(_.asInstanceOf[Long]).max
          }.max
          val offset = {
            var p = 10000000L
            while (p <= globalMax) p *= 10
            p
          }
          // Build into a temp dir and rename into place so a concurrent
          // bench process never reads a half-built copy (the marker
          // alone was racy: overwrite-in-place while another run reads).
          val tmp10 = s"$dir10.tmp_${ProcessHandle.current().pid()}"
          keyMap.foreach { case (t, keys) =>
            val df = spark.read.parquet(s"$sfDir/$t.parquet")
            (0 until 10).map { c =>
              keys.foldLeft(df) { (d, k) =>
                d.withColumn(k, (col(k) + lit(c * offset))
                  .cast(df.schema(k).dataType))
              }
            }.reduce(_ union _)
              .write.mode("overwrite").parquet(s"$tmp10/$t.parquet")
          }
          new java.io.File(tmp10, "_SUCCESS_10X").createNewFile()
          if (!new java.io.File(tmp10).renameTo(new java.io.File(dir10))) {
            // another process won the race — use its copy if complete,
            // else fail the axis (caught below), never read half-builds
            require(marker.exists(), "10x copy rename lost and no winner")
            org.apache.commons.io.FileUtils.deleteDirectory(
              new java.io.File(tmp10))
          }
        }
        // warm the two fact tables so the first timed query doesn't
        // absorb the cold read (same rationale as warmTable above)
        Seq("lineitem", "orders").foreach { t =>
          val df = Tables.load(spark, dir10, t)
          val cs = df.columns.map(c => count(col(c)).as(c))
          df.agg(cs.head, cs.tail: _*).collect()
        }
        val tpch = selected.filter(_._1.matches("q\\d+_.*"))
        def run10(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, dir10).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] 10x $name FAILED: ${e.getMessage}")
            -1.0
          }
        }
        // Burst-proofing (round-13 lesson): BENCH_r13's start gate fired
        // correctly and the axis STILL got hit by a mid-axis co-tenant
        // burst (two contiguous 4-11x inflated stretches; min-of-2 can't
        // help when both samples sit inside the same burst). Rule: a
        // query's timing is accepted only when its two FASTEST samples
        // agree within 1.5x — otherwise recheck the loadavg (wait out a
        // live burst, bounded) and take another sample, up to 2 extras,
        // sharing one axis-wide 600 s cooldown budget so sustained load
        // degrades to best-effort min instead of stalling the bench.
        // Extra samples are counted in reruns_10x.
        val cooldownTarget = sys.env.get("SPARK_GRAFT_COOLDOWN_LOAD")
          .map(_.toDouble).getOrElse(2.0)
        var axisCooldownBudgetSec = 600.0
        tpch.map { case (name, fn) =>
          val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
          def sample(): Double = {
            val t = run10(name, fn)
            if (t >= 0) samples += t
            t
          }
          if (sample() < 0) name -> -1.0
          else {
            sample()
            // Sub-0.1 s timings are scheduler-noise-dominated: a 1.5x
            // ratio gate there burns the 2 extra samples + loadavg
            // rechecks even on an idle box while carrying no evidence
            // weight (ADVICE r14) — accept min-of-2 below the floor.
            def converged: Boolean = {
              val s = samples.sorted
              s.size >= 2 && (s(0) < 0.1 || s(1) / s(0) <= 1.5)
            }
            var extras = 0
            while (!converged && extras < 2) {
              if (loadavg() > cooldownTarget && axisCooldownBudgetSec > 0) {
                val t0 = System.nanoTime()
                while (loadavg() > cooldownTarget &&
                    (System.nanoTime() - t0) / 1e9 < axisCooldownBudgetSec)
                  Thread.sleep(5000)
                axisCooldownBudgetSec -= (System.nanoTime() - t0) / 1e9
              }
              sample()
              extras += 1
              reruns10x += 1
            }
            name -> (if (samples.isEmpty) -1.0 else samples.min)
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] 10x axis skipped: ${e.getMessage}")
        Nil
      }
    val tenXsec = tenX.map(_._2).filter(_ >= 0).sum

    // Cooldown between the axes (round-11 verdict ask #1): the
    // 10x-FIRST ordering makes tpch10x trustworthy but leaves the
    // machine hot when the main pass starts (BENCH_r11:
    // load_main=8.86, reruns_batch=52 vs the <=46 idle criterion — the
    // two protocol fixes fought each other). Gate the main pass on the
    // 1-min loadavg decaying below SPARK_GRAFT_COOLDOWN_LOAD (default
    // 2.0, the judge's idle bar), bounded by
    // SPARK_GRAFT_COOLDOWN_MAX_SEC (default 360 s) so a busy co-tenant
    // can never stall the bench forever. The wait is recorded as
    // cooldown_sec and is NOT part of any timed axis.
    val cooldownSec =
      if (tenX.nonEmpty) {
        System.gc() // release 10x-axis shuffle/broadcast driver state now
        awaitIdle()
      } else 0.0

    // Noise immunity (round-6 lesson): a shared machine injected phantom
    // 30 s outliers into single-shot timings (isolated re-runs: 1-3 s).
    // Any query whose first run exceeds 1 s gets a second run and we keep
    // the MIN — the minimum over runs is the plan cost, anything above it
    // is contention/GC. Fast queries aren't re-run, so the overhead is
    // bounded by the tail, not 2x the whole suite. First-run values are
    // preserved in bench.json ("first_runs") for drift inspection.
    val rerunThresholdSec = 1.0
    val mainLoad = loadavg()
    val firstRuns = selected.map { case (name, fn) => name -> timeOne(name, fn) }
    // Rerun accounting split by CAUSE (round-10 verdict ask #5): the 13
    // stream_* replay rows are >1 s BY CONSTRUCTION (multi-trigger replay
    // harness), so they rerun structurally every round; only the batch
    // rows that crossed 1 s measure contention/creep. Reported separately
    // so "reruns rose" can be read as structure vs machine load.
    var rerunsStream = 0
    var rerunsBatch = 0
    val results = selected.zip(firstRuns).map { case ((name, fn), (_, t1)) =>
      if (t1 > rerunThresholdSec) {
        if (name.startsWith("stream_")) rerunsStream += 1 else rerunsBatch += 1
        val t2 = timeOne(name, fn)
        name -> (if (t2 < 0) t1 else math.min(t1, t2))
      } else name -> t1
    }
    val reruns = rerunsStream + rerunsBatch
    val failedNames = results.collect { case (n, v) if v < 0 => n }
    def fmt(v: Double) = f"$v%.3f"
    def jmap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver keeps only the LAST 2000 chars of stdout and parses the
    // metric line out of that tail (rounds 1-3 recorded `parsed: null`
    // because the full 143-query map made the line ~5 KB — the tail began
    // mid-line). Print a compact line (headline TPC-H queries only,
    // 3-decimal values, < 1 KB) and write the full per-query map to
    // bench.json for inspection.
    val headline = results.filter(_._1.matches("q\\d+_.*"))

    // tpch_sec: the q1-q22 subtotal — a stable cross-round comparison
    // while the total query count keeps growing round over round.
    // stream_sec/batch_sec: the stream_* replay rows carry a fixed
    // per-trigger harness cost (~0.3-0.5 s x triggers) that is
    // verification-rig overhead, invariant to data scale — reported on
    // their own axis so the batch total stays comparable across rounds
    // and real batch regressions aren't drowned by added stream gates.
    val streamSec = results
      .filter(_._1.startsWith("stream_")).map(_._2).filter(_ >= 0).sum
    // rig_sec: the null-op replay baseline (stream_rig_baseline —
    // interval_join's exact feed + trigger schedule through an identity
    // select). Any stream row minus this is attributable operator cost.
    val rigSec = results.collectFirst {
      case ("stream_rig_baseline", v) if v >= 0 => v }
    val prefix = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      s""","n":${results.size},"failed":${failedNames.size},"reruns":$reruns""" +
      s""","reruns_stream":$rerunsStream,"reruns_batch":$rerunsBatch""" +
      s""","load_10x":${fmt(tenXLoad)},"load_main":${fmt(mainLoad)}""" +
      s""","reruns_10x":$reruns10x""" +
      s""","cooldown_sec":${fmt(cooldownSec)}""" +
      s""","cooldown_start_sec":${fmt(cooldownStartSec)}""" +
      s""","tpch_sec":${fmt(headline.map(_._2).filter(_ >= 0).sum)}""" +
      s""","batch_sec":${fmt(total - streamSec)}""" +
      s""","stream_sec":${fmt(streamSec)}""" +
      rigSec.map(v => s""","rig_sec":${fmt(v)}""").getOrElse("") +
      (if (tenX.nonEmpty) s""","tpch10x_sec":${fmt(tenXsec)}""" else "")
    val line = s"""$prefix,"queries":${jmap(headline)},"sf":"$sfDir"}"""
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""$prefix,"failed_queries":$failedJson,"queries":${jmap(results)}""" +
        s""","first_runs":${jmap(firstRuns)}""" +
        (if (tenX.nonEmpty) s""","tpch10x":${jmap(tenX)}""" else "") +
        s""","sf":"$sfDir"}"""
    // A scoped run (SPARK_GRAFT_ONLY) must never overwrite the repo's
    // standing full-suite bench.json artifact — round-9 lesson: a
    // 2-query experiment snapshot got committed as the headline record.
    val benchOut = if (only.isDefined) "bench_scoped.json" else "bench.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      (full + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
