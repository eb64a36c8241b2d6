package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (`graft.SparkEntry`, the `graft.plans` kernels) and
  * Spark's public APIs, as one closed-loop client on `local[cores]`.
  *
  * Modes (`--mode`):
  *  - `run`: a check pass (every selected query once, result dumped to
  *    parquet for the output check), then `--passes` timed passes, each in
  *    its own seeded order. Every timed query is built, planned and
  *    written to the `noop` sink. With `--trace 1`, each untraced pass is
  *    followed by a traced one, which records a span tree per query.
  *    With `--q1check 1`, the plan that each timed pass executes for q1
  *    is checked to evaluate every aggregate of q1. With `--datagen
  *    <dir>`, the traced run also times building the 10x copy of `<dir>`.
  *  - `make10x`: builds the key-shifted 10x TPC-H copy of `--input`.
  *
  * Results go to the JSON file `--out`; `run.py` checks and reports them.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = session(opts("cores").toInt, opts("work"))
    try opts("mode") match {
      case "run" => run(spark, opts)
      case "make10x" => write(opts("out"), Map("datagen_s" -> make10x(spark, opts("input"), opts("dst"))))
    } finally spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def now(): Long = System.currentTimeMillis()
  def sinceJvmStart(): Double = (now() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  def nanos(): Long = System.nanoTime()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def write(path: String, v: Any): Unit = Files.writeString(Paths.get(path), Json(v))

  private def run(spark: SparkSession, o: Map[String, String]): Unit = {
    val sessionS = sinceJvmStart()
    val input = o("input")
    val dump = o("dump")
    val traced = o("trace") == "1"
    val timedPasses = o("passes").toInt * (if (traced) 2 else 1)
    val cores = o("cores").toInt
    val all = graft.SparkEntry.queries
    def matching(re: String) =
      all.keys.filter(n => re.r.pattern.matcher(n).matches()).toSeq.sorted
    val names = matching(o("pattern"))
    require(names.nonEmpty, s"no query matches ${o("pattern")}")
    // Queries that are checked once per run, after the timed passes, but
    // not timed: they move no timing metric whatever they cost.
    val checkOnly = matching(o("check-only")).filterNot(names.contains)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) || checkOnly.contains(k) }
    Files.createDirectories(Paths.get(dump))
    write(s"$dump/oracle_sql.json", oracle)
    val sc = spark.sparkContext

    // Check pass: each timed query once, its result dumped for the output check.
    val checked = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def checkRun(n: String): Unit = {
      sc.setJobGroup(s"check:$n", n)
      val t0 = nanos()
      try {
        all(n)(spark, input).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
        checked(n) = Map("ok" -> true, "s" -> (nanos() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        checked(n) = Map("ok" -> false, "error" -> firstLine(e))
      }
    }
    names.foreach(checkRun)
    val setupS = sinceJvmStart()

    val rnd = new Random(o("seed").toLong)
    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Any]
    val q1Name = "q1_pricing_summary"
    val q1Capture = if (o.get("q1check").contains("1") && names.contains(q1Name)) {
      val c = new PlanCapture(spark)
      c.install()
      Some(c)
    } else None
    val q1Groups = mutable.ArrayBuffer.empty[String]
    (0 until timedPasses).foreach { p =>
      val tracedPass = traced && p % 2 == 1
      val order = rnd.shuffle(names)
      System.gc()
      if (tracedPass) tracer.install()
      val acc = new LayerAcc(cores)
      val lat = mutable.LinkedHashMap.empty[String, Double]
      val failed = mutable.ArrayBuffer.empty[String]
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val cpu0 = cpuNs()
      val w0 = nanos()
      order.foreach { n =>
        val group = s"p$p:$n"
        sc.setJobGroup(group, n)
        val q0 = now()
        val t0 = nanos()
        try {
          val df = all(n)(spark, input)
          if (n == q1Name) q1Capture.foreach(_.expect(group, df))
          if (tracedPass) {
            val b1 = now()
            val build = tracer.take()
            val x0 = now()
            noop(df)
            val w1 = now()
            val written = tracer.take()
            val tree = Tracer.queryTree(group, n, q0, b1, x0, w1, Tracer.phasesOf(df),
              build, written)
            acc.add(tree, build, written)
            spans += tree.toMap
          } else noop(df)
          lat(n) = (nanos() - t0) / 1e9
          if (n == q1Name) q1Groups += group
        } catch { case NonFatal(_) =>
          failed += n
          if (tracedPass) tracer.take()
        }
      }
      val wall = (nanos() - w0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      if (tracedPass) tracer.uninstall()
      sc.clearJobGroup()
      passes += Map("traced" -> tracedPass, "wall_s" -> wall, "cpu_s" -> cpu,
        "lat" -> lat, "failed" -> failed,
        "layers" -> (if (tracedPass) acc.metrics(wall) ++ Map(
          "plans.codegen_compiles" ->
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
          "plans.codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9)
        else Map.empty))
    }
    // Read before the untimed work below, which is no part of a pass.
    val peakRss = peakRssMb()
    val q1 = q1Capture.map(_.result(
      Kernels.requiredAggregates(all(q1Name)(spark, input)), q1Groups.toSeq)).orNull
    checkOnly.foreach(checkRun)
    val kernels = o.get("kernel").filter(_ != "none").map(k => Kernels.run(spark, input, k))
    // The sources layer's write path: the 10x copy, built again and timed.
    val datagenS = o.get("datagen").filter(_ => traced).map { src =>
      val dst = s"${o("work")}/tmp/datagen"
      try make10x(spark, src, dst) finally deleteTree(Paths.get(dst))
    }
    if (traced) write(o("spans"), spans)
    write(o("out"), Map("setup_s" -> setupS, "session_s" -> sessionS, "queries" -> names,
      "check_only" -> checkOnly, "check" -> checked,
      "q1_plan" -> q1, "passes" -> passes, "kernels" -> kernels,
      "peak_rss_mb" -> peakRss, "datagen_s" -> datagenS))
  }

  def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .nextOption().getOrElse("").take(300)

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally all.close()
    }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The 10x TPC-H copy, built as `graft.Bench` builds its copy: ten
    * copies of each table, every key shifted by a per-copy offset above
    * the largest key, so joins keep their referential integrity.
    * Returns the seconds it took. */
  def make10x(spark: SparkSession, src: String, dst: String): Double = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val t0 = nanos()
    val keyMap = Seq(
      "region" -> Seq("r_regionkey"),
      "nation" -> Seq("n_nationkey", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"))
    val globalMax = keyMap.map { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      df.agg(max(col(keys.head).cast("long")), keys.tail.map(k => max(col(k).cast("long"))): _*)
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).max
    }.max
    var offset = 10000000L
    while (offset <= globalMax) offset *= 10
    keyMap.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      (0 until 10).map { c =>
        keys.foldLeft(df)((d, k) =>
          d.withColumn(k, (col(k) + lit(c * offset)).cast(df.schema(k).dataType)))
      }.reduce(_ union _).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    (nanos() - t0) / 1e9
  }
}
