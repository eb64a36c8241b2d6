package graft

import java.nio.file.Files

import graft.operators.Spread
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Size-aware exchanges on small inputs: the `SmallSort` stage-prep rule
  * (a total sort over a small measured input exchanges into one
  * partition, without the range-sampling job) and `Spread`'s size gate
  * (an input below `minPartitionSize` times the default parallelism is
  * not spread). */
class SmallInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Every shuffle exchange of a plan, also those inside query stages. */
  private def exchanges(p: SparkPlan): Seq[Partitioning] = p.flatMap {
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeExec => Seq(e.outputPartitioning)
    case _ => Nil
  }

  /** The exchanges of the final adaptive plan, after `df` has run. */
  private def finalExchanges(df: DataFrame): Seq[Partitioning] =
    exchanges(df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
      .executedPlan)

  private var groups = 0

  /** Runs `body` in a fresh job group; returns its result and the number
    * of Spark jobs it launched. A control job started afterwards bounds
    * the count: once it is visible in the status store, every job started
    * before it is visible too (the store is fed in event order). */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    groups += 1
    val (group, control) = (s"small-input-$groups", s"small-input-$groups-control")
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(control, control)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(control).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(control).nonEmpty)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Runs `body` with `key` set to `value`, then restores the session's
    * own value (unsetting would fall back to Spark's default, not to the
    * value `Session.local` configured). */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def smallAgg: DataFrame =
    spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k"))
      .agg(sum(col("id")).as("s"))
      .orderBy(col("k"))

  test("a small groupBy -> orderBy sorts in one partition, without the " +
    "range-sampling job") {
    val small = smallAgg
    val (rows, jobs) = withJobs(small.collect().toSeq)
    val ex = finalExchanges(small)
    assert(!ex.exists(_.isInstanceOf[RangePartitioning]), s"exchanges: $ex")
    assert(ex.contains(SinglePartition), s"exchanges: $ex")

    // an open cost of 1 byte makes every input too large
    val ranged = smallAgg
    val (expected, rangedJobs) = withConf(
        "spark.sql.files.openCostInBytes", "1") {
      withJobs(ranged.collect().toSeq)
    }
    assert(finalExchanges(ranged).exists(_.isInstanceOf[RangePartitioning]))
    assert(jobs == rangedJobs - 1, s"jobs $jobs vs ranged $rangedJobs")
    assert(rows == expected)
    assert(rows.map(_.getLong(0)) == (0L until 7L))
  }

  test("a sort over an explode, a flatMap or directly over a file scan " +
    "keeps its range exchange") {
    val exploded = spark.range(0, 100, 1, 4)
      .groupBy((col("id") % 5).as("k"))
      .agg(collect_list(col("id")).as("ids"))
      .select(col("k"), explode(col("ids")).as("v"))
      .orderBy(col("k"), col("v"))
    assert(exploded.collect().length == 100)
    assert(finalExchanges(exploded).exists(_.isInstanceOf[RangePartitioning]),
      "Spark's size estimate does not bound an explode's output")

    val session = spark
    import session.implicits._
    val flatMapped = spark.range(0, 100, 1, 4)
      .groupBy((col("id") % 5).as("k"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, Long)]
      .flatMap { case (k, n) => (0L until n).map(i => (k, i)) }
      .toDF("k", "v")
      .orderBy(col("k"), col("v"))
    assert(flatMapped.collect().length == 100)
    assert(finalExchanges(flatMapped).exists(_.isInstanceOf[RangePartitioning]),
      "Spark's size estimate does not bound a flatMap's output")

    val dir = Files.createTempDirectory("graft_small_sort")
    try {
      spark.range(0, 100, 1, 2).write.mode("overwrite").parquet(dir.toString)
      val scanned = spark.read.parquet(dir.toString).orderBy(col("id").desc)
      assert(scanned.collect().map(_.getLong(0)).toSeq == (99L to 0L by -1))
      assert(finalExchanges(scanned).exists(_.isInstanceOf[RangePartitioning]),
        "a scan's size is a file-size guess, not a measured stage")
    } finally Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("Spread leaves a small input alone and spreads only an underfilled " +
    "input of at least one minimum partition per core") {
    val target = spark.sparkContext.defaultParallelism
    assert(target >= 2)
    def planned(df: DataFrame): Seq[Partitioning] =
      df.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    val single = spark.range(0, 1000, 1, 1).toDF()
    val (small, jobs) = withJobs(Spread.spread(single))
    assert(small eq single, "a small input is returned unchanged")
    assert(planned(small).isEmpty)
    assert(jobs == 0, s"building launched $jobs jobs")

    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      assert(planned(Spread.spread(single)) == Seq(RoundRobinPartitioning(target)))
      val many = spark.range(0, 1000, 1, target).toDF()
      assert(planned(Spread.spread(many)).isEmpty,
        "an input with enough splits is not spread")
    }
  }
}
