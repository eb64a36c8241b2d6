package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.TextFunctions
import graft.plans.GraftExpressions

/** Kernel arms for the `plans.kernel.*` metrics, and the check that the
  * timed plan of q1 still evaluates all its aggregates. */
object Kernels extends AdaptiveSparkPlanHelper {
  private val Rounds = 3
  private val MinRows = 100000L

  /** `spec` is `<arms>:<table>:<column>`; arms are `decimal` (DOUBLE
    * column: `fast_decimal` against a plain ANSI `Cast`) or `text` (STRING
    * column: tokenize, and minhash band keys over the cached tokens). The
    * column is repeated up to MinRows and cached, so an arm's time is its
    * kernel over in-memory rows, not job launch. Each arm writes to the
    * noop sink; arms alternate, and each reports its fastest round. */
  def run(spark: SparkSession, input: String, spec: String): Map[String, Any] = {
    val Array(kind, table, column) = spec.split(":")
    // The workload's own column, repeated up to MinRows so an arm's time
    // is the kernel's rather than job launch.
    val src = spark.read.parquet(s"$input/$table.parquet").select(col(column).as("x"))
    val n = math.max(1L, src.count())
    val base = src.crossJoin(spark.range((MinRows + n - 1) / n).toDF("copy"))
      .select("x").cache()
    val rows = base.count()
    val (arms, mismatches) = kind match {
      case "decimal" =>
        val t = DecimalType(38, 2)
        val fast = GraftExpressions.fastDecimal(col("x"), t.precision, t.scale)
        val cast = col("x").cast(t)
        // The two arms must agree on every row, bit for bit.
        val diff = base.select(sum(when(fast <=> cast, 0).otherwise(1))).head().getLong(0)
        (Seq("fast_decimal" -> base.select(fast), "cast_decimal" -> base.select(cast)), diff)
      case "text" =>
        val toks = base.select(array_distinct(TextFunctions.tokens(col("x"))).as("t")).cache()
        toks.count()
        (Seq("tokenize" -> base.select(TextFunctions.tokens(col("x"))),
          "minhash" -> toks.select(TextFunctions.minhashBandKeys(col("t"), 32, 8))), 0L)
    }
    timed(rows, arms) ++ Map("mismatches" -> mismatches)
  }

  private def timed(rows: Long, arms: Seq[(String, DataFrame)]): Map[String, Any] = {
    val best = mutable.LinkedHashMap(arms.map(_._1 -> Double.MaxValue): _*)
    arms.foreach { case (_, df) => Harness.noop(df) }
    (0 until Rounds).foreach { r =>
      (if (r % 2 == 0) arms else arms.reverse).foreach { case (n, df) =>
        val t0 = System.nanoTime()
        Harness.noop(df)
        best(n) = math.min(best(n), (System.nanoTime() - t0).toDouble)
      }
    }
    Map("rows" -> rows) ++ best.map { case (n, ns) => s"${n}_ns_row" -> ns / math.max(1L, rows) }
  }

  /** Distinct aggregate functions in the final physical aggregates of a
    * write's executed plan, and whether the plan uses `fast_decimal`. */
  def aggregatesOf(qe: QueryExecution): (Int, Boolean) = {
    val timed = collect(qe.executedPlan) { case a: BaseAggregateExec =>
      a.aggregateExpressions.map(_.aggregateFunction.canonicalized).distinct.size
    }.foldLeft(0)(math.max)
    (timed, qe.executedPlan.toString.contains("fast_decimal"))
  }

  /** Distinct aggregate functions of a query's own optimized plan. */
  def requiredAggregates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate =>
      a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression =>
        e.aggregateFunction.canonicalized })
    }.flatten.distinct.size
}

/** Captures the plans that the timed passes execute for one query: a
  * QueryExecutionListener matches each finished execution against the
  * plans `expect` registered, by the job group of the timed pass that
  * built them, and keeps the aggregates that execution evaluated. A
  * pass that times `count()` instead of the noop write executes a plan
  * with one aggregate, and a pass that executes nothing leaves its group
  * without a capture. */
final class PlanCapture(spark: SparkSession) extends QueryExecutionListener {
  private val expected = mutable.ArrayBuffer.empty[(String, LogicalPlan)]
  private val captured = mutable.LinkedHashMap.empty[String, (Int, Boolean)]

  def expect(group: String, df: DataFrame): Unit =
    synchronized { expected += group -> df.queryExecution.analyzed }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
    val mine = synchronized(expected.toSeq)
    mine.find { case (_, p) => qe.logical.find(_ == p).isDefined }.foreach { case (g, _) =>
      val aggs = Kernels.aggregatesOf(qe)
      synchronized { captured(g) = aggs }
    }
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def install(): Unit = spark.listenerManager.register(this)

  /** Uninstalls the listener and checks every expected group: `required`
    * is the query's own count of distinct aggregates, `timed` the fewest
    * that a timed execution evaluated. */
  def result(required: Int, groups: Seq[String]): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    val got = synchronized(groups.flatMap(captured.get))
    val timed = if (got.size == groups.size && got.nonEmpty) got.map(_._1).min else 0
    Map("required" -> required, "timed" -> timed, "passes" -> got.size,
      "fast_decimal" -> (got.nonEmpty && got.forall(_._2)),
      "ok" -> (required >= 7 && timed >= required))
  }
}
