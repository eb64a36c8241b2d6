package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BaseLimitExec, DeserializeToObjectExec, FilterExec, InputAdapter, MapElementsExec, ProjectExec, SerializeFromObjectExec, SortExec, SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}

/** Adaptive query-stage-prep rule: a total sort over a small, already
  * measured input exchanges into ONE partition instead of range
  * partitions.
  *
  * A global `orderBy` plans `ShuffleExchangeExec(RangePartitioning)`,
  * whose shuffle dependency first runs a sampling job over its child to
  * pick split points, then recomputes the child in the map stage. On a
  * small child that job and the second evaluation cost more than the
  * parallel sort they buy. The reference does the same split: it
  * samples split points only in its multi-partition streaming executor
  * and sorts small inputs in memory.
  *
  * The exchange is rewritten to `SinglePartition` only when all of this
  * holds:
  *  - every leaf under the exchange is a materialized query stage, so
  *    the size is measured shuffle/broadcast output, not a file-size
  *    guess (a sort directly over a scan keeps its range exchange);
  *  - every operator between those stages and the exchange is one whose
  *    size estimate bounds its output: projections, filters, aggregates,
  *    joins (estimated as the product of their inputs), windows, sorts,
  *    limits, unions and the one-row-per-row `Dataset.map` operators.
  *    Anything else keeps the range exchange — `Generate`, `Expand` and
  *    the operators behind `Dataset.flatMap`/`mapPartitions`/
  *    `flatMapGroups` can emit several rows per input row while Spark
  *    passes their child's size through unchanged;
  *  - the child's logical size is at most `spark.sql.files.openCostInBytes`
  *    (4 MB by default), Spark's byte price of one task's fixed cost.
  *    Measured on 4 cores (`OPTIMIZATION_r18.md`, "Sort size sweep"), a
  *    single-partition sort beats the sampled range sort up to 4 MB in
  *    every shape tried and loses to it from 8–16 MB on, so the bound
  *    sits at or below the measured break-even.
  *
  * Only `ENSURE_REQUIREMENTS` exchanges change: `repartitionByRange`
  * keeps its user-requested partitioning, `TakeOrderedAndProject` plans
  * no exchange, and sessions without AQE never run stage-prep rules.
  * The rows and their key order are unchanged: a `SinglePartition` child
  * satisfies the sort's ordered distribution; only rows with equal keys
  * may come out in another order, as they may between any two runs.
  */
case class SmallSort(spark: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
        if small(child) =>
      e.copy(outputPartitioning = SinglePartition)
  }

  private def small(child: SparkPlan): Boolean =
    !child.exists {
      case s: QueryStageExec => !s.isMaterialized
      case _: AQEShuffleReadExec | _: WholeStageCodegenExec | _: InputAdapter |
          _: ProjectExec | _: FilterExec | _: BaseAggregateExec |
          _: BaseJoinExec | _: WindowExecBase | _: WindowGroupLimitExec |
          _: SortExec | _: BaseLimitExec | _: UnionExec |
          _: DeserializeToObjectExec | _: MapElementsExec |
          _: SerializeFromObjectExec => false
      case _ => true
    } && child.logicalLink.exists(_.stats.sizeInBytes <=
      spark.sessionState.conf.filesOpenCostInBytes)
}
