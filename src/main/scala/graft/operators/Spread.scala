package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan, Project, SubqueryAlias, Union}

/** Scan-parallelism guard for CPU-dense kernels (the optimization
  * guide's "one huge unsplittable file" remedy: repartition immediately
  * after the read).
  *
  * Parquet cannot split below a row group, so a single-file/
  * single-row-group input pins every scan-side map stage — tokenize,
  * MD5 minhash, deletion-neighborhood explode, media decode — to ONE
  * task while the rest of the cluster idles; AQE cannot help because
  * there is no exchange to re-plan. `spread` re-balances the input to
  * the session's default parallelism ONLY when the scan's split count
  * underfills it by 2x or more: at real scale inputs carry thousands of
  * splits and this is a no-op, so the extra exchange exists exactly
  * when the kernel would otherwise serialize (and its bytes are the
  * raw input rows the kernel was about to amplify anyway).
  *
  * Applied only to scan-stage frames (scan/filter/project/alias, no
  * exchanges below): partition-count inspection builds the physical
  * plan, and under AQE a plan WITH shuffle stages would execute them —
  * frames of any other shape are returned untouched.
  */
object Spread {
  private def scanStage(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case f: Filter => scanStage(f.child)
    case pr: Project => scanStage(pr.child)
    case a: SubqueryAlias => scanStage(a.child)
    case u: Union => u.children.forall(scanStage) // concat, no exchange
    case g: Generate => scanStage(g.child) // explode: map-side
    case _ => false
  }

  def spread(df: DataFrame): DataFrame = {
    if (!scanStage(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }
}
