package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.internal.SQLConf

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
  *
  * An input whose optimized size is below
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` times the
  * default parallelism (64 KB × 4 = 256 KB in a 4-core session) is also
  * returned untouched, checked before the split count so it is not even
  * physically planned while the query is built. Below that size AQE
  * would not cut a shuffle of the input into one partition per core, so
  * spreading it only makes tasks smaller than the session's smallest
  * worthwhile partition. The measured break-even depends on the
  * kernel's CPU per byte (`OPTIMIZATION_r18.md`, "Spread size sweep":
  * single-row-group corpora of 12 KB to 7.5 MB estimated input, 4
  * cores): the hot-clique and winnowing kernels gain from about 200–300
  * KB on, the substring screen only from about 1 MB, and most kernels
  * lose at the 40–80 KB of the base corpus.
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
    val minPartition = df.sparkSession.sessionState.conf
      .getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(minPartition) * target) return df
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }
}
