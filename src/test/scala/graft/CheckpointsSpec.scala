package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint knob (spark.graft.checkpointDir): every
  * iterative operator routed through Checkpoints.cut must produce
  * bit-identical output with the knob set (reliable checkpoint() to a
  * DFS dir) and unset (localCheckpoint) — the knob changes fault
  * tolerance, never results. VERDICT r14 "What's wrong #2".
  */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withKnob[A](dir: String)(body: => A): A = {
    spark.conf.set(graft.operators.Checkpoints.DirKey, dir)
    try body finally spark.conf.unset(graft.operators.Checkpoints.DirKey)
  }

  test("checkpointDir knob: identical results, reliable files written") {
    import spark.implicits._
    import graft.operators.{Checkpoints, Dedup, LinkAnalysis}
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString

    // pointer-jumping components over a 40-node path (multi-round loop)
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def components() = Dedup.nearDupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // pageRank fixpoint (rank vector cut every iteration)
    val g = ((1L to 12L).map(i => (i, 0L)) :+ (0L, 1L)).toDF("s", "d")
    def ranks() = LinkAnalysis.pageRank(g, "s", "d", iters = 5, exact = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

    val (compL, rankL) = (components(), ranks())
    val (compR, rankR) = withKnob(tmp) { (components(), ranks()) }

    assert(compR == compL, "components differ under reliable checkpoints")
    assert(rankR == rankL, "pageRank differs under reliable checkpoints")

    // the reliable regime must have materialized checkpoint files
    def rdds(p: java.io.File): Iterator[java.io.File] =
      p.listFiles().iterator.flatMap(f =>
        if (f.isDirectory) rdds(f) else Iterator(f))
    assert(rdds(new java.io.File(tmp)).nonEmpty,
      s"no reliable checkpoint files under $tmp — knob did not engage")

    // setCheckpointDir mkdirs a fresh <dir>/<UUID> on EVERY call, so a
    // naive per-cut set would scatter each loop iteration into its own
    // UUID dir (ADVICE r15). All cuts above — across two multi-round
    // operators — must share exactly one.
    assert(new java.io.File(tmp).listFiles().count(_.isDirectory) == 1,
      "cut() re-created a UUID checkpoint dir per call")

    // and with the knob unset the cut must NOT write to that dir
    val before = rdds(new java.io.File(tmp)).size
    components()
    assert(rdds(new java.io.File(tmp)).size == before,
      "localCheckpoint regime wrote reliable files")
  }

  test("BPE merge learning honors the checkpoint knob with identical " +
    "merge sequences") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, explode, lit, split}
    import graft.operators.BpeLearn
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-bpe").toString
    val corpus = Seq("low lower lowest", "new newer newest",
      "wide wider widest", "low low new new").toDF("text")
    // checkpointEvery = 2 forces several lineage cuts inside 12 merges
    def merges() = BpeLearn.learnMerges(
      corpus.select(explode(split($"text", " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("w")),
      "tok", "w", numMerges = 12, checkpointEvery = 2)
    val local = merges()
    val reliable = withKnob(tmp) { merges() }
    assert(reliable == local,
      "merge sequence differs under reliable checkpoints")
    assert(local.size == 12, s"fixture learned only ${local.size} merges")
    def files(p: java.io.File): Int =
      p.listFiles().map(f => if (f.isDirectory) files(f) else 1).sum
    assert(files(new java.io.File(tmp)) > 0,
      "BPE loop never wrote a reliable checkpoint — knob bypassed")
  }
}
