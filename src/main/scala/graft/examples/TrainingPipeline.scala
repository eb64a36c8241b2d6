package graft.examples

import graft.api.GFrame
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pretraining-data pipeline over the GFrame facade — the
  * "a reference user could switch" artifact: every stage is a library
  * call, chained the way a real 100 TB curation job would run them.
  * Each stage is one or two shuffles; nothing driver-side except the
  * per-stage row counts this demo reports.
  *
  * raw → strip HTML → normalize → language-ID → quality/repetition
  * gate → per-language top-frac gate → exact dedup → boilerplate
  * removal → temperature rebalance → leak-free split → chunk → pack.
  */
object TrainingPipeline {

  /** Runs the pipeline; returns (stage name → surviving row count) in
    * stage order plus the packed-sequence frame for inspection. */
  def run(spark: SparkSession, dir: String): (Seq[(String, Long)], DataFrame) = {
    val stages = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    def mark(name: String, g: GFrame): GFrame = {
      stages += name -> g.toDF.count(); g
    }

    val raw = GFrame.readParquet(spark, s"$dir/documents.parquet")
    mark("raw", raw)

    // 1. markup strip + unicode/whitespace normalization (map-only)
    val clean = mark("normalized",
      raw.stripHtml("text").normalizeText("text"))

    // 2. language id from the text itself (map-only)
    val withLang = clean.langId("text", "lang_detected")

    // 3. quality + repetition gates (doc-keyed shuffle for the n-gram
    // stats; the thresholds are the Gopher-style screens)
    val scored = GFrame(graft.operators.TextPipeline.repetitionStats(
        withLang.toDF, "doc_id", "text", n = 2)
      .join(withLang.toDF, "doc_id"))
    val gated = mark("quality_gated", GFrame(scored.toDF
      .filter(col("dup_frac") <= 0.6 && col("top_frac") <= 0.4)
      .filter(length(col("text")) >= 10)))

    // 4. per-language quality gate: top 80% by length WITHIN each
    // language (a global cut would let the longest language dominate)
    val topFrac = mark("top_frac_per_lang",
      gated.filterTopFracByGroup("lang_detected", "n_chars", 0.8))

    // 5. exact dedup (digest-keyed shuffle, keep-first survivor)
    val deduped = mark("dedup_exact", topFrac.dedupExact("doc_id", "text"))

    // 6. boilerplate removal at token granularity (word segments stand
    // in for lines on this single-line corpus). Threshold 0.9: only
    // near-universal segments drop — an aggressive cut on a small-vocab
    // corpus collapses every document to the same residue, which then
    // poisons content-grouped splitting downstream (measured: 0.3 left
    // 4 distinct texts in 401 docs). The RAW text rides along because
    // the split must group near-dups by ORIGINAL content, not by the
    // boilerplate-stripped residue.
    val noBoiler = mark("boilerplate_pruned", GFrame(
      deduped.removeBoilerplate("doc_id", "text", minDocFrac = 0.9,
          delimRegex = " ", joinSep = " ").toDF
        .select(col("doc_id"), col("cleaned").as("text_clean"))
        .join(deduped.toDF.select(col("doc_id"), col("text"),
          col("lang_detected")), "doc_id")
        .withColumn("n_chars", length(col("text_clean")))))

    // 7. temperature rebalance across languages (α = 0.5)
    val balanced = mark("temperature_mixed",
      noBoiler.temperatureMixture("lang_detected", "doc_id",
        alpha = 0.5, budget = 300, seed = "pipeline"))

    // 8. leak-free split: near-dup groups can never straddle train/eval.
    // SEED HYGIENE: every hash-deterministic stage must use a DISTINCT
    // seed — reusing the mixture's seed here would correlate the two
    // decisions (mixture survivors all have hashUnit(id) < rate, which
    // sits entirely below the 0.9 train cut → an empty eval split).
    val split = balanced.trainTestSplitLeakFree("doc_id", "text",
      "pipeline-split", Seq("train" -> 0.9, "eval" -> 1.0))
    mark("train_split", GFrame(split.toDF.filter(col("split") === "train")))

    // 9. chunk the CLEANED text to the context window, then pack chunks
    // into ~equal token budgets (the pre-tokenization batching step)
    val chunks = GFrame(split.toDF.filter(col("split") === "train"))
      .chunk("doc_id", "text_clean", chunkSize = 64, overlap = 8)
    val chunked = mark("chunked", chunks)
    val packed = graft.operators.TextPipeline.packSequences(
      chunked.toDF.withColumn("chunk_id",
        col("doc_id") * 10000 + col("chunk_idx")),
      "chunk_id", "chunk_text", budgetTokens = 256, groups = 8)
    stages += "packed_bins" ->
      packed.select(col("pack_group"), col("bin")).distinct().count()

    (stages.toList, packed)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(8)
    val (stages, _) = run(spark, dir)
    stages.foreach { case (n, c) => println(f"$n%-22s $c%6d") }
    spark.stop()
  }
}
