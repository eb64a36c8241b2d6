package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines (north star; nvtext/deduplicate.hpp:40-95 is the reference's
  * substring-dedup analog, here lifted to document granularity with the
  * standard scalable techniques: content-hash, bag-of-words fingerprint,
  * exact pairwise Jaccard via inverted index, and MinHash+LSH banding).
  *
  * Scale design: every operator is a constant number of hash-partitioned
  * shuffles — no driver-side loops, no cross joins on fact-sized inputs.
  * At 100 TB: exact/fingerprint dedup shuffle once on a digest key
  * (uniformly distributed by construction); LSH shuffles on band keys
  * whose fan-out is numBands × docs, independent of pair count.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content digest with the
    * surviving (minimum) id and the duplicate count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup after full text normalization (NFC → lower → de-accent
    * → whitespace squeeze): the form every real dedup pipeline hashes,
    * so byte-level encoding variants of the same text collapse. */
  def normalizedGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol))).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Row-distinct under nan_equality::UNEQUAL
    * (stream_compaction.hpp:227 `distinct` with nans unequal — IEEE
    * semantics: NaN compares equal to nothing, itself included, so a
    * row holding a NaN in any of the floating `nanCols` can never
    * equal another row and ALWAYS survives). Spark's `dropDuplicates`
    * implements the reference's default ALL_EQUAL policy (grouping
    * normalizes NaN); this is the other policy, composed as
    * NaN-carrying rows passing through + dropDuplicates on the rest —
    * two scans of one shuffle-free filter plus the one distinct
    * shuffle, no row comparator customization needed. */
  def distinctNanUnequal(df: DataFrame, nanCols: Seq[String]): DataFrame = {
    require(nanCols.nonEmpty, "need at least one floating column")
    val hasNan = nanCols.map(c => isnan(col(c))).reduce(_ || _)
    df.filter(hasNan).unionByName(df.filter(!hasNan).dropDuplicates())
  }

  /** Bag-of-words fingerprint dedup: documents with the same distinct
    * token set collapse into one group. */
  def fingerprintGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Surviving rows of exact dedup (keep-first by id), streamed through a
    * single window — no second join against the input. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** [[exactSurvivors]] on the NORMALIZED digest (NFC → lower →
    * de-accent → ws squeeze), so byte-level encoding variants of the
    * same text collapse to one survivor. */
  def normalizedSurvivors(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(normalizeText(col(textCol))))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Shared exact-intersection machinery of [[jaccardPairsExact]] and
    * [[containmentPairs]]: single tokenize, posting-list pair
    * generation, per-pair shared-token counts with both set sizes
    * riding in the struct — one row per shared token per pair, so
    * count(*) IS the intersection size. ONE definition of the Σdf²-cost
    * candidate stage so the two exact operators cannot diverge. */
  private def sharedTokenCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // tokenize is the CPU-dense stage: guard against unsplittable
    // single-row-group inputs serializing it (Spread scaladoc)
    val toks = Spread.spread(df).select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("toks"))
    val inv = toks.select(
      struct(col("id"), size(col("toks")).as("n")).as("p"),
      explode(col("toks")).as("tok"))
    PostingLists.candidatePairs(inv, "p", "tok")
      .filter(col("a.id") =!= col("b.id")) // struct ids: no self-pairs
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"),
        first(col("a.n")).as("n_a"), first(col("b.n")).as("n_b"))
  }

  /** A document's distinct tokens, sorted: the set form the minhash
    * family bands (a per-seed min ignores order) and verifies over.
    * `split` never yields a null token, so sort_array (no comparator
    * lambda) gives array_sort's order. */
  private def tokenSet(textCol: String): Column =
    sort_array(array_distinct(tokens(col(textCol))))

  /** Exact Jaccard of two sorted, duplicate-free token arrays: one merge
    * pass (graft.plans.SortedJaccard), no per-pair hash sets. */
  private def sortedJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    column(graft.plans.SortedJaccard(expression(a), expression(b)))
  }

  /** Shared candidate-verify join of the minhash family: attach each
    * pair's sorted sets, exact Jaccard, threshold filter. */
  private def verifyJaccard(cand: DataFrame, arrays: DataFrame,
      arrCol: String, threshold: Double): DataFrame =
    cand.hint("merge") // pairs enter a join: PostingLists' join guard
      .join(arrays.select(col("id").as("id_a"), col(arrCol).as("arr_a")), "id_a")
      .join(arrays.select(col("id").as("id_b"), col(arrCol).as("arr_b")), "id_b")
      .withColumn("jac", sortedJaccard(col("arr_a"), col("arr_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))

  /** All document pairs with distinct-token Jaccard ≥ threshold, computed
    * EXACTLY via an inverted token index: explode distinct tokens, self-
    * join on token (any pair with jaccard > 0 shares ≥1 token, so there
    * are no false negatives), count shared tokens per pair, then filter.
    *
    * Scale note: cost is Σ_token df(token)² — fine under Zipfian vocab
    * once stopwords are dropped, but the guaranteed-scalable path for
    * web-scale corpora is [[minhashPairs]]; this exact operator is the
    * oracle-checkable ground truth. */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    sharedTokenCounts(df, idCol, textCol)
      .withColumn("jac", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))

  /** Asymmetric CONTAINMENT pairs: C(A,B) = |A∩B| / |A| — the
    * excerpt/quotation detector Jaccard misses (a 50-token doc fully
    * contained in a 5000-token doc has Jaccard ≈ 0.01 but containment
    * 1.0; Broder 1997 distinguishes resemblance from containment for
    * exactly this case). Same single-tokenize posting-list pair
    * generation as [[jaccardPairsExact]] (one shuffle, sizes ride in
    * the struct, Σdf² cost caveat identical); emits both directions so
    * callers can drop the CONTAINED side. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    sharedTokenCounts(df, idCol, textCol)
      .withColumn("cont_ab", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_ba", col("n_inter").cast("double") / col("n_b"))
      .filter(col("cont_ab") >= threshold || col("cont_ba") >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_ab"), col("cont_ba"))
  }

  /** MinHash+LSH near-dup candidate pairs, verified with exact Jaccard.
    * signature → band keys → bucket posting lists → pairs → verify.
    * This is the 100 TB path: shuffle fan-out is numBands per doc and
    * buckets are hash-distributed; no quadratic blow-up below the
    * threshold's candidate density. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8): DataFrame = {
    // the per-token MD5 + k-remix signature kernel is CPU-dense: guard
    // against unsplittable single-row-group inputs (Spread scaladoc)
    val docs = Spread.spread(df).select(col(idCol).as("id"),
      tokenSet(textCol).as("toks"))
    // Band rows carry ONLY (id, band): the bucket shuffle moves ids,
    // never token arrays (bands× lighter at corpus scale), and the
    // posting-list pair generation runs the fused signature kernel
    // exactly once (see PostingLists for why the former bucket
    // self-join computed it twice).
    val banded = docs.select(col("id"),
      explode(minhashBandKeys(col("toks"), numHashes, bands)).as("band"))
    val cand = PostingLists.candidatePairs(banded, "id", "band")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(cand, docs.select(col("id"), col("toks")), "toks", threshold)
  }

  /** MinHash+LSH near-dup pairs over word n-gram SHINGLES
    * (minhash_ngrams, nvtext/minhash.hpp:156) — order-sensitive: a
    * permutation of the same tokens is NOT a near-dup here, unlike
    * [[minhashPairs]]' distinct-token-set formulation. Same 100 TB
    * shape: band keys shuffle ids only; exact shingle-Jaccard verify
    * joins the shingle arrays back per candidate pair. */
  def minhashNgramPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val docs = Spread.spread(df) // signature kernel: see minhashPairs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("sh", sort_array(shingles("toks", n))) // distinct, null-free
    val banded = docs.select(col("id"),
      explode(minhashBandKeys(col("sh"), numHashes, bands)).as("band"))
    val cand = PostingLists.candidatePairs(banded, "id", "band")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .dropDuplicates("id_a", "id_b") // same single-pass shape as minhashPairs
    verifyJaccard(cand, docs.select(col("id"), col("sh")), "sh", threshold)
  }

  /** Collapse near-dup PAIRS into clusters: connected components via
    * min-label propagation PLUS pointer jumping. Each round every id
    * adopts the minimum label among itself and its neighbors, then
    * labels are compressed through themselves (label := label(label)),
    * which doubles the propagation distance per round → O(log diameter)
    * rounds, not O(diameter). Lineage is truncated with an eager
    * lineage cut (Checkpoints.cut — reliable checkpoint when
    * spark.graft.checkpointDir is set) each round and superseded label
    * frames are
    * unpersisted, so plan size and executor storage stay constant over
    * iterations. Returns ((id, cluster), converged); cluster is the
    * minimum id of the component. */
  def nearDupClustersWithStatus(pairs: DataFrame,
      maxIter: Int = 10): (DataFrame, Boolean, Int) = {
    // Edges are hash-partitioned on the PROBE key (dst) once, before the
    // lineage cut pins that layout: every round's neighbor join then
    // streams the edge set in place and only the |V|-row label vector
    // moves — the former unpartitioned edge frame re-exchanged |E| rows
    // every round.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("dst"))
      .transform(Checkpoints.cut) // eager: computed once, lineage cut, stays cached
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .transform(Checkpoints.cut)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // SHUFFLE_HASH build on the label side: labels hash per partition,
      // edges stream through unsorted (sort-merge would re-sort the
      // persisted edge set every round; a checkpointed vector has no
      // stats, so the planner can't make this call itself). Measured in
      // a same-JVM interleaved A/B at sf0.1: hinted min 4.34 s vs
      // unhinted 4.87 s (unhinted AQE broadcasts the label vector, but
      // the jump self-join then re-plans per round and loses more).
      val neighborMin = edges
        .join(labels.hint("shuffle_hash"), edges("dst") === labels("id"))
        .groupBy(col("src").as("id2"))
        .agg(min(col("cluster")).as("nbr_min"))
      // Checkpoint `propagated` BEFORE the jump self-join: the join
      // plans two copies of its subtree and Spark 4's ReuseExchange
      // does not dedup them (PostingLists' measured note), so without
      // materialization the edges-join + aggregation would run twice
      // per round. `prev` carries the round-start label through to the
      // convergence test, which is then a filter over the checkpointed
      // result instead of a join back against `labels` (one fewer
      // shuffle + join job per round).
      val propagated = labels.join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          col("cluster").as("prev"))
        .transform(Checkpoints.cut)
      // Pointer jumping: labels are themselves ids, so re-resolving each
      // label through the label table halves the remaining path length.
      // jumped stays an EAGER cut: the convergence check below is
      // isEmpty (executeTake — a partial action that may compute only
      // some partitions), so a lazy cut could be half-materialized when
      // the round's frees run and the next round would recompute
      // through released blocks
      val jumped = propagated.as("x")
        .join(propagated.select(col("id").as("jid"), col("cluster").as("jc"))
            .hint("shuffle_hash"),
          col("x.cluster") === col("jid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("jc"), col("x.cluster")).as("cluster"),
          col("x.prev").as("prev"))
        .transform(Checkpoints.cut)
      converged = jumped.filter(col("cluster") =!= col("prev")).isEmpty
      // Dataset.unpersist is a NO-OP for localCheckpoint storage — free
      // the checkpointed RDD blocks explicitly or every round leaks one
      // full label frame until a driver GC (CheckpointUtil.free).
      org.apache.spark.sql.graftshim.CheckpointUtil.free(labels)
      org.apache.spark.sql.graftshim.CheckpointUtil.free(propagated)
      labels = jumped
      i += 1
    }
    org.apache.spark.sql.graftshim.CheckpointUtil.free(edges)
    (labels.select(col("id"), col("cluster")), converged, i)
  }

  /** [[nearDupClustersWithStatus]] that FAILS on non-convergence instead
    * of silently returning partial clusters (a component whose log-
    * diameter exceeds maxIter would otherwise be split). */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val (labels, converged, _) = nearDupClustersWithStatus(pairs, maxIter)
    require(converged,
      s"nearDupClusters: label propagation did not converge in $maxIter " +
        "rounds — raise maxIter (rounds needed ~ log2 of the largest " +
        "component's diameter)")
    labels
  }

  /** Incremental (delta) dedup, exact path: rows of `delta` that
    * survive against an already-ingested `corpus` — drops (a) exact
    * duplicates of any corpus doc (left-anti on content digest; the
    * corpus side reduces to DISTINCT digests, so the join probe carries
    * 16 bytes/doc, never text) and (b) later copies within the delta
    * itself (keep-first window). Both wide ops key on the uniformly
    * distributed digest. This is the snapshot-over-snapshot ingest
    * shape: the corpus digest set is exactly the state a production
    * pipeline persists between crawls (streaming twin:
    * streaming/StatefulOps.streamingDedup). */
  def dedupDelta(corpus: DataFrame, delta: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val corpusDigests = corpus
      .select(md5(col(textCol)).as("__digest")).distinct()
    val w = Window.partitionBy(col("__digest")).orderBy(col(idCol))
    delta.withColumn("__digest", md5(col(textCol)))
      .join(corpusDigests, Seq("__digest"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__digest")
  }

  /** Incremental NEAR-dup screen: delta docs with a minhash-band
    * collision in the corpus, verified by exact Jaccard ≥ threshold.
    * Returns (delta_id, corpus_id, jac) — feed the surviving delta ids
    * through an anti-join to admit only novel documents. Band keys join
    * ACROSS the two corpora (each side's signature kernel runs once —
    * no self-join), shuffling (id, band) pairs only; the corpus band
    * index is recomputable or persistable as a table. */
  def nearDupDeltaPairs(corpus: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val cToks = corpusTokenIndex(corpus, idCol, textCol)
    nearDupDeltaPairsIndexed(cToks, corpusBandIndex(cToks, numHashes, bands),
      delta, idCol, textCol, numHashes, bands, threshold)
  }

  /** The corpus-side token index for [[nearDupDeltaPairsIndexed]]:
    * (id_c, toks_c), toks_c each doc's distinct tokens in ascending
    * order (the verify merges over sorted sets). This plus
    * [[corpusBandIndex]] is exactly the state a production pipeline
    * persists between crawls — build once, cache or write as tables,
    * screen every delta/micro-batch against them without re-running
    * tokenize over the corpus. */
  def corpusTokenIndex(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpus.select(col(idCol).as("id_c"), tokenSet(textCol).as("toks_c"))

  /** The corpus-side LSH posting frame: (id_c, band), exploded from the
    * minhash signature of a [[corpusTokenIndex]]. Persisting THIS (not
    * just the raw corpus) is what keeps the numHashes-deep signature
    * kernel from re-executing on every screen. */
  def corpusBandIndex(corpusToks: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    corpusToks.select(col("id_c"),
      explode(minhashBandKeys(col("toks_c"), numHashes, bands)).as("band"))

  /** [[nearDupDeltaPairs]] against a prebuilt (and typically persisted)
    * corpus index; `corpusToks` must come from [[corpusTokenIndex]]
    * (sorted sets). The delta side still tokenizes and bands fresh —
    * it is new data by definition. */
  def nearDupDeltaPairsIndexed(corpusToks: DataFrame,
      corpusBands: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val dToks = delta.select(col(idCol).as("id_d"),
      tokenSet(textCol).as("toks_d"))
    val dBands = dToks.select(col("id_d"),
      explode(minhashBandKeys(col("toks_d"), numHashes, bands)).as("band"))
    val cand = dBands.join(corpusBands, "band")
      .select(col("id_d"), col("id_c"))
      .dropDuplicates("id_d", "id_c")
    cand.join(dToks, "id_d").join(corpusToks, "id_c")
      .withColumn("jac", sortedJaccard(col("toks_d"), col("toks_c")))
      .filter(col("jac") >= threshold)
      .select(col("id_d").as("delta_id"), col("id_c").as("corpus_id"),
        col("jac"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, using
    * 4×15-bit band buckets over the 60-bit portable signature
    * (pigeonhole: any pair within distance 3 shares at least one of 4
    * bands — so the output is EXACTLY all pairs within maxDist, which
    * is what lets the DuckDB oracle verify it brute-force) then exact
    * Hamming verification. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole covers Hamming distance <= 3")
    val docs = Spread.spread(df) // signature kernel: see minhashPairs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("sh", simhash60("toks"))
    // the 60-bit signature rides inside the posting-list struct, so the
    // Hamming verify needs no join back (and the simhash computes once)
    val banded = docs.select(struct(col("id"), col("sh")).as("p"),
      explode(expr("transform(sequence(0, 3), " +
        "b -> concat(b, ':', (sh >> (b * 15)) & 32767))")).as("band"))
    PostingLists.candidatePairs(banded, "p", "band")
      .filter(col("a.id") =!= col("b.id")) // struct ids: no self-pairs
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hdist", hammingDist(col("sh_a"), col("sh_b")))
      .filter(col("hdist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hdist"))
  }

  /** Approximate-membership ingest screen: reject batch rows whose
    * `keyCol` is (probably) already in the corpus, via a Bloom filter
    * built ONCE by a distributed aggregation and broadcast to
    * executors. Per-batch cost is then a pure map-stage filter — ZERO
    * shuffle — versus the anti-join screens' per-batch shuffle; the
    * price is `fpp`: a false positive DROPS a novel row (never the
    * reverse — Bloom has no false negatives, so nothing already
    * ingested ever slips through). The right gate when the corpus key
    * set is huge, the stream is hot, and losing fpp of novel input is
    * acceptable (crawl frontier / seen-URL filtering). Keys compare by
    * their string form. Call [[IngestScreen.close]] to release the
    * broadcast. */
  def bloomScreenBatch(corpus: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): IngestScreen = {
    val bf = corpus.select(col(keyCol).cast("string").as("k"))
      .stat.bloomFilter("k", expectedItems, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    // Native codegen probe, not a ScalaUDF: the screen stays inside
    // WholeStageCodegen and the plan ships only the broadcast handle.
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    def mightContain(c: org.apache.spark.sql.Column) =
      column(graft.plans.BloomMightContain(expression(c), bc))
    new IngestScreen(
      batch => batch.filter(!mightContain(col(keyCol).cast("string"))),
      () => { bc.destroy(); () })
  }
}
