package graft.api

import graft.operators.{Dedup, Reshape, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GFrame — the cudf-classic-style fluent façade (SURVEY.md §7(a):
  * "a thin, well-typed façade over DataFrame"). Method names mirror the
  * reference's eager DataFrame API (python/cudf/cudf/core/dataframe.py)
  * so a reference user can port call sites mechanically; every method is
  * a pure plan transformation — laziness, optimization, and execution
  * stay Catalyst's (the reference itself moved this way with
  * cudf-polars, SURVEY §3.2).
  *
  * Only operations whose semantics translate 1:1 are exposed; pandas
  * row-label/index semantics are deliberately dropped (SURVEY §7 "hard
  * bits": positional/named columns only).
  */
final case class GFrame(df: DataFrame) {

  // ---- projection / filtering (dataframe.py select/mask semantics) ----
  def select(cols: String*): GFrame = GFrame(df.select(cols.map(col): _*))
  def assign(name: String, c: Column): GFrame = GFrame(df.withColumn(name, c))
  def rename(mapping: (String, String)*): GFrame =
    GFrame(mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) })
  def query(cond: Column): GFrame = GFrame(df.filter(cond))
  def query(sqlCond: String): GFrame = GFrame(df.filter(sqlCond))
  def astype(colName: String, to: String): GFrame =
    GFrame(df.withColumn(colName, col(colName).cast(to)))

  // ---- ordering / slicing ----
  def sortValues(by: String, ascending: Boolean = true): GFrame =
    GFrame(df.orderBy(if (ascending) col(by).asc else col(by).desc))
  /** Positional row slice [start, end) in the frame's CURRENT order —
    * cudf's iloc. Like the reference (and pandas), only meaningful after
    * an explicit sort; plans as GlobalLimit+offset, not a full collect. */
  def iloc(start: Int, end: Int): GFrame =
    GFrame(df.offset(start).limit(end - start))
  def nlargest(n: Int, by: String): GFrame =
    GFrame(df.orderBy(col(by).desc).limit(n))

  // ---- joins (core/join/join.py merge) ----
  def merge(other: GFrame, on: Seq[String], how: String = "inner"): GFrame =
    GFrame(df.join(other.df, on, how))

  // ---- groupby (core/groupby/groupby.py) ----
  def groupby(keys: String*): GGroupBy = GGroupBy(df, keys)

  // ---- dedup / nulls (stream_compaction, replace.hpp) ----
  def dropDuplicatesKeepFirst(subset: Seq[String], orderBy: String): GFrame = {
    val w = Window.partitionBy(subset.map(col): _*).orderBy(col(orderBy))
    GFrame(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn"))
  }
  def fillna(value: Any, subset: Seq[String] = Nil): GFrame = {
    val cols = if (subset.isEmpty) df.columns.toSeq else subset
    GFrame(value match {
      case d: Double => df.na.fill(d, cols)
      case l: Long => df.na.fill(l, cols)
      case i: Int => df.na.fill(i.toLong, cols)
      case s: String => df.na.fill(s, cols)
      case other => throw new IllegalArgumentException(s"fillna: $other")
    })
  }
  def dropna(subset: String*): GFrame =
    GFrame(if (subset.isEmpty) df.na.drop() else df.na.drop(subset))

  // ---- reshape (core/reshape.py) ----
  def melt(idVars: Seq[String], valueVars: Seq[String]): GFrame =
    GFrame(df.unpivot(idVars.map(col).toArray, valueVars.map(col).toArray,
      "variable", "value"))
  def pivotTable(index: String, columns: String, values: String,
      aggfunc: String = "sum"): GFrame =
    GFrame(df.groupBy(col(index)).pivot(columns)
      .agg(expr(s"$aggfunc($values)")))

  // ---- grouped time-series helpers (core/window, groupby scan/shift/
  //      diff/pct_change/cumsum — SURVEY §2.4 grouped scans) ----
  private def orderedWin(part: Seq[String], order: String) =
    Window.partitionBy(part.map(col): _*).orderBy(col(order))
  def cumsum(valueCol: String, partitionBy: Seq[String], orderBy: String): GFrame =
    GFrame(df.withColumn(s"${valueCol}_cumsum",
      sum(col(valueCol)).over(orderedWin(partitionBy, orderBy)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  def diff(valueCol: String, partitionBy: Seq[String], orderBy: String): GFrame =
    GFrame(df.withColumn(s"${valueCol}_diff",
      col(valueCol) - lag(col(valueCol), 1).over(orderedWin(partitionBy, orderBy))))
  /** pandas GroupBy.cumcount: 0-based position of the row within its
    * group in `orderBy` order (row_number − 1). */
  def cumcount(partitionBy: Seq[String], orderBy: String): GFrame =
    GFrame(df.withColumn("cumcount",
      row_number().over(orderedWin(partitionBy, orderBy)) - 1))
  def pctChange(valueCol: String, partitionBy: Seq[String], orderBy: String): GFrame = {
    val prev = lag(col(valueCol), 1).over(orderedWin(partitionBy, orderBy))
    GFrame(df.withColumn(s"${valueCol}_pct_change", (col(valueCol) - prev) / prev))
  }
  def clip(valueCol: String, lo: Double, hi: Double): GFrame =
    // least/greatest SKIP nulls, so an unguarded form rewrites a null
    // value to the upper bound; pandas/cudf clip preserves nulls
    GFrame(df.withColumn(valueCol,
      when(col(valueCol).isNull, lit(null))
        .otherwise(greatest(least(col(valueCol), lit(hi)), lit(lo)))))
  /** rolling(n).mean/min/max analog (rolling_window, rolling.hpp:194):
    * trailing n-row frame per group; min_periods=1 semantics. */
  def rolling(valueCol: String, n: Int, partitionBy: Seq[String],
      orderBy: String): GFrame = {
    val w = orderedWin(partitionBy, orderBy).rowsBetween(-(n - 1), Window.currentRow)
    GFrame(df
      .withColumn(s"${valueCol}_roll_mean", avg(col(valueCol)).over(w))
      .withColumn(s"${valueCol}_roll_min", min(col(valueCol)).over(w))
      .withColumn(s"${valueCol}_roll_max", max(col(valueCol)).over(w)))
  }

  /** DataFrame.ewm(..).mean() analog (python/cudf/cudf/core/window/
    * ewm.py): full com/span/halflife/alpha parameterization plus
    * `adjust` (default true, the pandas/cudf weighted-mean form),
    * evaluated as a running per-group window — appends
    * `<valueCol>_ewm`. */
  def ewm(valueCol: String, partitionBy: Seq[String], orderBy: String,
      adjust: Boolean = true, alpha: Option[Double] = None,
      com: Option[Double] = None, span: Option[Double] = None,
      halflife: Option[Double] = None): GFrame = {
    val w = orderedWin(partitionBy, orderBy)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    GFrame(df.withColumn(s"${valueCol}_ewm",
      graft.plans.GraftExpressions.ewm(col(valueCol), w, adjust,
        alpha, com, span, halflife)))
  }

  /** Series.rank (dataframe.py rank; sorting.hpp:222 rank_method):
    * method ∈ min | max | dense | first | average, optional pct.
    * `by` partitions the ranking (grouped rank); empty `by` ranks the
    * whole frame — a single-partition window, fine for post-aggregate
    * frames, not for raw facts (use `by` there). */
  def rank(valueCol: String, method: String = "average",
           pct: Boolean = false, by: Seq[String] = Nil): GFrame = {
    val part = if (by.isEmpty) Window.partitionBy()
               else Window.partitionBy(by.map(col): _*)
    val ties = part.orderBy(col(valueCol))
    val sameVal = if (by.isEmpty) Window.partitionBy(col(valueCol))
                  else Window.partitionBy((by.map(col) :+ col(valueCol)): _*)
    // pandas na_option='keep' semantics: nulls rank as null and are
    // excluded from every denominator (Spark's nulls-first ordering
    // would otherwise put them at rank 1 and shift all real ranks)
    val nNulls = count(when(col(valueCol).isNull, 1)).over(part)
    val minR = org.apache.spark.sql.functions.rank().over(ties) - nNulls
    val maxR = minR + count(lit(1)).over(sameVal) - 1
    val r: Column = method match {
      case "min" => minR
      case "max" => maxR
      case "dense" => dense_rank().over(ties) - when(nNulls > 0, 1).otherwise(0)
      case "first" => row_number().over(ties) - nNulls
      case "average" => (minR + maxR) / 2.0
      case other => throw new IllegalArgumentException(s"rank method $other")
    }
    // pct denominators (pandas): non-null row count, except dense,
    // which divides by the DISTINCT non-null value count
    val denom: Column =
      if (method == "dense")
        size(collect_set(col(valueCol)).over(part))
      else count(col(valueCol)).over(part)
    val out = if (pct) r / denom else r
    GFrame(df.withColumn(s"${valueCol}_rank",
      when(col(valueCol).isNull, lit(null)).otherwise(out)))
  }

  /** qcut (equal-frequency quantile bins, k bins labeled 1..k): one
    * exact percentile aggregate broadcast into a per-row label —
    * no global sort (see functions/NumericFunctions.qcutBin). */
  def qcut(valueCol: String, k: Int): GFrame = {
    require(k >= 1, "qcut needs k >= 1")
    // k = 1: a single bin, no cut points — the percentile-array SQL
    // below would be malformed with an empty list
    if (k == 1)
      return GFrame(df.withColumn(s"${valueCol}_qbin",
        when(col(valueCol).isNull, lit(null)).otherwise(lit(1))))
    val ps = (1 until k).map(i => i.toDouble / k)
    val cuts = df.agg(expr(
      s"percentile($valueCol, array(${ps.mkString("D, ")}D))").as("__cuts"))
    GFrame(df.crossJoin(broadcast(cuts))
      .withColumn(s"${valueCol}_qbin",
        graft.functions.NumericFunctions.qcutBin(col(valueCol), col("__cuts")))
      .drop("__cuts"))
  }

  // ---- stats / inspection ----
  def valueCounts(colName: String): GFrame =
    GFrame(df.groupBy(col(colName)).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(colName)))

  // ---- text/LLM pipeline shortcuts (north star ops as one-liners) ----
  def dedupExact(idCol: String, textCol: String): GFrame =
    GFrame(Dedup.exactSurvivors(df, idCol, textCol))
  /** Every duplicated minWidth-gram corpus-wide with its exact
    * occurrence count — the exact-gram-key screen
    * (nvtext resolve_duplicates canonicalized to grams;
    * O(occurrences) on hot duplicate cliques where the pair paths pay
    * C(m,2)). */
  def duplicatedGrams(idCol: String, textCol: String,
      minWidth: Int = 15): GFrame =
    GFrame(graft.operators.SubstringDedup.duplicatedGrams(
      df, idCol, textCol, minWidth))
  /** Cross-corpus contamination grams: every minWidth-gram present in
    * BOTH this frame and `other`, with exact per-source counts
    * (resolve_duplicates_pair at the same hot-clique bound). */
  def contaminationGrams(other: GFrame, idCol: String, textCol: String,
      minWidth: Int = 15): GFrame =
    GFrame(graft.operators.SubstringDedup.duplicatedGramsPair(
      df, other.df, idCol, textCol, minWidth))
  /** All unordered co-occurring (id_a, id_b) pairs sharing a key —
    * market baskets, band buckets, cluster cells. One posting-list
    * groupBy, pairs per key = (size choose 2); `distinctIds` dedupes
    * (id, key) rows inside the list instead of a separate shuffle.
    * Output columns match the other pair surfaces, so the result feeds
    * [[nearDupClusters]] directly. The result carries `hint("merge")`
    * (the PostingLists join guard): its size estimate is the pre-explode
    * row count, so a caller joining it must not get it broadcast. */
  def coOccurrencePairs(idCol: String, keyCol: String,
      distinctIds: Boolean = true): GFrame =
    GFrame(graft.operators.PostingLists.candidatePairs(df, idCol, keyCol,
        distinctIds)
      .withColumnRenamed("a", "id_a").withColumnRenamed("b", "id_b")
      .hint("merge"))
  /** Unicode-normalize a text column in place (NFC → lower → de-accent →
    * ws squeeze) — run before any dedup hash. */
  def normalizeText(textCol: String): GFrame =
    GFrame(df.withColumn(textCol,
      graft.functions.TextFunctions.normalizeText(col(textCol))))
  /** Token ids against a fixed vocabulary (tokenize_with_vocabulary). */
  def tokenizeIds(textCol: String, vocab: Seq[String],
      defaultId: Int = -1): GFrame =
    GFrame(df.withColumn(s"${textCol}_ids",
      graft.operators.VocabTokenize.tokenizeWithVocabulary(
        col(textCol), vocab, defaultId)))
  def tile(count: Int): GFrame = GFrame(Reshape.tile(df, count))
  /** Per-row repeat by a count column (cudf filling.hpp:90). */
  def repeatRows(countCol: String, repCol: String = "rep"): GFrame =
    GFrame(Reshape.repeatRows(df, col(countCol), repCol))
  /** byte_cast (cudf reshape.hpp:84): numeric column → raw bytes. */
  def byteCast(c: String, bigEndian: Boolean = true): GFrame =
    GFrame(df.withColumn(s"${c}_bytes",
      graft.plans.HashVariants.byteCast(col(c), bigEndian)))
  /** replace_tokens / filter_tokens (nvtext/replace.hpp:23,86). */
  def replaceTokens(textCol: String, repl: Map[String, String]): GFrame =
    GFrame(df.withColumn(textCol,
      graft.functions.TextFunctions.replaceTokens(col(textCol), repl)))
  def filterTokens(textCol: String, minLen: Int, repl: String = ""): GFrame =
    GFrame(df.withColumn(textCol,
      graft.functions.TextFunctions.filterTokens(col(textCol), minLen, repl)))
  /** murmurhash3_x64_128 h1/h2 + xxhash_32 (cudf hashing.hpp:72,176). */
  def hashVariants(c: String): GFrame = {
    import graft.plans.HashVariants
    GFrame(df
      .withColumn(s"${c}_mm128", HashVariants.murmur3x64_128(col(c)))
      .withColumn(s"${c}_xx32", HashVariants.xxhash32(col(c))))
  }
  /** Fixed-token-window chunking with overlap (LLM pre-tokenization). */
  def chunk(idCol: String, textCol: String, chunkSize: Int,
      overlap: Int = 0): GFrame =
    GFrame(graft.operators.TextPipeline.chunkDocuments(
      df, idCol, textCol, chunkSize, overlap))
  /** Corpus n-gram diversity (distinct-n) per group, n = 1..maxN. */
  def ngramDiversity(groupCol: String, textCol: String,
      maxN: Int = 3): GFrame =
    GFrame(graft.operators.TextPipeline.ngramDiversity(df, groupCol,
      textCol, maxN))
  /** Per-doc OOV rate against the corpus's own top-k tokens. */
  def oovStats(idCol: String, textCol: String, vocabSize: Int): GFrame =
    GFrame(graft.operators.TextPipeline.oovStats(df, idCol, textCol,
      vocabSize))
  /** Snapshot diff vs a newer corpus version (added/removed/changed). */
  def corpusDiff(newer: GFrame, idCol: String, textCol: String,
      includeUnchanged: Boolean = false): GFrame =
    GFrame(graft.operators.Curation.corpusDiff(df, newer.toDF, idCol,
      textCol, includeUnchanged))
  /** First-k-per-key-per-event-time-window rate quota. */
  def quotaPerKeyWindow(keyCol: String, tsCol: String,
      windowDuration: String, k: Int, tieBreakCol: String): GFrame =
    GFrame(graft.operators.Throttle.quotaPerKeyWindow(df, keyCol, tsCol,
      windowDuration, k, tieBreakCol))
  /** Per-(doc, term) Okapi BM25 (k1=1.2, b=0.75). */
  def bm25(idCol: String, textCol: String): GFrame =
    GFrame(graft.operators.TextPipeline.bm25(df, idCol, textCol))
  /** HTML → text extraction in place (WET-style tag strip). */
  def stripHtml(textCol: String): GFrame =
    GFrame(df.withColumn(textCol,
      graft.functions.TextFunctions.stripHtml(col(textCol))))
  def removeBoilerplate(idCol: String, textCol: String,
      minDocFrac: Double, delimRegex: String = "\n",
      joinSep: String = "\n"): GFrame =
    GFrame(graft.operators.SegmentDedup.removeFrequentSegments(
      df, idCol, textCol, minDocFrac, delimRegex, joinSep))
  def dedupLinesKeepFirst(idCol: String, textCol: String,
      delimRegex: String = "\n", joinSep: String = "\n"): GFrame =
    GFrame(graft.operators.SegmentDedup.dedupSegmentsKeepFirst(
      df, idCol, textCol, delimRegex, joinSep))
  def fuzzyJoin(idCol: String, keyCol: String, other: GFrame,
      otherId: String, otherKey: String, k: Int = 1): GFrame =
    GFrame(graft.operators.FuzzyJoin.editDistanceJoin(
      df, idCol, keyCol, other.df, otherId, otherKey, k))
  def spellCorrect(idCol: String, keyCol: String, dict: GFrame,
      dictKey: String, k: Int = 1): GFrame =
    GFrame(graft.operators.FuzzyJoin.closestMatch(
      df, idCol, keyCol, dict.df, dictKey, k))
  /** Record-linkage best match. `excludeExact` defaults true here (the
    * facade's common call is SELF-linkage, frame against itself); pass
    * false when `dict` is a separate reference table — an exact dict
    * hit must then resolve to itself. */
  def linkRecords(keyCol: String, dict: GFrame, dictKey: String,
      blockKey: Column => Column, threshold: Double,
      excludeExact: Boolean = true): GFrame =
    GFrame(graft.operators.FuzzyJoin.jaroWinklerBestMatch(
      df, keyCol, dict.df, dictKey, blockKey, threshold, excludeExact))
  /** Zero-shuffle approximate-membership gate over THIS frame's keys. */
  def bloomScreen(keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): graft.operators.IngestScreen =
    graft.operators.Dedup.bloomScreenBatch(df, keyCol, expectedItems, fpp)
  def charEntropy(idCol: String, textCol: String): GFrame =
    GFrame(graft.operators.TextPipeline.charEntropy(df, idCol, textCol))
  def phoneticKeys(termCol: String): GFrame =
    GFrame(df.withColumn("soundex",
        org.apache.spark.sql.functions.soundex(col(termCol)))
      .withColumn("metaphone",
        graft.plans.GraftExpressions.metaphone(col(termCol)))
      .withColumn("dmetaphone",
        graft.plans.GraftExpressions.doubleMetaphone(col(termCol)))
      .withColumn("dmetaphone_alt",
        graft.plans.GraftExpressions.doubleMetaphone(col(termCol),
          alternate = true))
      .withColumn("nysiis", graft.plans.GraftExpressions.nysiis(col(termCol)))
      .withColumn("refined_soundex",
        graft.plans.GraftExpressions.refinedSoundex(col(termCol))))
  def learnBpeMerges(textCol: String, numMerges: Int): Seq[(String, String, Long)] =
    graft.operators.BpeLearn.learnFromCorpus(df, textCol, numMerges)
  def winnow(idCol: String, textCol: String, k: Int = 3,
      w: Int = 4): GFrame =
    GFrame(graft.operators.TextPipeline.winnowFingerprints(
      df, idCol, textCol, k, w))
  /** Asymmetric containment pairs (|A∩B|/|A| — excerpt detection;
    * Dedup.containmentPairs). */
  def containmentPairs(idCol: String, textCol: String,
      threshold: Double): GFrame =
    GFrame(Dedup.containmentPairs(df, idCol, textCol, threshold))

  // ---- mergeable sketches (plans/KmvAgg; theta-style set algebra) ----
  /** Per-group KMV distinct-count estimate (oracle-exact sketch). */
  def nuniqueApprox(valueCol: String, by: Seq[String] = Nil,
      k: Int = 256): GFrame = {
    val est = graft.plans.KmvDistinct.of(col(valueCol).cast("string"), k)
      .as(s"${valueCol}_nunique_est")
    GFrame(if (by.isEmpty) df.agg(est)
           else df.groupBy(by.map(col): _*).agg(est))
  }
  /** Per-group serialized KMV sketch — store it, roll it up later with
    * [[mergeDistinctSketches]], combine with [[sketchSetOps]]. */
  def distinctSketch(valueCol: String, by: Seq[String],
      k: Int = 256): GFrame =
    GFrame(df.groupBy(by.map(col): _*).agg(
      graft.plans.KmvSketch.of(col(valueCol).cast("string"), k)
        .as(s"${valueCol}_sketch")))
  /** Re-aggregate sketch columns up a coarser hierarchy (month →
    * quarter) without touching base data. */
  def mergeDistinctSketches(sketchCol: String, by: Seq[String],
      k: Int = 256): GFrame =
    GFrame(df.groupBy(by.map(col): _*).agg(
      graft.plans.KmvMerge.of(col(sketchCol), k).as(s"${sketchCol}_est")))
  /** Theta-style set algebra over two sketch columns: appends
    * union/intersect/diff/jaccard estimate columns. */
  def sketchSetOps(sketchA: String, sketchB: String): GFrame = {
    import graft.plans.KmvSetEst
    GFrame(df
      .withColumn("union_est", KmvSetEst.union(col(sketchA), col(sketchB)))
      .withColumn("inter_est", KmvSetEst.intersect(col(sketchA), col(sketchB)))
      .withColumn("diff_est", KmvSetEst.diff(col(sketchA), col(sketchB)))
      .withColumn("jaccard_est", KmvSetEst.jaccard(col(sketchA), col(sketchB))))
  }
  def resampleFfill(keyCol: String, tsCol: String, valueCol: String,
      tieCol: String, stepMicros: Long): GFrame =
    GFrame(graft.operators.Resample.resampleFfill(df, keyCol, tsCol,
      valueCol, tieCol, stepMicros))

  // ---- data quality + maintenance ----
  def profile(cols: Seq[String], exact: Boolean = false): GFrame =
    GFrame(graft.operators.Validate.profile(df, cols, exact))
  def checkRules(rules: (String, Column)*): GFrame =
    GFrame(graft.operators.Validate.checkRows(df, rules))
  def orphanKeys(childKey: String, parent: GFrame,
      parentKey: String): GFrame =
    GFrame(graft.operators.Validate.orphanKeys(df, childKey, parent.df,
      parentKey))
  def mergeChanges(changes: GFrame, keyCol: String, opCol: String): GFrame =
    GFrame(graft.operators.Cdc.merge(df, changes.df, keyCol, opCol))
  def trainTestSplitLeakFree(idCol: String, textCol: String, seed: String,
      cuts: Seq[(String, Double)]): GFrame =
    GFrame(graft.operators.Curation.assignSplitLeakFree(df, idCol,
      textCol, seed, cuts))

  // ---- corpus assembly (graft.operators.Curation) ----
  /** Weighted priority sampling (Ohlsson/Duffield): k rows drawn
    * ∝ weightCol, deterministic in (seed, id), no global sort. */
  def sampleWeighted(idCol: String, weightCol: String, k: Int,
      seed: String): GFrame =
    GFrame(graft.operators.Curation.sampleWeighted(df, idCol, weightCol,
      k, seed))
  /** Per-group weighted priority sampling: k rows per group ∝ weight. */
  def sampleWeightedByGroup(groupCol: String, idCol: String,
      weightCol: String, k: Int, seed: String): GFrame =
    GFrame(graft.operators.Curation.sampleWeightedByGroup(df, groupCol,
      idCol, weightCol, k, seed))
  /** Mann-Whitney U rank-sum test between two groups of an integral
    * value column — count-based (no global rank sort); doubled-U and
    * tie-correction exact integers plus the normal-approximation z. */
  def mannWhitney(groupCol: String, valueCol: String, labelA: String,
      labelB: String): GFrame =
    GFrame(graft.operators.Stats.mannWhitney(df, groupCol, valueCol,
      labelA, labelB))
  /** Bootstrap (with-replacement) resampling: `draws` independent
    * Poisson(lambda) multiplicities per row inverted from the portable
    * hash (a row can repeat within a draw), zero-shuffle; per-draw_idx
    * aggregation yields the bootstrap distribution. */
  def bootstrapSample(idCol: String, draws: Int, lambda: Double,
      seed: String): GFrame =
    GFrame(graft.operators.Curation.bootstrapSample(df, idCol, draws,
      lambda, seed))
  /** Nearest-neighbor image resize over (media_id, payload, mime) rows
    * — deterministic integer resample, lossless BMP re-encode;
    * non-image mimes pass through. */
  def resizeImages(dstW: Int, dstH: Int): GFrame =
    GFrame(graft.operators.Multimodal.resizeImages(df, dstW, dstH))
  /** Per-group type-1 weighted percentiles (integer-exact thresholds). */
  def weightedPercentiles(groupCol: String, valueCol: String,
      weightCol: String, ps: Seq[(String, Long, Long)]): GFrame =
    GFrame(graft.operators.Stats.weightedPercentiles(df, groupCol,
      valueCol, weightCol, ps))
  /** Keep the top `frac` of rows per group by score (per-source gate). */
  def filterTopFracByGroup(groupCol: String, scoreCol: String,
      frac: Double): GFrame =
    GFrame(graft.operators.Curation.filterTopFracByGroup(df, groupCol,
      scoreCol, frac))
  /** Per-group z-score standardization (constant groups → z = 0). */
  def standardizeByGroup(groupCol: String, valueCol: String,
      zCol: String = "z"): GFrame =
    GFrame(graft.operators.Curation.standardizeByGroup(df, groupCol,
      valueCol, zCol))
  /** Temperature-balanced mixture: group share ∝ n^alpha of `budget`. */
  def temperatureMixture(groupCol: String, idCol: String, alpha: Double,
      budget: Long, seed: String): GFrame =
    GFrame(graft.operators.Curation.temperatureMixture(df, groupCol,
      idCol, alpha, budget, seed))
  /** Percentile-banded curriculum buckets (1-based; sort-free). */
  def curriculumBuckets(scoreCol: String, nBuckets: Int): GFrame =
    GFrame(graft.operators.Curation.curriculumBuckets(df, scoreCol,
      nBuckets))
  /** CCNet-style bigram-LM quality score + OOV rate vs a reference
    * corpus (this frame is scored; `ref` trains the model). */
  def lmScore(idCol: String, textCol: String, ref: GFrame,
      refTextCol: String, k: Double = 1.0): GFrame =
    GFrame(graft.operators.TextPipeline.ngramLmScore(df, idCol, textCol,
      ref.toDF, refTextCol, k))
  /** L2-normalize an embedding column into `outCol` (unit vectors). */
  def normalizeEmbedding(vecCol: String,
      outCol: String = "unit"): GFrame =
    GFrame(df.withColumn(outCol,
      graft.operators.Embeddings.l2Normalize(col(vecCol))))
  /** uint8-quantize an embedding column (adds q/lo/scale columns). */
  def quantizeEmbedding(vecCol: String): GFrame =
    GFrame(graft.operators.Embeddings.quantizeU8(df, vecCol))
  /** Sign-matrix random projection of an embedding column to outDim. */
  def projectEmbedding(vecCol: String, inDim: Int, outDim: Int,
      seed: String = "graft", outCol: String = "proj"): GFrame =
    GFrame(df.withColumn(outCol,
      graft.operators.Embeddings.randomProject(col(vecCol), inDim, outDim,
        seed)))
  /** Streaming ingest screens over THIS frame as the static corpus:
    * batch→batch functions for `writeStream.foreachBatch` that admit
    * only novel documents / embeddings (corpus index built and
    * persisted once, here — `close()` the returned screen when
    * rebuilding over a refreshed corpus). */
  def nearDupScreen(idCol: String, textCol: String,
      threshold: Double = 0.8): graft.operators.IngestScreen =
    graft.streaming.StatefulOps.nearDupScreenBatch(df, idCol, textCol,
      threshold = threshold)
  def semanticScreen(idCol: String, vecCol: String, threshold: Double,
      nCells: Int, nprobe: Int = 1): graft.operators.IngestScreen =
    graft.operators.Similarity.semanticScreenBatch(df, idCol, vecCol,
      threshold, nCells, nprobe = nprobe)
  /** SimHash Hamming near-dup pairs (frequency-weighted 60-bit
    * signature, pigeonhole-exact banding at maxDist ≤ 3). */
  def simhashPairs(idCol: String, textCol: String,
      maxDist: Int = 3): GFrame =
    GFrame(graft.operators.Dedup.simhashPairs(df, idCol, textCol, maxDist))
  /** Collapse near-dup PAIRS (id_a, id_b cols) into connected-component
    * clusters — call on the output of any *Pairs method. */
  def nearDupClusters(maxIter: Int = 10): GFrame =
    GFrame(graft.operators.Dedup.nearDupClusters(df, maxIter))
  /** Exact top-k cosine neighbors from this corpus frame for each row
    * of `queries` (brute force — the verification baseline). */
  def knn(queries: GFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): GFrame =
    GFrame(Similarity.knnBrute(df, queries.toDF, k, idCol, vecCol))
  /** Approximate top-k via sign-LSH bucket blocking (the scale path). */
  def knnLsh(queries: GFrame, k: Int, nBits: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): GFrame =
    GFrame(Similarity.knnLsh(df, queries.toDF, k, nBits, idCol, vecCol))
  /** Approximate top-k via IVF coarse-quantizer cells (probe the
    * nprobe nearest cells; pass trained centroids for better recall). */
  def knnIvf(queries: GFrame, k: Int, nCells: Int = 64, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): GFrame =
    GFrame(Similarity.knnIvf(df, queries.toDF, k, nCells, nprobe,
      idCol, vecCol))
  /** N-gram-profile language id of a text column into `outCol`. */
  def langId(textCol: String, outCol: String = "lang"): GFrame =
    GFrame(df.withColumn(outCol, graft.functions.TextFunctions.langId(
      graft.functions.TextFunctions.tokens(col(textCol)))))

  // ---- accessor namespaces (cudf Series .str / .dt accessors,
  //      python/cudf/cudf/core/column/string.py, temporal.py) ----
  def str(colName: String): GStrOps = GStrOps(this, colName)
  def dt(colName: String): GDtOps = GDtOps(this, colName)

  // ---- escape hatch ----
  def toDF: DataFrame = df
}

/** String accessor: each method adds `<col>_<op>` (or a named) column. */
final case class GStrOps(gf: GFrame, c: String) {
  private def add(suffix: String, expr: Column): GFrame =
    gf.assign(s"${c}_$suffix", expr)
  def lower(): GFrame = add("lower", org.apache.spark.sql.functions.lower(col(c)))
  def strip(): GFrame = add("strip", trim(col(c)))
  def contains(pat: String): GFrame = add("contains", col(c).contains(pat))
  /** cudf s.str.wrap — since r12 the KERNEL-exact char walk
    * (plans.WrapText; asymmetric width caps, words never split), not
    * the regex approximation TextFunctions.wrap keeps for str_extra. */
  def wrap(width: Int): GFrame =
    add("wrap", graft.plans.GraftExpressions.wrapText(col(c), width))
  def partition(sep: String): GFrame =
    add("partition", graft.functions.TextFunctions.strPartition(col(c), sep))
  def rpartition(sep: String): GFrame =
    add("rpartition", graft.functions.TextFunctions.strRpartition(col(c), sep))
  def stem(): GFrame =
    add("stem", graft.plans.GraftExpressions.porterStem(col(c)))
  def isalpha(): GFrame = add("isalpha", graft.functions.TextFunctions.isAlpha(col(c)))
}

/** Datetime accessor (datetime.hpp extraction/floor surface). */
final case class GDtOps(gf: GFrame, c: String) {
  private def add(suffix: String, expr: Column): GFrame =
    gf.assign(s"${c}_$suffix", expr)
  def year(): GFrame = add("year", org.apache.spark.sql.functions.year(col(c)))
  def minute(): GFrame = add("minute", org.apache.spark.sql.functions.minute(col(c)))
  def quarter(): GFrame = add("quarter", org.apache.spark.sql.functions.quarter(col(c)))
  def floor(unit: String): GFrame = add(s"floor_$unit", date_trunc(unit, col(c)))
  // date_trunc accepts units (quarter) that are not interval-literal
  // units; translate so floor/ceil/round accept the same unit set
  private def oneUnit(unit: String): Column = unit.toLowerCase match {
    case "quarter" => expr("INTERVAL 3 month")
    case u => expr(s"INTERVAL 1 $u")
  }
  /** Ceiling to `unit`: floor, then bump by one unit when truncation
    * moved the value (datetime.hpp ceil family). */
  def ceil(unit: String): GFrame = {
    val fl = date_trunc(unit, col(c))
    add(s"ceil_$unit",
      when(fl === col(c), fl).otherwise(fl + oneUnit(unit)))
  }
  def round(unit: String): GFrame = {
    val fl = date_trunc(unit, col(c))
    val next = fl + oneUnit(unit)
    // distances in MICROSECONDS: a seconds-granularity cast would
    // truncate sub-second inputs and turn round() into floor()
    add(s"round_$unit",
      when(unix_micros(col(c)) - unix_micros(fl) <
           unix_micros(next) - unix_micros(col(c)), fl).otherwise(next))
  }
  def isLeapYear(): GFrame = add("is_leap",
    dayofmonth(last_day(make_date(org.apache.spark.sql.functions.year(col(c)),
      lit(2), lit(1)))) === 29)
  def daysInMonth(): GFrame = add("days_in_mo", dayofmonth(last_day(col(c))))
}

/** Grouped frame: agg with the reference's (column -> aggname) dict shape. */
final case class GGroupBy(df: DataFrame, keys: Seq[String]) {
  def agg(specs: (String, String)*): GFrame = {
    val aggCols = specs.map { case (c, fn) =>
      // backticks: any column name works, matching transform() below
      expr(s"$fn(`$c`)").as(s"${c}_$fn")
    }
    GFrame(df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*))
  }
  /** pandas groupby().transform: the per-group aggregate broadcast back
    * onto every row — one window, no join back to the input. */
  def transform(colName: String, fn: String): GFrame =
    // backticks: any column name works, matching the col()-based API
    GFrame(df.withColumn(s"${colName}_$fn",
      expr(s"$fn(`$colName`)").over(Window.partitionBy(keys.map(col): _*))))
}

object GFrame {
  def readParquet(spark: SparkSession, path: String): GFrame =
    GFrame(spark.read.parquet(path))
  def concat(frames: Seq[GFrame]): GFrame =
    GFrame(frames.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true)))
}
