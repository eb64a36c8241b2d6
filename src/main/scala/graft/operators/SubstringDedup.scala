package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact duplicate-substring detection — the reference's flagship dedup
  * op (cpp/include/nvtext/deduplicate.hpp:40,66,95: build_suffix_array /
  * resolve_duplicates / resolve_duplicates_pair).
  *
  * One algorithm serves every surface: a distributed GLOBAL suffix
  * ranking, depth-truncated at `minWidth` ([[rankedKeyed]]). Positions
  * are ranked by prefix doubling over DataFrames; each round reads the
  * rank `width` positions ahead through a blocked lead ([[leadByPos]])
  * and re-ranks the distinct key pairs with order-free injective ids
  * ([[rerankIds]]). After log₂ w − 1 rounds (w the largest power of
  * two ≤ minWidth) and one final overlapping-halves lead, two positions
  * share a key iff they start the same minWidth-gram. The four public
  * functions read that key:
  *  - [[duplicatedGrams]] / [[duplicatedGramsPair]]: every minWidth-gram
  *    occurring ≥ 2 times (or in both sources), with exact counts —
  *    resolve_duplicates / resolve_duplicates_pair projected to grams;
  *  - [[duplicatedSpans]] / [[contaminatedSpans]]: the maximal runs of
  *    positions those grams cover, per document.
  *
  * Why this is the one kept (the reference, too, answers both resolve
  * calls from one suffix array): a gram shared by m documents is ONE
  * m-row group — O(occurrences), never C(m,2) candidate pairs — and
  * per-task memory is bounded by a ranking block
  * ([[BlockCharsKey]]), not by how the corpus is split. SCALING.md
  * ("Distributed global suffix ranking") has the measured envelope.
  */
object SubstringDedup {

  /** resolve_duplicates (nvtext/deduplicate.hpp:66) at gram level, at
    * the reference's global-suffix-array bound (deduplicate.hpp:40):
    * O(occurrences) on a gram shared by m documents.
    *
    * Output: every duplicated minWidth-gram (each substring of EXACTLY
    * `minWidth` chars occurring at ≥ 2 positions corpus-wide, within-
    * doc repeats included) as `dup_text`, with its occurrence count.
    * This is resolve_duplicates' output projected to its minWidth-grams
    * — the projection the doc_substring_dups oracle gate checks: a
    * gram-level consumer (dedup weighting, contamination screens) loses
    * nothing, and no pair of occurrences is ever materialized.
    *
    * Algorithm — prefix doubling over DataFrames (Manber-Myers
    * formulated as log rounds of distributed re-ranking):
    * every character position starts ranked by its packed 2-char code
    * (width-2 base case); each round keys positions on
    * (rank[p], rank[p+2^k]) — computed with a per-document `lead`
    * window, no self-join — and re-ranks the distinct key pairs. After ⌈log₂ w⌉ rounds (w = the largest power
    * of two ≤ minWidth) two positions share rank iff their first w
    * chars are equal; the final key (rank_w[p], rank_w[p+minWidth−w])
    * decides equality of the full minWidth-gram (the classic
    * overlapping-halves trick, valid because w ≥ minWidth − w). Ranks
    * only ever feed EQUALITY tests, so re-ranking uses order-free
    * injective ids (zipWithUniqueId — one distinct shuffle) instead of
    * a lexicographic global sort; a full SA would sort the final
    * (rank, rank₂) pairs once more.
    *
    * 100 TB shape: every stage is a linear shuffle of fixed-width rows
    * (~24 bytes/position vs the reference's 8-byte/char single-GPU
    * bound which caps it at 2 GB corpora); rounds are log₂(minWidth),
    * NOT log(corpus); a gram shared by m docs is ONE m-row group —
    * count + one representative, no pair fan-out (min/count are
    * map-side partial aggregates, so even the m-row group never
    * gathers on one reducer). Text ships exactly once per DISTINCT
    * duplicated gram (the representative substring fetch). The lead
    * windows are BLOCKED ([[leadByPos]]): positions range-partition
    * into fixed blocks with a width-sized halo, so per-task memory is
    * min(doc, block) positions — a multi-GB single document spreads
    * over len/block tasks instead of serializing into one (the former
    * SCALING.md caveat, closed round 15). Each round is lineage-cut
    * via Checkpoints.cut
    * (spark.graft.checkpointDir switches the cut to a reliable
    * checkpoint() for cluster fault tolerance): lineage stays
    * O(1) and the injective rank assignment is pinned against
    * recomputation. */
  def duplicatedGrams(df: DataFrame, idCol: String, textCol: String,
      minWidth: Int): DataFrame =
    gramGroups(
      df.select(col(idCol).cast("string").as("__d"),
          lit(0).as("__s"), col(textCol).as("__t")),
      minWidth)
      .filter(col("n_occurrences") >= 2)
      .select(col("dup_text"), col("n_occurrences"))

  /** Cross-corpus (pair-mode) global suffix ranking —
    * resolve_duplicates_pair (nvtext/deduplicate.hpp:95) at the same
    * O(occurrences) hot-clique bound as [[duplicatedGrams]]: every
    * minWidth-gram present in BOTH inputs (`df1` is source 0, `df2`
    * source 1), with the exact per-source occurrence counts — a
    * contamination screen whose cost never touches train×eval pair
    * space. One tagged scan; the source tag rides each position row
    * (doc-constant, 4 bytes) into
    * the final group's two conditional counts. Documents are keyed by
    * (src, id) internally so an id reused across sources can never
    * attach the wrong text. */
  def duplicatedGramsPair(df1: DataFrame, df2: DataFrame, idCol: String,
      textCol: String, minWidth: Int): DataFrame =
    gramGroups(
      df1.select(col(idCol), col(textCol), lit(0).as("__src"))
        .union(df2.select(col(idCol), col(textCol), lit(1).as("__src")))
        .select(concat(col("__src"), lit("#"), col(idCol).cast("string"))
            .as("__d"),
          col("__src").as("__s"), col(textCol).as("__t")),
      minWidth)
      .filter(col("n_src0") >= 1 && col("n_src1") >= 1)
      .select(col("dup_text"), col("n_src0"), col("n_src1"))

  /** Shared depth-truncated global ranking core: input is a tagged
    * (__d unique doc key, __s source tag, __t text) frame; output one
    * row per minWidth-gram occurring at ≥ 2 positions corpus-wide —
    * (dup_text, n_occurrences, n_src0, n_src1) — callers refine to
    * their policy (cross-source presence implies ≥ 2 occurrences, so
    * the pre-text-join singleton drop loses nothing in pair mode). */
  private def gramGroups(tagged: DataFrame, minWidth: Int): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val (keyed, texts) = rankedKeyed(tagged, minWidth)
    // representative text fetch stays JVM-side (String.substring), the
    // same UTF-16 position space charAt indexed — mixing in Spark SQL
    // substring (code-point semantics) would shift grams on any
    // surrogate-pair content. Rows here = distinct candidate grams.
    // Output projection: a gram whose boundary splits a surrogate pair
    // carries a lone half, which the UTF-8 string layer renders as '?'
    // in dup_text — grouping and counts happen in UTF-16 rank space
    // and are exact regardless (DedupSpec halo-parity spec pins this).
    keyed.groupBy($"r", $"r2")
      .agg(count(lit(1)).as("n_occurrences"),
        sum(when($"__s" === 0, 1L).otherwise(0L)).as("n_src0"),
        sum(when($"__s" === 1, 1L).otherwise(0L)).as("n_src1"),
        min(struct($"__d", $"pos")).as("rep"))
      // singleton grams drop BEFORE any text ships (cross-source
      // presence implies >= 2 occurrences, so this is a pure superset
      // of both callers' policies)
      .filter($"n_occurrences" >= 2)
      .join(texts, col("rep.__d") === col("__d"))
      .select(col("rep.pos").as("__p"), col("__t"), col("n_occurrences"),
        col("n_src0"), col("n_src1"))
      .as[(Int, String, Long, Long, Long)]
      .map { case (p, t, n, n0, n1) =>
        (t.substring(p, p + minWidth), n, n0, n1) }
      .toDF("dup_text", "n_occurrences", "n_src0", "n_src1")
  }

  /** Shared depth-truncated ranking pipeline behind the gram-level
    * ([[gramGroups]]) and span-level ([[duplicatedSpans]] /
    * [[contaminatedSpans]]) surfaces: returns (`keyed`, `texts`) where
    * `keyed` has one row per FULL-gram lead position — (__d, __s, pos,
    * r, r2), (r, r2) the gram's injective group key — and `texts` is
    * the filtered tagged input for representative-text joins. */
  private def rankedKeyed(tagged: DataFrame, minWidth: Int)
      : (DataFrame, DataFrame) = {
    require(minWidth >= 2, "minWidth must be >= 2")
    val spark = tagged.sparkSession
    import spark.implicits._
    // largest power of two <= minWidth; w >= minWidth/2 guarantees the
    // overlapping-halves pairing covers the gram exactly
    val w = Integer.highestOneBit(minWidth)
    // Pre-filter note: Spark SQL length() counts CODE POINTS while the
    // whole pipeline (positions, packed ranks, substring extraction)
    // indexes UTF-16 units — a `length >= minWidth` filter would drop
    // a doc whose UTF-16 length qualifies via surrogate pairs (found
    // by the DedupSpec surrogate spec). UTF-16 length <= 2 * code
    // points, so `2 * length >= minWidth` is the safe superset; the
    // exact full-gram gate is the per-position __ok flag below.
    // position explode + initial rank pack are CPU-dense map work on
    // the raw scan: guard against unsplittable single-row-group inputs
    // serializing them (Spread scaladoc; measured doc_substring_dups
    // 1.42 s -> 1.11 s, hot-clique rows unchanged)
    val texts = Spread.spread(tagged
      .filter(col("__t").isNotNull && length(col("__t")) * 2 >= minWidth))
    // one row per character position; __ok marks positions that start
    // a FULL minWidth-gram (rank rounds keep every position — ranks of
    // tail positions feed earlier positions' keys — but only __ok rows
    // reach the final grouping). Initial ranks pack TWO UTF-16 units
    // into one Long — (c1 << 17) | (c2 << 1 | 1), low bit = "second
    // char exists" so a truncated doc-final pack can never collide
    // with a real 2-gram — which starts the doubling at width 2 and
    // saves one full re-rank round (distinct + join + checkpoint).
    // The initial position frame is EAGER-cut: leadByPos scans its
    // input twice (main + halo branches of the block union), so an
    // unmaterialized frame would run the per-char flatMap once per
    // branch (StageProfile on the hot-clique gate showed the 37 MB
    // position subtree executing 3x in round 1 before this cut).
    var cur = texts.select($"__d", $"__s", $"__t").as[(String, Int, String)]
      .flatMap { case (d, s, t) =>
        val lastOk = t.length - minWidth
        (0 until t.length).iterator.map { p =>
          val c2 = if (p + 1 < t.length)
            (t.charAt(p + 1).toLong << 1) | 1L else 0L
          (d, s, p, p <= lastOk, (t.charAt(p).toLong << 17) | c2)
        }
      }
      .toDF("__d", "__s", "pos", "__ok", "r")
      .transform(Checkpoints.cut)
    val block = math.max(spark.conf.getOption(BlockCharsKey)
      .map(_.toInt).getOrElse(DefaultBlockChars), w)
    var width = 2
    while (width < w) {
      // led is consumed TWICE — the rerank join's left side and
      // rerankIds' RDD pass (an RDD boundary, so exchange reuse can
      // never dedup it): cut it so each round's doc-window lead pass
      // computes once, not twice. Superseded round frames are freed as
      // soon as their successor is materialized (eager cuts).
      val led = leadByPos(cur, width, block).transform(Checkpoints.cut)
      // The rerank join's BOTH sides are corpus-positions-sized by
      // construction — never broadcastable. Pin sort-merge: a
      // LocalRelation-sourced corpus (unit probes; schema-default byte
      // estimates, 20 B/string) otherwise under-estimates `led` and
      // Spark attempts a multi-GiB broadcast of the position frame.
      val next = led.join(rerankIds(led).hint("merge"), Seq("r", "r2"))
        .select($"__d", $"__s", $"pos", $"__ok", $"__nr".as("r"))
        .transform(Checkpoints.cut)
      org.apache.spark.sql.graftshim.CheckpointUtil.free(led)
      org.apache.spark.sql.graftshim.CheckpointUtil.free(cur)
      cur = next
      width *= 2
    }
    val keyed = (if (minWidth == w) cur.withColumn("r2", $"r")
      else leadByPos(cur, minWidth - w, block))
      .filter($"__ok")
    (keyed, texts)
  }

  /** Maximal duplicated spans per document — the gram surface lifted
    * to RUNS (nvtext/deduplicate.hpp's removal use-case, and the
    * shape training-data dedup actually deletes): one row per maximal
    * [span_start, span_end) UTF-16 range whose every position is
    * covered by some minWidth-gram occurring ≥ 2 times corpus-wide.
    * Adjacent/overlapping gram intervals merge (the events_interval
    * _union sweep: a break only where a lead clears the running
    * covered peak), so each emitted span is as long as the duplicated
    * evidence supports and two spans never touch. Output: (idCol as
    * string, span_start, span_end, span_len). The sweep partitions by
    * document over DUPLICATED lead positions only — sparse for real
    * corpora; a pathological fully-duplicated multi-GB single doc
    * re-serializes its sweep into one task (gram counting itself
    * stays halo-blocked). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      minWidth: Int): DataFrame = {
    val tagged = df.select(col(idCol).cast("string").as("__d"),
      lit(0).as("__s"), col(textCol).as("__t"))
    spansOf(tagged, minWidth, col("__n") >= 2)
      .withColumnRenamed("__d", idCol)
  }

  /** Cross-corpus contamination spans: maximal ranges of `df1`
    * documents covered by minWidth-grams that ALSO occur in `df2` —
    * the decontamination deletion list (cut these spans from the
    * training corpus and no minWidth-gram bridges into the eval set).
    * Same O(occurrences) ranking as [[duplicatedGramsPair]]. */
  def contaminatedSpans(df1: DataFrame, df2: DataFrame, idCol: String,
      textCol: String, minWidth: Int): DataFrame = {
    val tagged = df1.select(col(idCol), col(textCol), lit(0).as("__src"))
      .union(df2.select(col(idCol), col(textCol), lit(1).as("__src")))
      .select(concat(col("__src"), lit("#"), col(idCol).cast("string"))
          .as("__d"),
        col("__src").as("__s"), col(textCol).as("__t"))
    spansOf(tagged, minWidth,
        col("__s") === 0 && col("__n1") >= 1)
      .withColumn(idCol, expr("substring(__d, 3)"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_len"))
  }

  /** Span assembly shared by [[duplicatedSpans]] / [[contaminatedSpans]]:
    * per-gram-group occurrence counts ride a window over the ranked
    * lead positions (__n total, __n1 source-1), `keep` selects the
    * lead positions that count as duplicated evidence, and the
    * interval-union sweep merges their [pos, pos+minWidth) covers into
    * maximal spans. */
  private def spansOf(tagged: DataFrame, minWidth: Int,
      keep: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (keyed, _) = rankedKeyed(tagged, minWidth)
    val g = Window.partitionBy(col("r"), col("r2"))
    val leads = keyed
      .withColumn("__n", count(lit(1)).over(g))
      .withColumn("__n1",
        sum(when(col("__s") === 1, 1L).otherwise(0L)).over(g))
      .filter(keep)
      .select(col("__d"), col("pos"))
    val byDoc = Window.partitionBy(col("__d")).orderBy(col("pos"))
    val peak = max(col("pos") + minWidth)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    leads
      .withColumn("__new",
        when(peak.isNull || col("pos") > peak, 1).otherwise(0))
      .withColumn("__island", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__d"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + minWidth).as("span_end"))
      .select(col("__d"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** Conf key: positions per ranking block (UTF-16 units), the
    * per-task memory bound of every ranking round. Default 4 M; lower
    * it only in tests. */
  val BlockCharsKey = "spark.graft.substring.blockChars"
  val DefaultBlockChars: Int = 1 << 22

  /** `r2(p) := r(p + width)` (−1 past doc end) WITHOUT a per-document
    * window: positions are range-partitioned into fixed blocks of
    * `block` units — window key (__d, pos div block) — and each block's
    * first `width` positions are ALSO copied to the previous block as a
    * read-only halo, so every in-block `lead` sees its +width neighbor.
    * Positions are dense per doc (the initial flatMap emits every
    * index and rank rounds keep all of them), so row-lead == position
    * -lead inside the contiguous main+halo span, and a missing lead
    * (doc end) is exactly the old per-doc window's null.
    *
    * A doc shorter than `block` occupies ONE block — identical frame,
    * empty halo, same plan shape as the old per-doc window. A multi-GB
    * document (which the reference's ≤2 GB single-device corpus cap
    * cannot even hold — nvtext/deduplicate.hpp:40) spreads over
    * len/block tasks instead of serializing into one; per-task memory
    * is block+width positions regardless of document size. Halo
    * overhead: width/block ≤ minWidth/4M extra rows per round. */
  private def leadByPos(cur: DataFrame, width: Int, block: Int)
      : DataFrame = {
    require(block >= width, s"block $block < width $width")
    val main = cur
      .withColumn("__blk", expr(s"CAST(pos DIV $block AS LONG)"))
      .withColumn("__keep", lit(true))
    val halo = cur.filter(col("pos") >= block && col("pos") % block < width)
      .withColumn("__blk", expr(s"CAST(pos DIV $block AS LONG) - 1"))
      .withColumn("__keep", lit(false))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__d"), col("__blk")).orderBy(col("pos"))
    main.unionByName(halo)
      .withColumn("r2", coalesce(lead(col("r"), width).over(win), lit(-1L)))
      .filter(col("__keep"))
      .drop("__blk", "__keep")
  }

  /** Order-free injective re-ranking for one doubling round: distinct
    * (r, r2) pairs get fresh Long ids via zipWithUniqueId (a
    * partition-strided assignment — injective with NO global sort,
    * which suffices because downstream only tests rank EQUALITY; ids
    * are arbitrary but consistent: the caller localCheckpoints the
    * joined result, pinning one assignment). */
  private def rerankIds(led: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val keys = led.select(col("r"), col("r2")).distinct()
    led.sparkSession.createDataFrame(
      keys.rdd.zipWithUniqueId().map { case (row, i) =>
        Row(row.getLong(0), row.getLong(1), i) },
      StructType(Seq(StructField("r", LongType, nullable = false),
        StructField("r2", LongType, nullable = false),
        StructField("__nr", LongType, nullable = false))))
  }
}
