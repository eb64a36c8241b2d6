package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Segment-granularity corpus dedup — the line-level pass of a
  * training-data pipeline (CCNet / RefinedWeb style): split every
  * document into segments on a delimiter, drop segments that repeat
  * across the corpus, and reassemble the surviving text in original
  * order. The reference's dedup surface stops at document and substring
  * granularity (nvtext/deduplicate.hpp:40-95); segment granularity is
  * the standard middle layer real pipelines run between the two.
  *
  * Two policies:
  *  - [[removeFrequentSegments]]: drop segments whose DOCUMENT frequency
  *    reaches a threshold (boilerplate removal with `\n` segments;
  *    classic IR df-threshold token pruning with `\s+` segments).
  *  - [[dedupSegmentsKeepFirst]]: keep only the globally FIRST
  *    occurrence of each distinct segment, ordered by (doc, position) —
  *    RefinedWeb's exact line dedup.
  *
  * Scale design (100 TB): segment traffic is keyed on the segment value
  * (uniformly distributed by content), so both policies are a constant
  * number of hash-partitioned shuffles — one skew-hardened groupBy on the
  * segment key plus one groupBy on the doc id for reassembly. The
  * frequent-segment table is corpus-boilerplate-sized (≪ corpus);
  * AQE turns the removal join into a broadcast at runtime when it fits,
  * and degrades to a shuffle join when it doesn't — no driver-side
  * collect either way. Reassembly sorts each doc's surviving segments
  * with sort_array over (position, segment) structs, so collect_list's
  * arrival order can never leak into results.
  */
object SegmentDedup {

  /** (id, seg_no, seg) stream: posexplode of the delimiter split.
    * seg_no is 0-based document-local position. */
  private def segments(df: DataFrame, idCol: String, textCol: String,
      delimRegex: String): DataFrame =
    df.select(col(idCol),
      posexplode(split(col(textCol), delimRegex)).as(Seq("seg_no", "seg")))

  /** Per-distinct-segment corpus statistics: document frequency and
    * total occurrence count.
    *
    * Skew note (the hot path of this whole family): boilerplate
    * segments are BY DEFINITION present in nearly every document, so a
    * plain `groupBy(seg).agg(countDistinct(id))` would stream one
    * distinct-id row per document of the hottest segment into a single
    * reducer — 10⁸ rows on one key at corpus scale. The count is
    * therefore two-phase with an id-derived salt: distinct-count within
    * (seg, salt) — map-side partials collapse repeats early and the hot
    * segment spreads over `saltBuckets` reducers — then sum the
    * per-salt counts, exact because an id lands in exactly one salt
    * bucket. Output stays one row per distinct segment.
    *
    * `saltBuckets <= 0` (default) derives the salt width from the
    * session's reduce-side parallelism (2× shuffle partitions, floor
    * 64) — a fixed 64 caps how far the hottest segment can spread once
    * a cluster runs hundreds of reducers (the r11 adaptive-granularity
    * rule applied to skew spreading). Result-invariant for ANY width:
    * the per-salt distincts sum exactly. */
  def segmentDocFreq(df: DataFrame, idCol: String, textCol: String,
      delimRegex: String, saltBuckets: Int = 0): DataFrame = {
    val buckets =
      if (saltBuckets > 0) saltBuckets
      else math.max(64,
        df.sparkSession.sessionState.conf.numShufflePartitions * 2)
    segments(df, idCol, textCol, delimRegex)
      .groupBy(col("seg"),
        pmod(xxhash64(col(idCol)), lit(buckets)).as("__salt"))
      .agg(countDistinct(col(idCol)).as("__d"), count(lit(1)).as("__n"))
      .groupBy(col("seg"))
      .agg(sum(col("__d")).as("df_docs"), sum(col("__n")).as("n_occur"))
  }

  /** Reassemble (id, seg_no, seg) rows into one text row per id,
    * preserving segment order, with kept/total counts. The per-doc
    * total is `size(split(...))` computed directly on the spine — a
    * pure map-stage column, NOT a second explode+groupBy over the
    * corpus. Docs whose segments were ALL dropped survive with empty
    * text via the spine left join. */
  private def reassemble(spine: DataFrame, kept: DataFrame, idCol: String,
      textCol: String, delimRegex: String, joinSep: String): DataFrame = {
    val glued = kept
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            // posexplode of a split: seg_no and seg are never null, so
            // sort_array needs no null-aware comparator lambda
            sort_array(collect_list(struct(col("seg_no"), col("seg")))),
            s => s("seg")),
          joinSep).as("cleaned"),
        count(lit(1)).as("n_kept"))
    spine
      .select(col(idCol),
        // null text -> size(null) is null (ANSI), which would poison
        // n_segs/n_removed for the doc; the counts contract is 0
        coalesce(size(split(col(textCol), delimRegex)).cast("long"), lit(0L))
          .as("n_segs"))
      .join(glued, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        col("n_segs"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Boilerplate removal: drop every segment whose document frequency
    * reaches `minDocFrac` of the corpus (a fraction, not an absolute
    * count, so the same pipeline definition holds from sf0.01 to
    * 100 TB), reassemble the rest in order. The corpus size joins in as
    * a broadcast 1-row aggregate — no driver-side count action (same
    * idiom as [[TextPipeline.tfidf]]).
    * Output: (id, cleaned, n_segs, n_removed), one row per input doc. */
  def removeFrequentSegments(df: DataFrame, idCol: String, textCol: String,
      minDocFrac: Double, delimRegex: String = "\n",
      joinSep: String = "\n"): DataFrame = {
    require(minDocFrac > 0 && minDocFrac <= 1,
      "need 0 < minDocFrac <= 1 (0 would drop every segment)")
    val segs = segments(df, idCol, textCol, delimRegex)
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    // salted two-phase doc frequency (see segmentDocFreq's skew note)
    val frequent = segmentDocFreq(df, idCol, textCol, delimRegex)
      .crossJoin(broadcast(nDocs))
      .filter(col("df_docs").cast("double") >=
        lit(minDocFrac) * col("n_docs").cast("double"))
      .select(col("seg"))
    val kept = segs.join(frequent, Seq("seg"), "left_anti")
    reassemble(df, kept, idCol, textCol, delimRegex, joinSep)
  }

  /** Streaming twin (foreachBatch form, same contract as
    * [[graft.streaming.StatefulOps.nearDupScreenBatch]]): scrub each
    * incoming document's segments against the CORPUS's segment set —
    * cross-corpus line dedup for continuous ingest. Segments present in
    * ≥ `minDocs` corpus documents are removed from every batch row;
    * within-batch repeats are NOT deduped here (compose with
    * [[dedupSegmentsKeepFirst]] on the batch if needed).
    *
    * At 100 TB: the corpus explode + doc-frequency groupBy is paid ONCE,
    * outside the closure — the distinct-segment index is persisted and
    * each micro-batch anti-joins against the materialized frame
    * (foreachBatch replans the static side per batch, so an unindexed
    * corpus would re-explode every few seconds). Call
    * [[IngestScreen.close]] when rebuilding over a refreshed corpus. */
  def segmentScreenBatch(corpus: DataFrame, idCol: String, textCol: String,
      delimRegex: String = "\n", joinSep: String = "\n",
      minDocs: Long = 1): IngestScreen = {
    val index = segmentDocFreq(corpus, idCol, textCol, delimRegex)
      .filter(col("df_docs") >= minDocs)
      .select(col("seg"))
      .persist()
    new IngestScreen(batch => {
      val segs = segments(batch, idCol, textCol, delimRegex)
      val kept = segs.join(index, Seq("seg"), "left_anti")
      reassemble(batch, kept, idCol, textCol, delimRegex, joinSep)
    }, () => { index.unpersist(); () })
  }

  /** Exact keep-first segment dedup: each distinct segment survives only
    * at its globally first occurrence, ordered by (id, seg_no); every
    * later occurrence anywhere in the corpus is dropped.
    * Output: (id, cleaned, n_segs, n_removed), one row per input doc. */
  def dedupSegmentsKeepFirst(df: DataFrame, idCol: String, textCol: String,
      delimRegex: String = "\n", joinSep: String = "\n"): DataFrame = {
    val segs = segments(df, idCol, textCol, delimRegex)
    // First occurrence via min-struct AGGREGATION, not a window: a
    // window over partitionBy(seg) must co-locate AND sort every
    // occurrence of the hottest segment in one partition (unsplittable
    // by AQE), while an aggregate collapses repeats map-side before the
    // shuffle and skew never concentrates. The join back is keyed on
    // the segment with ONE build row per distinct segment; AQE's skew
    // split applies to the probe side if a segment is hot.
    val firsts = segs
      .groupBy(col("seg"))
      .agg(min(struct(col(idCol), col("seg_no"))).as("__first"))
    val kept = segs.join(firsts, Seq("seg"))
      .filter(struct(col(idCol), col("seg_no")) === col("__first"))
      .drop("__first")
    reassemble(df, kept, idCol, textCol, delimRegex, joinSep)
  }
}
