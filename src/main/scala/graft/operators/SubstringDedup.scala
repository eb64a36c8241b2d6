package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact duplicate-substring detection — the reference's flagship dedup
  * op (cpp/include/nvtext/deduplicate.hpp:66,95: resolve_duplicates /
  * resolve_duplicates_pair) at gram level.
  *
  * One algorithm serves every surface: each position that starts a full
  * minWidth-gram is keyed by the gram itself ([[keyedGrams]]), and
  * positions are grouped on that key. The key is EXACT — the gram's
  * UTF-16 code units, big-endian, `2·minWidth` bytes — so two positions
  * share a key iff they start the same gram: no hash, no collision
  * argument, no ranking rounds. It is binary rather than a `String`
  * because Spark strings are UTF-8: encoding a gram whose boundary
  * splits a surrogate pair turns the lone half into a replacement
  * character, which would merge distinct grams. The four public
  * functions read that key:
  *  - [[duplicatedGrams]] / [[duplicatedGramsPair]]: every minWidth-gram
  *    occurring ≥ 2 times (or in both sources), with exact counts —
  *    resolve_duplicates / resolve_duplicates_pair projected to grams;
  *  - [[duplicatedSpans]] / [[contaminatedSpans]]: the maximal runs of
  *    positions those grams cover, per document.
  *
  * Scale shape: one row per gram start, each carrying `2·minWidth`
  * bytes of key, and one shuffle. A gram shared by m documents is ONE
  * m-row group — O(occurrences), never C(m,2) candidate pairs — and its
  * counts combine map-side (partial + final hash aggregate), so even the
  * hottest group never gathers on one reducer. No task holds a
  * document's positions: each document's gram rows stream from an
  * iterator and the shuffle spreads them by key. SCALING.md
  * ("Distributed global suffix ranking", round-18 note) has the
  * envelope and the byte trade-off against the retired prefix doubling.
  */
object SubstringDedup {

  /** resolve_duplicates (nvtext/deduplicate.hpp:66) at gram level:
    * every duplicated minWidth-gram (each substring of EXACTLY
    * `minWidth` UTF-16 units occurring at ≥ 2 positions corpus-wide,
    * within-doc repeats included) as `dup_text`, with its occurrence
    * count. This is resolve_duplicates' output projected to its
    * minWidth-grams — the projection the doc_substring_dups oracle gate
    * checks: a gram-level consumer (dedup weighting, contamination
    * screens) loses nothing, and no pair of occurrences is ever
    * materialized. A gram whose boundary splits a surrogate pair
    * carries a lone half, which the UTF-8 string layer renders as '?'
    * in `dup_text`; grouping and counts are exact regardless. */
  def duplicatedGrams(df: DataFrame, idCol: String, textCol: String,
      minWidth: Int): DataFrame =
    gramGroups(
      df.select(col(idCol).cast("string").as("__d"),
          lit(0).as("__s"), col(textCol).as("__t")),
      minWidth)
      .select(col("dup_text"), col("n_occurrences"))

  /** Cross-corpus (pair-mode) grams — resolve_duplicates_pair
    * (nvtext/deduplicate.hpp:95) at the same O(occurrences) hot-clique
    * bound as [[duplicatedGrams]]: every minWidth-gram present in BOTH
    * inputs (`df1` is source 0, `df2` source 1), with the exact
    * per-source occurrence counts — a contamination screen whose cost
    * never touches train×eval pair space. One tagged scan; the source
    * tag rides each position row into the group's two conditional
    * counts. */
  def duplicatedGramsPair(df1: DataFrame, df2: DataFrame, idCol: String,
      textCol: String, minWidth: Int): DataFrame =
    gramGroups(tagPair(df1, df2, idCol, textCol), minWidth)
      .filter(col("n_src0") >= 1 && col("n_src1") >= 1)
      .select(col("dup_text"), col("n_src0"), col("n_src1"))

  /** Both sources as one tagged (__d, __s, __t) frame. Documents are
    * keyed by (src, id) so an id reused across sources stays two
    * documents. */
  private def tagPair(df1: DataFrame, df2: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df1.select(col(idCol), col(textCol), lit(0).as("__src"))
      .union(df2.select(col(idCol), col(textCol), lit(1).as("__src")))
      .select(concat(col("__src"), lit("#"), col(idCol).cast("string"))
          .as("__d"),
        col("__src").as("__s"), col(textCol).as("__t"))

  /** Gram-level core: input is a tagged (__d unique doc key, __s source
    * tag, __t text) frame; output one row per minWidth-gram occurring at
    * ≥ 2 positions corpus-wide — (dup_text, n_occurrences, n_src0,
    * n_src1). Cross-source presence implies ≥ 2 occurrences, so the
    * filter is a superset of both callers' policies. The text is
    * decoded from the key, so no text ships after the shuffle. */
  private def gramGroups(tagged: DataFrame, minWidth: Int): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    keyedGrams(tagged, minWidth)
      .groupBy($"__g")
      .agg(count(lit(1)).as("n_occurrences"),
        sum(when($"__s" === 0, 1L).otherwise(0L)).as("n_src0"),
        sum(when($"__s" === 1, 1L).otherwise(0L)).as("n_src1"))
      .filter($"n_occurrences" >= 2)
      .as[(Array[Byte], Long, Long, Long)]
      .map { case (g, n, n0, n1) =>
        val cs = Array.tabulate(g.length / 2)(i =>
          (((g(2 * i) & 0xff) << 8) | (g(2 * i + 1) & 0xff)).toChar)
        (new String(cs), n, n0, n1)
      }
      .toDF("dup_text", "n_occurrences", "n_src0", "n_src1")
  }

  /** One row per position that starts a FULL minWidth-gram —
    * (__d, __s, pos, __g), `__g` the gram's UTF-16 code units as
    * big-endian byte pairs. Positions index UTF-16 units (`charAt`), the
    * space the key, the spans and the brute-force specs share. */
  private def keyedGrams(tagged: DataFrame, minWidth: Int): DataFrame = {
    require(minWidth >= 2, "minWidth must be >= 2")
    val spark = tagged.sparkSession
    import spark.implicits._
    // Pre-filter note: Spark SQL length() counts CODE POINTS while the
    // gram positions index UTF-16 units — a `length >= minWidth` filter
    // would drop a doc whose UTF-16 length qualifies via surrogate pairs
    // (found by the DedupSpec surrogate spec). UTF-16 length <= 2 * code
    // points, so `2 * length >= minWidth` is the safe superset; the
    // exact full-gram bound is the start range below.
    // The per-position explode is CPU-dense map work on the raw scan:
    // guard against unsplittable single-row-group inputs serializing it
    // (Spread scaladoc).
    Spread.spread(tagged
      .filter(col("__t").isNotNull && length(col("__t")) * 2 >= minWidth))
      .select($"__d", $"__s", $"__t").as[(String, Int, String)]
      .flatMap { case (d, s, t) =>
        (0 to t.length - minWidth).iterator.map { p =>
          val g = new Array[Byte](2 * minWidth)
          var i = 0
          while (i < minWidth) {
            val c = t.charAt(p + i)
            g(2 * i) = (c >> 8).toByte
            g(2 * i + 1) = c.toByte
            i += 1
          }
          (d, s, p, g)
        }
      }
      .toDF("__d", "__s", "pos", "__g")
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
    * re-serializes its sweep into one task. */
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
    * Same O(occurrences) gram key as [[duplicatedGramsPair]]. */
  def contaminatedSpans(df1: DataFrame, df2: DataFrame, idCol: String,
      textCol: String, minWidth: Int): DataFrame =
    spansOf(tagPair(df1, df2, idCol, textCol), minWidth,
        col("__s") === 0 && col("__n1") >= 1)
      .withColumn(idCol, expr("substring(__d, 3)"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_len"))

  /** Span assembly shared by [[duplicatedSpans]] / [[contaminatedSpans]]:
    * per-gram occurrence counts ride a window over the keyed lead
    * positions (__n total, __n1 source-1), `keep` selects the lead
    * positions that count as duplicated evidence, and the
    * interval-union sweep merges their [pos, pos+minWidth) covers into
    * maximal spans. */
  private def spansOf(tagged: DataFrame, minWidth: Int,
      keep: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Window.partitionBy(col("__g"))
    val leads = keyedGrams(tagged, minWidth)
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
}
