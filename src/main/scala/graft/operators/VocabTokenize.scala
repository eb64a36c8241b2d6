package graft.operators

import graft.functions.TextFunctions.tokens
import graft.plans.VocabIds
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Vocabulary tokenization: token strings ↔ token ids against a fixed
  * vocabulary (cpp/include/nvtext/tokenize.hpp:216-293 —
  * `load_vocabulary` / `tokenize_with_vocabulary` / `detokenize`).
  * Token ids are row indices within the vocabulary; tokens absent from
  * the vocabulary map to `defaultId` (reference: `default_id`).
  *
  * One id-lookup path: [[idsFor]] loads the vocabulary once into a hash
  * map on the driver and resolves ids with [[graft.plans.VocabIds]],
  * which ships that map as one broadcast and probes it once per token —
  * a pure map stage, no shuffle, and no vocab entries in the plan.
  */
object VocabTokenize {

  /** Map an ARRAY OF TOKEN STRINGS column to an array of vocab ids.
    * Vocabulary order defines the ids (row index), like the reference's
    * tokenize_vocabulary. Composes over any tokenizer output — including
    * BPE / WordPiece piece arrays — which is how those gain id output.
    * The vocabulary is broadcast through the active session. */
  def idsFor(tokArr: Column, vocab: Seq[String], defaultId: Int = -1): Column = {
    require(vocab.nonEmpty, "vocabulary must not be empty")
    require(vocab.distinct.size == vocab.size, "vocabulary entries must be unique")
    val ids = new java.util.HashMap[String, Integer](vocab.size * 2)
    vocab.zipWithIndex.foreach { case (t, i) => ids.put(t, Integer.valueOf(i)) }
    column(VocabIds(expression(tokArr),
      SparkSession.active.sparkContext.broadcast(ids), defaultId))
  }

  /** Whitespace-tokenize a STRING column and map to vocab ids
    * (tokenize_with_vocabulary with the default whitespace delimiter). */
  def tokenizeWithVocabulary(text: Column, vocab: Seq[String],
      defaultId: Int = -1): Column =
    idsFor(tokens(text), vocab, defaultId)

  /** Build a vocabulary from a corpus: its distinct tokens of at least
    * `minTokenLength` characters, sorted by their unsigned UTF-8 bytes
    * (`UTF8String` order, which Spark and DuckDB both sort strings by;
    * `String` order compares UTF-16 units and puts U+1F600 before
    * U+FF41). A token's id is its index. One distinct + collect: the
    * sort runs on the driver, since a vocabulary is bounded by
    * construction (it is about to be broadcast); never call this on an
    * unbounded key domain. */
  def buildVocabulary(df: DataFrame, textCol: String,
      minTokenLength: Int = 1): Seq[String] =
    df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= minTokenLength)
      .distinct()
      .collect().map(_.getString(0)).sortBy(UTF8String.fromString).toSeq

  /** Inverse of tokenization (nvtext detokenize, tokenize.hpp:216):
    * token strings grouped by `rowIdxCol`, concatenated with `sep` in
    * `orderCol` order (the reference uses input row position; Spark has
    * no implicit row order, so the position column is explicit). Null
    * row indices are dropped, matching the reference. Each group sorts
    * with sort_array over (position, token) structs: the structs are
    * never null, so no comparator lambda is needed. */
  def detokenize(df: DataFrame, tokenCol: String, rowIdxCol: String,
      orderCol: String, sep: String = " "): DataFrame =
    df.filter(col(rowIdxCol).isNotNull)
      .groupBy(col(rowIdxCol))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col(orderCol).as("o"),
            col(tokenCol).as("t")))),
          p => p("t")),
        sep).as("text"))
}
