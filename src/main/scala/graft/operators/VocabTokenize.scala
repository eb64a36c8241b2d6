package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary tokenization: token strings ↔ token ids against a fixed
  * vocabulary (cpp/include/nvtext/tokenize.hpp:216-293 —
  * `load_vocabulary` / `tokenize_with_vocabulary` / `detokenize`).
  * Token ids are row indices within the vocabulary; tokens absent from
  * the vocabulary map to `defaultId` (reference: `default_id`).
  *
  * Two id-lookup paths, matching the two vocab regimes:
  *  - [[idsFor]] / [[tokenizeWithVocabulary]]: the vocab ships in the
  *    plan as ONE MapType literal (not an expression tree), evaluated
  *    inside codegen as a hash-map probe per token — zero shuffle, right
  *    for subword vocabs (≤ ~100k entries, the reference's regime).
  *  - [[tokenizeWithVocabularyJoin]]: vocab as a DataFrame, broadcast
  *    hash join over position-exploded tokens and re-assembly by
  *    position — the path for vocabularies too large to embed in a task
  *    binary but still broadcastable; nothing in it is driver-sided.
  */
object VocabTokenize {

  /** Map an ARRAY OF TOKEN STRINGS column to an array of vocab ids.
    * Vocabulary order defines the ids (row index), like the reference's
    * tokenize_vocabulary. Composes over any tokenizer output — including
    * BPE / WordPiece piece arrays — which is how those gain id output. */
  def idsFor(tokArr: Column, vocab: Seq[String], defaultId: Int = -1): Column = {
    require(vocab.nonEmpty, "vocabulary must not be empty")
    require(vocab.distinct.size == vocab.size, "vocabulary entries must be unique")
    val m = typedlit(vocab.zipWithIndex.toMap)
    transform(tokArr, t => coalesce(element_at(m, t), lit(defaultId)))
  }

  /** Whitespace-tokenize a STRING column and map to vocab ids
    * (tokenize_with_vocabulary with the default whitespace delimiter). */
  def tokenizeWithVocabulary(text: Column, vocab: Seq[String],
      defaultId: Int = -1): Column =
    idsFor(tokens(text), vocab, defaultId)

  /** Large-vocab path: `vocabDf`'s first column is the token, second the
    * id (taken POSITIONALLY, so callers' column names — including ones
    * that collide with `idCol`, like "id" — never matter). Tokens of
    * `textCol` are position-exploded, id-resolved via broadcast join,
    * and re-assembled in token order. Returns (idCol, ids ARRAY<INT>).
    * One broadcast, one shuffle (the per-doc regroup).
    *
    * `idCol` values must be UNIQUE (the per-doc regroup is a groupBy on
    * it — duplicates would silently merge ids arrays), and so must the
    * vocab's TOKEN column (a duplicate token fans the join out and
    * misaligns the ids array; buildVocabulary guarantees this, external
    * vocabDfs must too). NULL text yields an EMPTY ids array (a row per
    * input, not a dropped row); note EMPTY-STRING text tokenizes to
    * [""] → [defaultId] — the tokens() contract both engines share —
    * and vocab matching is over LOWERCASED tokens (tokens() lowers;
    * supply a lowercase vocab, as buildVocabulary does). */
  def tokenizeWithVocabularyJoin(df: DataFrame, idCol: String, textCol: String,
      vocabDf: DataFrame, defaultId: Int = -1): DataFrame = {
    val vocab = vocabDf.select(
      col(vocabDf.columns(0)).as("__tok"), col(vocabDf.columns(1)).as("__vid"))
    // posexplode_outer keeps null/empty-text rows (as a single row with
    // null __pos/__tok) so they surface as empty arrays downstream
    val exploded = df.select(col(idCol),
      posexplode_outer(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    exploded
      .join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(idCol))
      // collect_list drops null entries, so the null-__pos placeholder
      // row contributes nothing and its doc keeps ids = []
      .agg(array_sort(collect_list(when(col("__pos").isNotNull,
        struct(col("__pos"),
          coalesce(col("__vid"), lit(defaultId)).as("tid"))))).as("ps"))
      .select(col(idCol), transform(col("ps"), p => p("tid")).as("ids"))
  }

  /** Build a vocabulary DataFrame (token, id) from a corpus: distinct
    * tokens, ids assigned by sorted order. The global row_number window
    * funnels through one partition — acceptable because a vocabulary is
    * BOUNDED by construction (it is about to be broadcast / embedded);
    * never call this on an unbounded key domain. */
  def buildVocabulary(df: DataFrame, textCol: String,
      minTokenLength: Int = 1): DataFrame =
    df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= minTokenLength)
      .distinct()
      .select(col("tok"),
        (row_number().over(Window.orderBy(col("tok"))) - 1).as("id"))

  /** Inverse of tokenization (nvtext detokenize, tokenize.hpp:216):
    * token strings grouped by `rowIdxCol`, concatenated with `sep` in
    * `orderCol` order (the reference uses input row position; Spark has
    * no implicit row order, so the position column is explicit). Null
    * row indices are dropped, matching the reference. */
  def detokenize(df: DataFrame, tokenCol: String, rowIdxCol: String,
      orderCol: String, sep: String = " "): DataFrame =
    df.filter(col(rowIdxCol).isNotNull)
      .groupBy(col(rowIdxCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(orderCol).as("o"),
            col(tokenCol).as("t")))),
          p => p("t")),
        sep).as("text"))
}
