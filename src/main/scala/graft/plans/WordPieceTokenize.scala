package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece subword tokenizer (cpp/include/nvtext/wordpiece_tokenize.hpp;
  * byte_pair_encoding.hpp is the same query surface): greedy
  * longest-match-first against a vocabulary, continuation pieces prefixed
  * "##", unknown words → [UNK].
  *
  * The vocabulary is loaded once into a [[WordPieceTokenize.Vocab]] on
  * the driver and ships as one broadcast (the reference's device-resident
  * vocab object): executors fetch it once, and the plan and task closure
  * carry only the handle, whatever the vocabulary size.
  */
case class WordPieceTokenize(child: Expression,
    vocab: Broadcast[WordPieceTokenize.Vocab],
    doLowerCase: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"wordpiece_tokenize needs string, got ${child.dataType}")

  private def tokenizeWord(v: WordPieceTokenize.Vocab,
      word: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < word.length) {
      var end = math.min(word.length, start + v.maxLen)
      var piece: String = null
      while (end > start && piece == null) {
        val cand = (if (start > 0) "##" else "") + word.substring(start, end)
        if (v.entries.contains(cand)) piece = cand else end -= 1
      }
      if (piece == null) return Seq("[UNK]")
      out += piece
      start = end
    }
    out.toSeq
  }

  override def nullSafeEval(v: Any): Any = {
    // doLowerCase mirrors BERT's uncased/cased pipelines: true (default)
    // for uncased vocabs; FALSE for cased vocabs, whose entries would
    // otherwise never match and collapse every cased word to [UNK].
    val text = if (doLowerCase) v.toString.toLowerCase(java.util.Locale.ROOT)
      else v.toString
    val table = vocab.value
    val words = text.split("\\s+").filter(_.nonEmpty)
    val pieces = words.flatMap(tokenizeWord(table, _))
    new GenericArrayData(pieces.map(UTF8String.fromString(_)))
  }

  override protected def withNewChildInternal(c: Expression): WordPieceTokenize =
    copy(child = c)
}

object WordPieceTokenize {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

  /** The loaded vocabulary: its entries and the longest entry stem
    * (without "##"), which bounds each longest-match probe. */
  final case class Vocab(entries: Set[String], maxLen: Int)

  /** Tokenize `c` against `vocab`, broadcast once through the active
    * session. */
  def apply(c: Column, vocab: Seq[String]): Column = {
    val maxLen =
      if (vocab.isEmpty) 0 else vocab.map(_.stripPrefix("##").length).max
    column(WordPieceTokenize(expression(c),
      SparkSession.active.sparkContext.broadcast(Vocab(vocab.toSet, maxLen))))
  }
}
