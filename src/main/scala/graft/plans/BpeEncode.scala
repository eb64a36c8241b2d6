package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair encoding (cpp/include/nvtext/byte_pair_encoding.hpp): the
  * real merge-table algorithm — start from characters, repeatedly apply
  * the lowest-ranked adjacent merge until none applies. Rank lookup is a
  * hash map, cost O(word² · merges-applied) per word, linear in corpus
  * size overall.
  *
  * The merge table (load_merge_pairs is unbounded in the reference) is
  * loaded once into a [[BpeEncode.Ranks]] index on the driver and ships
  * as one broadcast: executors fetch it once, and the plan and task
  * closure carry only the handle.
  */
case class BpeEncode(child: Expression, ranks: Broadcast[BpeEncode.Ranks])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // Word → pieces cache (natural text is Zipfian: a few thousand words
  // cover most tokens). Capped so an adversarial all-distinct column
  // cannot grow it unboundedly; ConcurrentHashMap because local-mode
  // threads may share a deserialized expression instance.
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private final val CacheCap = 65536

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  private def encodeWord(word: String): Array[String] = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val rank = ranks.value
    val n = word.length
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = String.valueOf(word.charAt(i)); i += 1 }
    var len = n
    var continue = len >= 2
    while (continue) {
      var best = Int.MaxValue
      var bestIdx = -1
      i = 0
      while (i < len - 1) {
        val inner = rank.get(toks(i))
        if (inner != null) {
          val r = inner.get(toks(i + 1))
          if (r != null && r.intValue() < best) {
            best = r.intValue(); bestIdx = i
          }
        }
        i += 1
      }
      if (bestIdx < 0) continue = false
      else {
        val a = toks(bestIdx); val b = toks(bestIdx + 1)
        val ab = a + b
        // merge every (a, b) occurrence left-to-right, in place
        var r = 0; var w = 0
        while (r < len) {
          if (r < len - 1 && toks(r) == a && toks(r + 1) == b) {
            toks(w) = ab; r += 2
          } else { toks(w) = toks(r); r += 1 }
          w += 1
        }
        len = w
        if (len < 2) continue = false
      }
    }
    val out =
      if (len == n) toks else java.util.Arrays.copyOf(toks, len)
    if (cache.size < CacheCap) cache.put(word, out)
    out
  }

  override def nullSafeEval(v: Any): Any = {
    val text = v.toString.toLowerCase(java.util.Locale.ROOT)
    val words = ws.split(text)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        val enc = encodeWord(w)
        var j = 0
        while (j < enc.length) {
          pieces += UTF8String.fromString(enc(j)); j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(pieces.toArray)
  }

  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
}

object BpeEncode {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

  /** Two-level rank index (first symbol → second symbol → rank): the
    * inner-loop lookup allocates nothing, vs a tuple per probe with a
    * Map[(String, String), Int]. */
  type Ranks = java.util.HashMap[String, java.util.HashMap[String, Integer]]

  /** Encode `c` with `merges` (rank = position; the last rank wins for a
    * duplicated pair), broadcast once through the active session. */
  def apply(c: Column, merges: Seq[(String, String)]): Column = {
    val m: Ranks = new java.util.HashMap()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.computeIfAbsent(a, _ => new java.util.HashMap[String, Integer]())
        .put(b, Integer.valueOf(i))
    }
    column(BpeEncode(expression(c),
      SparkSession.active.sparkContext.broadcast(m)))
  }
}
