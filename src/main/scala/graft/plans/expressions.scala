package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §2.12 + §7 step 6): the cases
  * where the reference has an operator Spark lacks and composition is
  * uglier than a native expression. Each follows the preference order
  * from SURVEY §7: codegen'd UnaryExpression where hot,
  * CodegenFallback where the kernel is a scalar Scala routine.
  */

/** normalize_nans_and_zeros (cpp/include/cudf/replace.hpp:282): maps
  * -0.0 → +0.0 and any NaN → the canonical quiet NaN, so that
  * aggregation/join key semantics are stable. Full codegen. */
case class NormalizeNaNZero(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"normalize_nan_zero needs DOUBLE, got ${child.dataType} " +
          "(cast explicitly — the interpreted and codegen paths would " +
          "otherwise disagree on implicit widening)")
  override def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = Double.isNaN($c) ? Double.NaN : (($c == 0.0d) ? 0.0d : $c);")
  override protected def withNewChildInternal(c: Expression): NormalizeNaNZero =
    copy(child = c)
}

/** Porter stemmer (cpp/include/nvtext/stemmer.hpp) — scalar kernel in
  * Scala, CodegenFallback (stemming is branch-heavy; the win is avoiding
  * a UDF's serialization boundary, not codegen fusion). */
case class PorterStem(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(PorterStem.stem(v.toString))
  override protected def withNewChildInternal(c: Expression): PorterStem =
    copy(child = c)
}

object PorterStem {
  // Classic Porter (1980) algorithm, steps 1a-5b, ASCII lower-case input.
  private def isVowel(w: String, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => true
    case 'y' => i > 0 && !isVowel(w, i - 1)
    case _ => false
  }
  /** m = number of VC sequences in the stem. */
  private def measure(w: String): Int = {
    var m = 0; var i = 0; val n = w.length
    while (i < n && !isVowel(w, i)) i += 1
    while (i < n) {
      while (i < n && isVowel(w, i)) i += 1
      if (i < n) { m += 1; while (i < n && !isVowel(w, i)) i += 1 }
    }
    m
  }
  private def hasVowel(w: String): Boolean = w.indices.exists(isVowel(w, _))
  private def endsDoubleC(w: String): Boolean =
    w.length >= 2 && w.last == w.charAt(w.length - 2) && !isVowel(w, w.length - 1)
  /** *o: stem ends cvc where final c is not w, x or y. */
  private def endsCvc(w: String): Boolean =
    w.length >= 3 && !isVowel(w, w.length - 3) && isVowel(w, w.length - 2) &&
      !isVowel(w, w.length - 1) && !"wxy".contains(w.last)

  private def replace(w: String, suf: String, rep: String, minM: Int): Option[String] =
    if (w.endsWith(suf)) {
      val stem = w.dropRight(suf.length)
      if (measure(stem) > minM) Some(stem + rep) else None
    } else None

  private val Step2 = Seq("ational" -> "ate", "tional" -> "tion",
    "enci" -> "ence", "anci" -> "ance", "izer" -> "ize", "abli" -> "able",
    "alli" -> "al", "entli" -> "ent", "eli" -> "e", "ousli" -> "ous",
    "ization" -> "ize", "ation" -> "ate", "ator" -> "ate", "alism" -> "al",
    "iveness" -> "ive", "fulness" -> "ful", "ousness" -> "ous",
    "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble")
  private val Step3 = Seq("icate" -> "ic", "ative" -> "", "alize" -> "al",
    "iciti" -> "ic", "ical" -> "ic", "ful" -> "", "ness" -> "")
  private val Step4 = Seq("al", "ance", "ence", "er", "ic", "able", "ible",
    "ant", "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous",
    "ive", "ize")

  def stem(word: String): String = {
    if (word.length <= 2) return word
    var w = word
    // Step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ies")) w = w.dropRight(2)
    else if (!w.endsWith("ss") && w.endsWith("s")) w = w.dropRight(1)
    // Step 1b
    var extra = false
    if (w.endsWith("eed")) { if (measure(w.dropRight(3)) > 0) w = w.dropRight(1) }
    else if (w.endsWith("ed") && hasVowel(w.dropRight(2))) { w = w.dropRight(2); extra = true }
    else if (w.endsWith("ing") && hasVowel(w.dropRight(3))) { w = w.dropRight(3); extra = true }
    if (extra) {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w = w + "e"
      else if (endsDoubleC(w) && !"lsz".contains(w.last)) w = w.dropRight(1)
      else if (measure(w) == 1 && endsCvc(w)) w = w + "e"
    }
    // Step 1c
    if (w.endsWith("y") && hasVowel(w.dropRight(1))) w = w.dropRight(1) + "i"
    // Steps 2-4: classic Porter is LONGEST-MATCH-THEN-STOP — the
    // longest matching suffix decides the step, and if its m-condition
    // fails, NOTHING in the step fires. Falling through to a shorter
    // suffix (the old collectFirst) mis-stems words like "element"
    // (step 4's "ement" stem "el" has m=1, so classic Porter keeps the
    // word; fallthrough to "ent" would yield "elem").
    // Tables are object-level vals — stem() runs once per TOKEN on the
    // corpus hot path, so no per-call Seq building.
    def applyMapStep(rules: Seq[(String, String)]): Unit = {
      val matching = rules.filter { case (s, _) => w.endsWith(s) }
      if (matching.nonEmpty) {
        val (s, r) = matching.maxBy(_._1.length)
        val stem = w.dropRight(s.length)
        if (measure(stem) > 0) w = stem + r
      }
    }
    applyMapStep(Step2) // Step 2
    applyMapStep(Step3) // Step 3
    // Step 4 — longest match, m>1; "ion" additionally requires an
    // s/t-final stem (its classic precedence condition)
    val m4 = Step4.filter(w.endsWith)
    if (m4.nonEmpty) {
      val s = m4.maxBy(_.length)
      val stem = w.dropRight(s.length)
      if (measure(stem) > 1 &&
          (s != "ion" || (stem.nonEmpty && "st".contains(stem.last))))
        w = stem
    }
    // Step 5a
    if (w.endsWith("e")) {
      val stem = w.dropRight(1)
      val m = measure(stem)
      if (m > 1 || (m == 1 && !endsCvc(stem))) w = stem
    }
    // Step 5b
    if (measure(w) > 1 && endsDoubleC(w) && w.endsWith("l")) w = w.dropRight(1)
    w
  }
}

/** EWM window aggregate (EWMA/EWMV agg kinds, cpp/include/cudf/
  * aggregation.hpp:106; python/cudf/cudf/core/window/ewm.py):
  *
  *  - `adjust = false`: s_t = alpha*x_t + (1-alpha)*s_{t-1} — the
  *    classic recursive EWMA.
  *  - `adjust = true` (pandas/cudf default): the finite-window
  *    weighted mean y_t = Σ(1-a)^i·x_{t-i} / Σ(1-a)^i, tracked as two
  *    running states num_t = x_t + (1-a)·num_{t-1} and
  *    den_t = 1 + (1-a)·den_{t-1} — no power() calls, so the fold is
  *    engine-portable bit for bit.
  *
  * Evaluated as a running window function over the frame order; null
  * inputs leave the state unchanged (decay does not advance — the
  * ignore_na=True convention, matching the non-adjusted arm).
  * DeclarativeAggregate → pure expressions, codegen-friendly. */
case class Ewma(child: Expression, alpha: Double, adjust: Boolean = false)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val state = AttributeReference("ewma_state", DoubleType)()
  private lazy val num = AttributeReference("ewm_num", DoubleType)()
  private lazy val den = AttributeReference("ewm_den", DoubleType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    if (adjust) Seq(num, den) else Seq(state)
  override lazy val initialValues: Seq[Expression] =
    aggBufferAttributes.map(_ => Literal(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] =
    if (adjust) Seq(
      If(IsNull(child), num,
        If(IsNull(num), Cast(child, DoubleType),
          Add(Cast(child, DoubleType), Multiply(Literal(1.0 - alpha), num)))),
      If(IsNull(child), den,
        If(IsNull(den), Literal(1.0),
          Add(Literal(1.0), Multiply(Literal(1.0 - alpha), den)))))
    else Seq(
      If(IsNull(state), Cast(child, DoubleType),
        If(IsNull(child), state,
          Add(Multiply(Literal(alpha), Cast(child, DoubleType)),
            Multiply(Literal(1.0 - alpha), state)))))
  override lazy val mergeExpressions: Seq[Expression] =
    // EWM is order-dependent and has NO correct partial-aggregate merge.
    // Window frames never merge buffers (single sequential pass per
    // frame), so the public API only exposes this over a WindowSpec
    // (GraftExpressions.ewma requires one). Raise on ANY merge — a
    // null-tolerant merge would let a single-partition groupBy/agg
    // return a silently scan-order-dependent result instead of erroring.
    aggBufferAttributes.map(_ =>
      Cast(new RaiseError(Literal("graft.ewma: partial-aggregate merge "
        + "is undefined for order-dependent EWMA; use it over a window, "
        + "not in groupBy/agg")), DoubleType))
  override lazy val evaluateExpression: Expression =
    if (adjust) Divide(num, den) else state
  override protected def withNewChildInternal(c: Expression): Ewma =
    copy(child = c)
}

/** Dot product of two numeric arrays, accumulated in double in element
  * order — bit-identical to the `aggregate(zip_with(a, b, *))` HOF fold
  * and to DuckDB's `list_aggregate(list_transform(list_zip(..)), 'sum')`
  * (same sequential IEEE adds), but FULLY CODEGEN'D: a tight primitive
  * loop over the two ArrayData buffers instead of per-element
  * interpreted lambdas with boxing. On the 64-dim embedding corpus this
  * is ~50× faster per pair, which is the difference between the exact
  * all-pairs near-dup oracle finishing in 2 s vs 80+ s.
  *
  * Null semantics match the HOF formulation: null array → null; any
  * null ELEMENT → null. Lengths may differ; the shorter bounds the loop
  * (embeddings are fixed-dim; zip_with's null-padding would null the
  * result anyway). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // Can return null on a null ELEMENT even when both array children are
  // non-nullable (e.g. CreateArray of nullable columns) — without this
  // override codegen would never declare isNull and the emitted
  // `isNull = true` fails to compile.
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product needs numeric arrays, got ${left.dataType}, ${right.dataType}")
  }

  private def get(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      i: Int, dt: DataType): Double = dt match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += get(x, i, lt) * get(y, i, rt)
      i += 1
    }
    s
  }

  private def accessor(dt: DataType, arr: String, i: String): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      double $s = 0.0;
      for (int $i = 0; $i < $n; $i++) {
        if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        $s += ${accessor(elemType(left), a, i)} * ${accessor(elemType(right), b, i)};
      }
      ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotProduct = copy(left = l, right = r)
}

/** Fused minhash-signature → LSH-band-keys kernel (nvtext/minhash.hpp:62
  * + the banding step of Dedup.minhashPairs). One pass over the token
  * array: each token is MD5-hashed once to 60 bits, the k per-seed
  * values derive from that one digest via PortableHash.affine remixes
  * (universal family mod 2^61−1), and band keys are the 15-hex-char MD5
  * of each signature slice — all in tight Scala loops, and every step
  * exactly replayable in DuckDB SQL (see TextOps.minhashBandKeysSql),
  * so the LSH pipelines are oracle-checked end to end rather than
  * recall-tested only.
  *
  * Exists because the compositional form (transform(seq(k), i ->
  * array_min(transform(toks, t -> hash(t, i)))) then slice-hash per
  * band) is interpreted per element AND re-inlines the whole signature
  * into every band's slice after projection collapse — k × bands full
  * re-evaluations. The fused kernel is one evaluation per row (~10×).
  * CodegenFallback: the win is algorithmic, not codegen fusion.
  *
  * Empty/absent token arrays yield the same sentinel signature
  * (Long.MaxValue mins, above the affine range [0, P)), so empty docs
  * collide with each other only. */
case class MinHashBandKeys(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(bands > 0 && numHashes > 0 && numHashes % bands == 0,
    s"need bands > 0 and bands | numHashes, got $numHashes/$bands")
  require(numHashes <= 64,
    s"PortableHash publishes 64 affine seed pairs; got numHashes=$numHashes")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"minhash_band_keys needs ARRAY<STRING>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = toks.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h0 = PortableHash.md5_60(toks.getUTF8String(i).getBytes)
        var s = 0
        while (s < numHashes) {
          val hs = PortableHash.affine(h0, s)
          if (hs < sig(s)) sig(s) = hs
          s += 1
        }
      }
      i += 1
    }
    val rows = numHashes / bands
    val keys = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val slice = new java.lang.StringBuilder(rows * 20)
      var r = b * rows
      while (r < (b + 1) * rows) {
        if (r > b * rows) slice.append(',')
        slice.append(sig(r))
        r += 1
      }
      keys(b) = UTF8String.fromString(
        b.toString + ":" + PortableHash.md5Hex15(slice.toString))
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBandKeys =
    copy(child = c)
}

/** 60-bit SimHash kernel over the portable MD5-60 token hash — one pass
  * per row: each token hashed once, 60 vote counters updated in a tight
  * loop (vote multiplicity counts, matching the classic frequency-
  * weighted formulation). 60 bits rather than 64 because the per-token
  * hash is the same md5-first-15-hex-chars integer DuckDB computes, so
  * the whole signature — and therefore the Hamming-LSH dedup pipeline
  * built on it — is oracle-checkable (see TextOps.simhashPairsSql). */
case class SimHash60(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"simhash60 needs ARRAY<STRING>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = toks.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h = PortableHash.md5_60(toks.getUTF8String(i).getBytes)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHash60 =
    copy(child = c)
}

/** Column-API entry points for the custom expressions + SQL registration
  * (spark.udf-style FunctionRegistry surface, SURVEY §2.12). */
/** Jaro-Winkler similarity (Winkler 1990; the record-linkage companion
  * of Levenshtein — prefix-weighted, in [0, 1]). Standard conventions,
  * matching DuckDB's jaro_winkler_similarity so the gate query has a
  * cross-engine oracle: empty input → 0, match window
  * max(len)/2 − 1, transpositions/2, prefix boost l·0.1·(1−j) with
  * l ≤ 4 applied only when jaro > 0.7. Codegen emits a static call into
  * [[JaroWinklerImpl]], so whole-stage codegen spans stay intact.
  * Comparison is by UTF-16 code unit (≡ code point on the BMP). */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler needs (string, string), got ${left.dataType}, ${right.dataType}")
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.jw(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.JaroWinklerImpl.jw($a.toString(), $b.toString());")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): JaroWinkler = copy(left = l, right = r)
}

object JaroWinklerImpl {
  /** Jaro similarity: matches within the standard window, then
    * half-transpositions over the matched subsequences. */
  def jaro(s1: String, s2: String): Double = {
    val n1 = s1.length; val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(0, math.max(n1, n2) / 2 - 1)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var m = 0
    var i = 0
    while (i < n1) {
      val hi = math.min(n2 - 1, i + window)
      var k = math.max(0, i - window)
      var found = false
      while (k <= hi && !found) {
        if (!m2(k) && s1.charAt(i) == s2.charAt(k)) {
          m1(i) = true; m2(k) = true; m += 1; found = true
        }
        k += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / n1 + md / n2 + (md - t / 2.0) / md) / 3.0
  }

  def jw(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) j
    else {
      val max = math.min(4, math.min(s1.length, s2.length))
      var l = 0
      while (l < max && s1.charAt(l) == s2.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    }
  }
}

/** Bit-interleaved Z-value (Morton code) over k non-negative LONG
  * dimension codes — the space-filling-curve sort key behind
  * multi-dimensional data clustering (Z-ORDER in Delta/Iceberg
  * terminology; Morton 1966). Sorting by the interleaved value keeps
  * rows close in EVERY dimension physically adjacent, so per-file
  * min/max column statistics prune scans for predicates on ANY of the
  * k columns — where a linear sort only serves its leading column.
  * `bits` low bits are taken per dimension (values clamped into
  * [0, 2^bits); callers pre-scale skewed/unbounded dimensions to rank
  * codes first); k·bits must fit 63. Dimension d occupies bit positions
  * d, d+k, d+2k, … */
case class InterleaveBits(children: Seq[Expression], bits: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(children.nonEmpty && bits * children.size <= 63,
    s"k*bits must fit a long, got ${children.size} dims x $bits bits")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"interleave_bits needs LONG dims, got ${children.map(_.dataType)}")
  override def foldable: Boolean = children.forall(_.foldable)
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(row)
      vs(i) = if (v == null) 0L else v.asInstanceOf[Long]
      i += 1
    }
    ZOrderImpl.interleave(bits, vs)
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): InterleaveBits = copy(children = cs)
}

/** 2-D Hilbert curve index (Hilbert 1891; iterative xy→d transform as
  * published in the standard quadrant-rotation formulation) — the
  * locality-tighter alternative to [[InterleaveBits]]: CONSECUTIVE
  * curve positions are always grid-adjacent (no Morton-style jumps
  * across half the space), so range partitions cut the curve into
  * blobs with smaller per-file bounding boxes. Same contract as the
  * Morton code: non-negative LONG dimension codes, `bits` low bits,
  * clamped at the edges. 2-D only (d-dimensional Hilbert needs the
  * Butz/Lawder machinery; Morton covers k > 2). */
case class HilbertIndex2D(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(bits >= 1 && bits <= 31, s"bits in [1,31], got $bits")
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hilbert_2d needs LONG dims, got ${left.dataType}, ${right.dataType}")
  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertImpl.xy2d(bits, a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): HilbertIndex2D = copy(left = l, right = r)
}

object HilbertImpl {
  /** (x, y) → distance along the order-`bits` Hilbert curve; inputs
    * clamp into [0, 2^bits) like [[ZOrderImpl.interleave]]. */
  def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    val n = 1L << bits
    var x = math.min(math.max(x0, 0L), n - 1)
    var y = math.min(math.max(y0, 0L), n - 1)
    var d = 0L
    var s = n >>> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the quadrant so the sub-curve orients consistently
      // (reflection is over the FULL grid, n-1, per the published
      // xy2d; smaller-s masks then read the correct sub-quadrant bits)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>>= 1
    }
    d
  }
}

object ZOrderImpl {
  /** Interleave the low `bits` bits of each dimension; negatives clamp
    * to 0, values ≥ 2^bits clamp to 2^bits − 1 (locality at the edge
    * beats wraparound). */
  def interleave(bits: Int, vs: Array[Long]): Long = {
    val k = vs.length
    val max = (1L << bits) - 1
    var out = 0L
    var d = 0
    while (d < k) {
      val v = math.min(math.max(vs(d), 0L), max)
      var j = 0
      while (j < bits) {
        out |= ((v >>> j) & 1L) << (j * k + d)
        j += 1
      }
      d += 1
    }
    out
  }
}

/** Natural log via `java.lang.Math.log` — NOT Spark's built-in `ln`.
  * Spark's math expressions ride `StrictMath` (fdlibm) for
  * cross-platform reproducibility; `Math.log` is the platform-intrinsic
  * path, which on glibc agrees bitwise with the C `log` every other
  * engine links (measured: `StrictMath.log(3/62d)` is 1 ulp below
  * glibc). Used where a double result must hash-match a libm-based
  * oracle (doc_char_entropy); the 1-ulp difference is irrelevant
  * numerically but fatal to exact-compare gates. */
case class LnLibm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ln_libm needs DOUBLE, got ${child.dataType} (cast explicitly)")
  override def nullSafeEval(v: Any): Any =
    java.lang.Math.log(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = java.lang.Math.log($c);")
  override protected def withNewChildInternal(c: Expression): LnLibm =
    copy(child = c)
}

/** Classic Metaphone phonetic key (Philips 1990; the successor of the
  * Soundex blocking key the reference pairs with edit distance for
  * record linkage — nvtext has edit_distance, cpp/include/nvtext/
  * edit_distance.hpp:52; phonetic blocking is the standard companion).
  * Conventions documented here because published variants differ; the
  * doc_metaphone oracle table is hand-derived from THIS spec:
  *   - letters only, uppercased; 1-letter input returns itself;
  *   - initial AE/GN/KN/PN/WR drop the first letter, initial X → S,
  *     initial WH → W;
  *   - adjacent duplicate letters collapse (except C);
  *   - vowels emit only word-initially;
  *   - B silent in final MB; CIA → X, SCH → K, initial CH + non-vowel
  *     third letter → K, other CH → X, SC+E/I/Y drops C, C+E/I/Y → S,
  *     else C → K; DGE/DGI/DGY → J else D → T; GH silent unless before
  *     a vowel, final GN(ED) silent, D+G+front already J so G silent,
  *     G+E/I/Y → J (not after G), else K; H silent after C/S/P/T/G
  *     (digraph consumed) or after a vowel with no vowel following;
  *     K silent after C; PH → F via P; Q → K; SH/SIO/SIA → X; TIA/TIO
  *     → X, TH → 0, TCH drops T; V → F; W/Y silent unless a vowel
  *     follows; X → KS; Z → S; code truncated at 4.
  * Codegen is a static call into [[MetaphoneImpl]] so whole-stage
  * codegen spans stay intact. */
case class Metaphone(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"metaphone needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      MetaphoneImpl.metaphone(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.plans.MetaphoneImpl.metaphone($c.toString()));")
  override protected def withNewChildInternal(c: Expression): Metaphone =
    copy(child = c)
}

object MetaphoneImpl {
  private final val MaxLen = 4
  private def isVowel(c: Char): Boolean =
    c == 'A' || c == 'E' || c == 'I' || c == 'O' || c == 'U'
  private def isFront(c: Char): Boolean = c == 'E' || c == 'I' || c == 'Y'

  def metaphone(input: String): String = {
    val b = new java.lang.StringBuilder(input.length)
    var i = 0
    while (i < input.length) {
      val ch = input.charAt(i)
      if (Character.isLetter(ch)) b.append(Character.toUpperCase(ch))
      i += 1
    }
    if (b.length == 0) return ""
    if (b.length == 1) return b.toString
    // Word-initial exceptions.
    val first = b.charAt(0); val second = b.charAt(1)
    var s = (first, second) match {
      case ('A', 'E') | ('G', 'N') | ('K', 'N') | ('P', 'N') | ('W', 'R') =>
        b.substring(1)
      case ('W', 'H') => "W" + b.substring(2)
      case ('X', _) => "S" + b.substring(1)
      case _ => b.toString
    }
    val n = s.length
    val code = new java.lang.StringBuilder(MaxLen)
    def prev(i: Int): Char = if (i > 0) s.charAt(i - 1) else 0
    def next(i: Int): Char = if (i + 1 < n) s.charAt(i + 1) else 0
    def nn(i: Int): Char = if (i + 2 < n) s.charAt(i + 2) else 0
    var j = 0
    while (j < n && code.length < MaxLen) {
      val c = s.charAt(j)
      val skipDup = j > 0 && c == prev(j) && c != 'C'
      if (!skipDup) c match {
        case v if isVowel(v) => if (j == 0) code.append(v)
        case 'B' => if (!(j == n - 1 && prev(j) == 'M')) code.append('B')
        case 'C' =>
          if (prev(j) == 'S' && isFront(next(j))) ()            // SCE/SCI/SCY
          else if (next(j) == 'I' && nn(j) == 'A') code.append('X') // CIA
          else if (isFront(next(j))) code.append('S')           // CE/CI/CY
          else if (next(j) == 'H') {
            if (prev(j) == 'S') code.append('K')                // SCH
            else if (j == 0 && n >= 3 && !isVowel(s.charAt(2)))
              code.append('K')                                  // CHR-
            else code.append('X')                               // CH
          } else code.append('K')
        case 'D' =>
          if (next(j) == 'G' && isFront(nn(j))) code.append('J') // DGE/DGI/DGY
          else code.append('T')
        case 'F' => code.append('F')
        case 'G' =>
          if (next(j) == 'H' && !isVowel(nn(j))) ()             // silent GH
          else if (next(j) == 'N' &&
            (j + 2 == n || (j + 4 == n && s.endsWith("NED")))) () // final GN(ED)
          else if (prev(j) == 'D' && isFront(next(j))) ()       // DGE → J at D
          else if (isFront(next(j)) && prev(j) != 'G') code.append('J')
          else code.append('K')
        case 'H' =>
          val p = prev(j)
          val digraph = p == 'C' || p == 'S' || p == 'P' || p == 'T' || p == 'G'
          if (!digraph && !(isVowel(p) && !isVowel(next(j)))) code.append('H')
        case 'J' => code.append('J')
        case 'K' => if (prev(j) != 'C') code.append('K')
        case 'L' => code.append('L')
        case 'M' => code.append('M')
        case 'N' => code.append('N')
        case 'P' => code.append(if (next(j) == 'H') 'F' else 'P')
        case 'Q' => code.append('K')
        case 'R' => code.append('R')
        case 'S' =>
          if (next(j) == 'H' ||
            (next(j) == 'I' && (nn(j) == 'O' || nn(j) == 'A')))
            code.append('X')
          else code.append('S')
        case 'T' =>
          if (next(j) == 'I' && (nn(j) == 'O' || nn(j) == 'A')) code.append('X')
          else if (next(j) == 'H') code.append('0')
          else if (!(next(j) == 'C' && nn(j) == 'H')) code.append('T') // TCH silent
        case 'V' => code.append('F')
        case 'W' => if (isVowel(next(j))) code.append('W')
        case 'X' => { code.append('K'); if (code.length < MaxLen) code.append('S') }
        case 'Y' => if (isVowel(next(j))) code.append('Y')
        case 'Z' => code.append('S')
        case _ => ()
      }
      j += 1
    }
    code.toString
  }
}

/** Full (unrestricted) Damerau-Levenshtein distance — Lowrance-Wagner
  * 1975: insert/delete/substitute plus transposition of adjacent
  * characters, where the transposed pair may itself have been edited
  * (distinguishing case: CA→ABC = 2, where the restricted/OSA variant
  * gives 3). This is the variant DuckDB's `damerau_levenshtein`
  * implements (verified: CA/ABC→2, ab/ba→1), so the gate query has a
  * bit-exact cross-engine oracle. The reference ships only plain edit
  * distance (nvtext/edit_distance.hpp:57); transposition-aware distance
  * is the standard extension for typo-tolerant dedup/linkage.
  * O(|a|·|b|) time, O(|a|·|b|) ints — bounded by caller-side length
  * caps exactly like levenshtein. Codegen emits a static call so
  * whole-stage spans stay intact. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"damerau_levenshtein needs (string, string), got ${left.dataType}, ${right.dataType}")
  override def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceImpl.damerau(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.EditDistanceImpl.damerau($a.toString(), $b.toString());")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DamerauLevenshtein = copy(left = l, right = r)
}

/** Hamming distance over equal-length strings (count of differing
  * positions, by UTF-16 code unit). Mirrors DuckDB's `hamming`, which
  * REJECTS unequal lengths — so does this (callers compare fixed-width
  * keys; a silent fallback would hide schema bugs). */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hamming needs (string, string), got ${left.dataType}, ${right.dataType}")
  override def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceImpl.hamming(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.EditDistanceImpl.hamming($a.toString(), $b.toString());")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): HammingDistance = copy(left = l, right = r)
}

object EditDistanceImpl {
  /** Lowrance-Wagner full Damerau-Levenshtein (see
    * [[DamerauLevenshtein]]): the classic (n+2)×(m+2) DP with the
    * `da` last-occurrence table enabling non-adjacent-after-edits
    * transpositions. */
  def damerau(a: String, b: String): Int = {
    val n = a.length; val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k: Int = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v }
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        var best = d(i)(j) + cost                    // substitute / match
        val ins = d(i + 1)(j) + 1                    // insert
        if (ins < best) best = ins
        val del = d(i)(j + 1) + 1                    // delete
        if (del < best) best = del
        val tr = d(k)(l) + (i - k - 1) + 1 + (j - l - 1) // transpose block
        if (tr < best) best = tr
        d(i + 1)(j + 1) = best
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d(n + 1)(m + 1)
  }

  def hamming(a: String, b: String): Int = {
    require(a.length == b.length,
      s"hamming needs equal lengths, got ${a.length} vs ${b.length}")
    var c = 0; var i = 0
    while (i < a.length) { if (a.charAt(i) != b.charAt(i)) c += 1; i += 1 }
    c
  }
}

/** Bloom-filter membership probe against a BROADCAST filter (the
  * streaming-ingest screen's hot-path predicate,
  * cpp/include/cudf/search.hpp `contains` at approximate scale). A
  * native codegen expression, not a ScalaUDF: the probe stays inside
  * WholeStageCodegen, pays no encoder round-trip per row, and the plan
  * carries only the lightweight broadcast HANDLE — executors resolve
  * the filter bytes once from the block manager, never per-task.
  * NULL keys are never "present" (false, matching an anti-join screen
  * on a null key). */
case class BloomMightContain(child: Expression,
    bfBc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression with Predicate {
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain needs string (cast explicitly), got ${child.dataType}")
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    v != null && bfBc.value.mightContainString(v.asInstanceOf[UTF8String].toString)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bfBc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.value} = false;
        if (!${childGen.isNull}) {
          ${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)
            $bcRef.value()).mightContainString(${childGen.value}.toString());
        }"""
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

/** Greedy width-wrap (strings/wrap.hpp:61). Kernel semantics
  * (cpp/src/strings/wrap.cu:44-73, ported by contract, not by code):
  * walk the characters once; every whitespace char (≤ 0x20) becomes a
  * space; once the current line reaches `width` characters, the LAST
  * such space flips to a newline. The kernel measures each line from
  * the previous break character itself, so the first line fits `width`
  * characters and every subsequent line `width − 1` — preserved
  * exactly (it is the reference's observable contract). Rewrite is
  * in-place: output length always equals input length, and a word
  * longer than the window is never split (wrap.hpp example 1: "12345"
  * at width 3 is unchanged). Positions count code points, matching the
  * kernel's character iterator. */
case class WrapText(child: Expression, width: Int) extends UnaryExpression {
  require(width > 0, "Positive wrap width required")
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"wrap needs string, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any = UTF8String.fromString(
    WrapTextImpl.wrap(v.asInstanceOf[UTF8String].toString, width))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = UTF8String.fromString(" +
      s"graft.plans.WrapTextImpl.wrap($c.toString(), $width));")
  override protected def withNewChildInternal(c: Expression): WrapText =
    copy(child = c)
}

object WrapTextImpl {
  def wrap(s: String, width: Int): String = {
    val out = s.toCharArray
    var lastSpaceIdx = -1 // char (UTF-16) index of the pending space
    var lastSpacePos = -1 // code-point position of the pending space
    var spos = 0          // code-point position of the current line start
    var pos = 0           // code-point position of the cursor
    var i = 0
    while (i < out.length) {
      val cp = s.codePointAt(i)
      if (cp <= ' '.toInt) {
        out(i) = ' '; lastSpaceIdx = i; lastSpacePos = pos
      }
      if (pos - spos >= width && lastSpaceIdx >= 0) {
        out(lastSpaceIdx) = '\n'
        spos = lastSpacePos
        lastSpaceIdx = -1; lastSpacePos = -1
      }
      pos += 1
      i += Character.charCount(cp)
    }
    new String(out)
  }
}

object GraftExpressions {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}

  def normalizeNanZero(c: Column): Column = column(NormalizeNaNZero(expression(c)))
  /** Allocation-light DOUBLE→DECIMAL(p,s) quantization, bit-identical to
    * `c.cast(DecimalType(p, s))` — see [[FastDoubleToDecimal]]. */
  def fastDecimal(c: Column, precision: Int, scale: Int): Column =
    column(FastDoubleToDecimal(expression(c), precision, scale))
  def porterStem(c: Column): Column = column(PorterStem(expression(c)))
  def wrapText(c: Column, width: Int): Column =
    column(WrapText(expression(c), width))
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))
  def damerauLevenshtein(a: Column, b: Column): Column =
    column(DamerauLevenshtein(expression(a), expression(b)))
  def hammingDist(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
  def metaphone(c: Column): Column = column(Metaphone(expression(c)))
  def doubleMetaphone(c: Column, alternate: Boolean = false): Column =
    column(DoubleMetaphoneExpr(expression(c), alternate))
  def nysiis(c: Column): Column = column(NysiisExpr(expression(c)))
  def refinedSoundex(c: Column): Column =
    column(RefinedSoundexExpr(expression(c)))
  def lnLibm(c: Column): Column = column(LnLibm(expression(c)))
  def interleaveBits(bits: Int, cs: Column*): Column =
    column(InterleaveBits(cs.map(expression), bits))
  def hilbert2d(bits: Int, x: Column, y: Column): Column =
    column(HilbertIndex2D(expression(x), expression(y), bits))
  def arrayScale(a: Column, s: Column): Column =
    column(ArrayScale(expression(a), expression(s)))
  def arrayQuantizeU8(a: Column, lo: Column, scale: Column): Column =
    column(ArrayQuantizeU8(expression(a), expression(lo), expression(scale)))
  /** EWMA is order-dependent, so it is only sound as a running window
    * function (frames evaluate sequentially; partial-agg merge would be
    * wrong) — the WindowSpec is therefore part of the signature. */
  def ewma(c: Column, alpha: Double,
      over: org.apache.spark.sql.expressions.WindowSpec): Column =
    column(Ewma(expression(c), alpha).toAggregateExpression()).over(over)

  /** pandas/cudf EWM parameterization (ewm.py): exactly one of
    * alpha / com (center of mass) / span / halflife, each mapped to the
    * smoothing factor: alpha, 1/(1+com), 2/(span+1),
    * 1-exp(-ln2/halflife) respectively. */
  def ewmAlpha(alpha: Option[Double] = None, com: Option[Double] = None,
      span: Option[Double] = None, halflife: Option[Double] = None): Double = {
    require(Seq(alpha, com, span, halflife).flatten.size == 1,
      "specify exactly one of alpha / com / span / halflife")
    alpha.map { a =>
      require(a > 0 && a <= 1, s"need 0 < alpha <= 1, got $a"); a
    }.orElse(com.map { c =>
      require(c >= 0, s"need com >= 0, got $c"); 1.0 / (1.0 + c)
    }).orElse(span.map { s =>
      require(s >= 1, s"need span >= 1, got $s"); 2.0 / (s + 1.0)
    }).orElse(halflife.map { h =>
      require(h > 0, s"need halflife > 0, got $h")
      1.0 - math.exp(-math.log(2.0) / h)
    }).get
  }

  /** Full-surface EWM (ewm.py contract): any of the four
    * parameterizations plus `adjust` (pandas/cudf default true — the
    * finite-window weighted mean; false recovers [[ewma]]'s recursive
    * form). Window-only, same soundness argument as [[ewma]]. */
  def ewm(c: Column, over: org.apache.spark.sql.expressions.WindowSpec,
      adjust: Boolean = true, alpha: Option[Double] = None,
      com: Option[Double] = None, span: Option[Double] = None,
      halflife: Option[Double] = None): Column =
    column(Ewma(expression(c), ewmAlpha(alpha, com, span, halflife), adjust)
      .toAggregateExpression()).over(over)
}
