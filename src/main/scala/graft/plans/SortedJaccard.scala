package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaccard similarity of two token sets (nvtext/jaccard.hpp:63) given
  * as ascending, duplicate-free `array<string>` columns — what
  * `array_sort(array_distinct(x))` yields — in ONE merge pass:
  * |A∩B| / (|A| + |B| − |A∩B|). The hash-set formulation
  * (`array_intersect` + 2× `array_distinct`) builds three hash sets per
  * row and, inlined by CollapseProject, re-evaluates them at every use
  * of the column; here each side's set is built once, upstream, and the
  * verify is a branch-light walk over both arrays.
  *
  * Same double as the hash-set formula for the same integer counts (one
  * int → double division). Nulls: a null array gives null; null
  * elements must sort last (array_sort's order, not sort_array's nulls
  * first) and match each other, as in `array_intersect`; two empty sets
  * give null (0/0). Verify queries over candidate pairs call this
  * directly on their null-free token arrays, sorted with sort_array;
  * [[graft.functions.TextFunctions.jaccard]] wraps it for arbitrary
  * arrays, which may hold nulls, so it sorts with array_sort. */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_jaccard needs two array<string>, got " +
            s"${left.dataType}, ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val inter = SortedJaccard.intersection(x, y)
    val union = x.numElements() + y.numElements() - inter
    if (union == 0) null else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      s"""
      int $inter = graft.plans.SortedJaccard.intersection($a, $b);
      int $union = $a.numElements() + $b.numElements() - $inter;
      if ($union == 0) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = (double) $inter / $union;
      }
      """
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SortedJaccard = copy(left = l, right = r)
}

object SortedJaccard {

  /** |A∩B| of two ascending, duplicate-free string arrays: one merge
    * walk, advancing the side holding the smaller element. */
  def intersection(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = compare(a.getUTF8String(i), b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  /** array_sort's element order: binary string order, nulls last. */
  private def compare(x: UTF8String, y: UTF8String): Int =
    if (x == null) { if (y == null) 0 else 1 }
    else if (y == null) -1
    else x.binaryCompare(y)
}
