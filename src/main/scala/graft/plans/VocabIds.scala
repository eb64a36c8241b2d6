package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Token-array → vocab-id-array lookup (nvtext/tokenize.hpp:216
  * tokenize_with_vocabulary's id-mapping step), the one path every
  * token-id output takes (built by [[graft.operators.VocabTokenize.idsFor]]).
  * The vocabulary is loaded once into a token → row-index hash map on
  * the driver and ships as one broadcast: executors fetch it once, the
  * plan and task closure carry only the handle, and each token costs one
  * hash probe. Absent (or null) tokens map to `defaultId`. */
case class VocabIds(child: Expression,
    ids: Broadcast[java.util.HashMap[String, Integer]], defaultId: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"vocab_ids needs ARRAY<STRING>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val idx = ids.value
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) defaultId
        else {
          val id = idx.get(arr.getUTF8String(i).toString)
          if (id == null) defaultId else id.intValue()
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): VocabIds =
    copy(child = c)
}
