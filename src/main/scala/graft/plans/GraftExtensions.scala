package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer (SURVEY.md §7 architecture point (b)/
  * (c) registration path): makes the engine's custom expressions
  * available as SQL functions in every session built with
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *
  * or via config `spark.sql.extensions=graft.plans.GraftExtensions` —
  * the standard plug-in mechanism, so a cluster operator can install the
  * library without code changes. It also installs the range-join planner
  * strategy and the [[SmallSort]] adaptive stage-prep rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("porter_stem"),
      info("porter_stem", "porter_stem(str)"),
      (es: Seq[Expression]) => PorterStem(es.head)))
    e.injectFunction((FunctionIdentifier("normalize_nan_zero"),
      info("normalize_nan_zero", "normalize_nan_zero(col)"),
      (es: Seq[Expression]) => NormalizeNaNZero(es.head)))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(arr_a, arr_b)"),
      (es: Seq[Expression]) => DotProduct(es.head, es(1))))
    e.injectPlannerStrategy(_ => RangeJoinStrategy)
    e.injectQueryStagePrepRule(SmallSort)
  }
}
