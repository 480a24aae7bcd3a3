package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook — wire with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  *
  * Injects graft's custom Catalyst functions at session build time
  * (SURVEY §4: injectFunction from day 1), plus the one whole-operator
  * extension Catalyst's builtins can't express: the as-of join's
  * optimizer rule and planner strategy (see [[AsOfJoinPlan]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => PushLeftFilterThroughAsOf)
    // r15: collapse duplicate window expressions (Catalyst plans one
    // aggregate per syntactic occurrence; composite indicators repeat
    // the same frame agg up to 15x — see DedupWindowExpressions)
    ext.injectOptimizerRule(_ => DedupWindowExpressions)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    graft.functions.GraftFunctions.all.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
