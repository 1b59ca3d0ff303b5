package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.functions.ArrayIntersectCount

/** Optimizer rule (SURVEY.md §7.3 extension tour): any
  * `size(array_intersect(a, b))` over string arrays — including ones
  * written in plain SQL through `Sql.adhoc` — is rewritten to the
  * codegen'd [[ArrayIntersectCount]], skipping the intersection-array
  * materialization.
  *
  * Guarded on legacySizeOfNull=false (default): in legacy mode `size`
  * returns -1 for null input while the count expression returns null,
  * so the rewrite would change semantics.
  */
object IntersectCountRewrite extends Rule[LogicalPlan] {

  private def isStringArray(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.legacySizeOfNull) plan
    else plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), false)
          if isStringArray(a.dataType) && isStringArray(b.dataType) =>
        ArrayIntersectCount(a, b)
    }
}
