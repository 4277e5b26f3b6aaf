package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: fuse `vec_dot(a,b) / (sqrt(vec_dot(a,a)) *
  * sqrt(vec_dot(b,b)))` into a single [[VectorCosine]].
  *
  * A user composing cosine from dot/norm primitives (the natural way to
  * write it) pays three passes over both arrays per row; the fused
  * expression computes all three accumulators in one pass. The rewrite is
  * exact: VectorCosine performs the identical IEEE operation sequence per
  * accumulator, so results are bit-equal, and it fires only when the
  * argument expressions match semantically (`semanticEquals`, so aliases
  * and cosmetic differences don't block it).
  */
object CosineFusion extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Divide(
          VectorDot(a1, b1),
          Multiply(Sqrt(VectorDot(a2, a3)), Sqrt(VectorDot(b2, b3)), _), _)
        if a1.semanticEquals(a2) && a2.semanticEquals(a3) &&
           b1.semanticEquals(b2) && b2.semanticEquals(b3) =>
        VectorCosine(a1, b1)
    }

  /** Add the rule to a session built without GraftExtensions (e.g. a
    * harness-owned one) as an extra optimization; a session whose
    * optimizer already has it, from the extensions or an earlier call,
    * is left as is. */
  def ensureOn(spark: SparkSession): Unit =
    if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules.contains(this) &&
        !spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ this
}
