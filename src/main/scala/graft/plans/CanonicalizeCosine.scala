package graft.plans

import graft.functions.CosineSimilarity
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import scala.math.Ordering.Implicits._

/** Optimizer rule: canonicalize the (commutative) argument order of
  * CosineSimilarity, so `cosine(a,b)` and `cosine(b,a)` become the same
  * expression and common-subexpression elimination / cached-plan reuse can
  * collapse them. Operands order by their SQL text, which carries no
  * expression ids, so a plan prints the same order on every build; the
  * semantic hash only breaks ties between operands that print alike.
  * Bitwise-safe: the fused loop computes dot and both norms in the same
  * element order either way. Injected by GraftExtensions.
  */
object CanonicalizeCosine extends Rule[LogicalPlan] {
  private def key(e: Expression): (String, Int) = (e.sql, e.semanticHash())

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if key(b) < key(a) =>
        CosineSimilarity(b, a)
    }
}
