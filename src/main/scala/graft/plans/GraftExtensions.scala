package graft.plans

import graft.functions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions registering graft's native expressions for SQL use.
  * `GraftSession.builder` installs them; any other builder takes
  * `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      exprs => CosineSimilarity(exprs(0), exprs(1))))
    // zorder_key(col..., bits): the Morton layout key on the SQL surface
    // — expands at resolution to the same shift/and/or interleave tree
    // the Column API builds (Layout.zorderKey), so it rides whole-stage
    // codegen like any builtin; `bits` must be a literal
    e.injectFunction((
      FunctionIdentifier("zorder_key"),
      new ExpressionInfo(graft.ops.Layout.getClass.getName, "zorder_key"),
      exprs => {
        require(exprs.size >= 2, "zorder_key(col..., bits)")
        val bits = exprs.last match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
          case other => throw new IllegalArgumentException(
            s"zorder_key's bits argument must be an integer literal, got $other")
        }
        graft.ops.Layout.zorderExpression(exprs.init, bits)
      }))
    e.injectOptimizerRule(_ => CanonicalizeCosine)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    // ASOF [LEFT] JOIN SQL syntax (the form the DuckDB oracle itself
    // writes): parser strips the keyword and plants a marker node, the
    // resolution rule swaps it for the native AsofJoinNode
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    e.injectResolutionRule(_ => ResolveAsofJoin)
  }
}
