package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.VectorFunctions
import graft.plans.{AsOfJoinStrategy, AsOfLE}

/** Session-extension entry point: registers the engine's native functions
  * at session build, the supported way to ship them to every session of a
  * deployment (`spark.sql.extensions=graft.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)`).
  *
  * This replaces per-call temp-function registration: the function is in
  * the catalog before any query parses, works from pure SQL
  * (`SELECT cosine_sim(a, b)`), and applies to every new session on a
  * 1000-executor cluster without driver-side mutation. The
  * `VectorFunctions.register` fallback remains for sessions built
  * without extensions (e.g. test harnesses sharing a plain session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorFunctions.descriptions.foreach(ext.injectFunction)
    // native as-of join: marker predicate + planner strategy
    // (graft.plans.AsOfJoin). Deliberately NO injectOptimizerRule for
    // RewriteAsOfJoin: that batch is iterative and mid-optimization the
    // opaque AsOfJoin node would freeze filter pushdown / column pruning
    // beneath it (see the design note at plans/AsOfJoin.scala on
    // RewriteAsOfJoin). AsOfJoinStrategy extracts the still-intact marker
    // Join at planning time, after every optimizer batch has run.
    ext.injectFunction((
      FunctionIdentifier("asof_le"),
      new ExpressionInfo(classOf[AsOfLE].getName, "asof_le"),
      (exprs: Seq[Expression]) => AsOfLE(exprs)))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
