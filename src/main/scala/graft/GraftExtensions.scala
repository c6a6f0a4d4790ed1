package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Graft's whole SQL surface, installed at session build: every native
  * function in [[GraftFunctions.table]], the as-of join planner
  * strategy, and three optimizer rules. [[GraftSession.builder]] adds
  * it to every session it builds; a cluster deploy sets
  * `spark.sql.extensions=graft.GraftExtensions` plus
  * [[GraftSession.pinned]]. Nothing installs it at run time.
  *
  * The injected rules run inside Catalyst's Operator Optimization
  * fixpoint, next to its own `ColumnPruning` and `CollapseProject`, so
  * the projections [[plans.AsofJoinPruning]] inserts keep propagating
  * through aggregate and join children down to the scans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.className, f.name), f.builder))
    }
    // the native as-of join (custom node + strategy + exec) and the
    // pushdown/pruning rules Catalyst cannot apply through the node
    e.injectPlannerStrategy(_ => plans.AsofJoinStrategy)
    e.injectOptimizerRule(_ => plans.AsofJoinPushdown)
    e.injectOptimizerRule(_ => plans.AsofJoinPruning)
    // aggregate-over-MV rewrite (a no-op until a view is registered via
    // graft.plans.MvRewrite.register)
    e.injectOptimizerRule(_ => plans.MvRewriteRule)
  }
}
