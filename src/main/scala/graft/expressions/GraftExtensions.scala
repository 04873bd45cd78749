package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions

/** Packaging hook for external users: register the native functions at
  * session build time via
  * `--conf spark.sql.extensions=graft.expressions.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`), instead of the lazy
  * in-library GraftFunctions.register call. Both install the one
  * [[GraftFunctions]] table. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension: native as-of join (logical node ->
    // strategy -> sort-merge exec) + the pruning rule Catalyst can't
    // apply through a node it doesn't know
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PruneAsOfJoin)
    GraftFunctions.functions.foreach(e.injectFunction)
  }
}
