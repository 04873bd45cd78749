package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one doorway to Spark's `private[sql]` and `private[spark]` members
  * the library needs: turning a custom [[LogicalPlan]] node
  * (graft.plans.AsOfJoinPlan) into a DataFrame, reading a DataFrame's
  * analyzed plan back out, and registering a scratch directory with
  * Spark's shutdown-time delete. Everything else in the repo sticks to the
  * public DataFrame/Catalyst extension APIs; this file lives in the Spark
  * package purely for access, it contains no logic. */
object GraftBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental

  /** Everything the session's planner will try, extensions-injected
    * strategies included — lets callers detect an already-registered
    * strategy instead of double-adding an experimental fallback. */
  def plannerStrategies(spark: SparkSession): Seq[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies

  def operatorOptimizationRules(spark: SparkSession): Seq[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.optimizer
      .extendedOperatorOptimizationRules

  /** Wrap a raw Catalyst expression as a Column — the doorway that lets
    * an operator hand a driver-held reference object (bloom filter, CMS,
    * IVF index) straight to its expression instead of smuggling
    * serialized bytes through a `lit()` the analyzer re-hashes on every
    * pass. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Delete `dir` recursively when the JVM exits, after the SparkContext
    * has stopped (Spark's own temp-dir shutdown hook). */
  def deleteAtShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
