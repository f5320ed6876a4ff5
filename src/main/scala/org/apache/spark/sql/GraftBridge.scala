package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` Column↔Expression converters
  * (Spark 4 moved Column onto ColumnNode; classic expressions convert via
  * `org.apache.spark.sql.classic.ExpressionUtils`). Compiling this object
  * inside the `org.apache.spark.sql` package is the standard ecosystem
  * technique for exposing custom Catalyst expressions as Columns. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A DataFrame over a logical plan the engine built itself. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Waits until every posted listener event has been delivered: an action
    * has returned once its job ends, but listeners may not have seen its
    * last events yet. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  /** Classes Janino has compiled in this JVM so far: one per codegen cache
    * miss, counted by Spark's `private[spark]` codegen metrics source. */
  def compilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
