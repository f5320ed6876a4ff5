package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.util.QueryExecutionListener

/** Test-only bridge into Spark's `private[spark]` listener and cache
  * internals: lets specs check which listeners a tool left registered and
  * whether anything was left in the session cache. (Same compile-into-
  * their-package technique as `GraftBridge`.) */
object GraftTestBridge {
  def listeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq

  def queryListeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** True when the session's CacheManager holds no cached plan. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
}
