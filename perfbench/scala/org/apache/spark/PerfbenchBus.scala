package org.apache.spark

/** Spark keeps its listener bus private. A traced operation has finished
  * once its action returns, but the listener may not have seen its last
  * events yet; the benchmark waits for the bus to drain before it reads
  * the collected metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
