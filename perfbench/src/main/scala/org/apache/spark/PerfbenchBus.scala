package org.apache.spark

/** The listener bus is asynchronous; a span must not close before the
  * events of the jobs it ran have been delivered. `waitUntilEmpty` is
  * package-private to Spark, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
