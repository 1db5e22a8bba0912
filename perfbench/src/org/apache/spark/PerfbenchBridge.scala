package org.apache.spark

/** Access to SparkContext's `private[spark]` listener bus, so the benchmark
  * can wait until every queued event reached its listeners before reading
  * totals. Lives in this package for access only.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
