package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait for
  * it to deliver every task-end event before it sums the counters.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
