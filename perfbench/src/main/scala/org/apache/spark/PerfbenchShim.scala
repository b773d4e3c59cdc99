package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so a trace read at
  * exit has seen every event posted before it. Lives in this package
  * purely for access; nothing in Spark is modified. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
