package org.apache.spark

/** Listener delivery is asynchronous; the traced run drains the bus before it
  * reads the counters its listeners attributed to spans. `waitUntilEmpty` is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
