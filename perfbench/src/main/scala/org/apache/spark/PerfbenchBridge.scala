package org.apache.spark

/** The listener bus is `private[spark]`; living in this package gives the
  * harness its drain call, so a traced run reads its records only after
  * every posted event has been delivered. Nothing in Spark is modified. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
