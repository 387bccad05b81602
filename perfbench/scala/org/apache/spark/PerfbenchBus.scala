package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it at every
  * span boundary so the listener counts read there are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
