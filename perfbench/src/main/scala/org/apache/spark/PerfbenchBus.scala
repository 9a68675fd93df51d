package org.apache.spark

/** The listener bus is asynchronous; a traced run drains it before it
  * reads its counters. `listenerBus` is private[spark], hence this
  * one-method shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
