package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that counters read after a
  * call include every event that call produced. `listenerBus` is
  * `private[spark]`, hence this one-method shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
