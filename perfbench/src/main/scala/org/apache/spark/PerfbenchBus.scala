package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's totals are complete when a load returns. The bus is
  * `private[spark]`, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
