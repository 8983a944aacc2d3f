package org.apache.spark

/** The listener bus is private[spark]; the benchmark drains it before
  * reading its listener's records, so no job or stage is lost. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
