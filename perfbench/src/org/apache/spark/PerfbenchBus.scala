package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so a
  * traced run reads complete per-span counters (the bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
