package org.apache.spark

/** Lets specs wait for Spark's listener bus: job and query-execution
  * listeners are called asynchronously, so a spec drains the bus before
  * it reads what they saw. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
