package org.apache.spark

/** Flushes the listener bus so that listener totals read after an
  * operation include every event the operation posted.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
