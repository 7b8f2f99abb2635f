package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so a
  * window's counters are read only after all of its events arrived. The
  * bus is package-private; this is the one call the benchmark needs. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
