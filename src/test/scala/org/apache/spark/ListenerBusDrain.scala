package org.apache.spark

/** Spec access to Spark's package-private listener bus: waits until every
  * event posted so far has reached the listeners, so a spec reads what
  * its `SparkListener` or `QueryExecutionListener` saw only after the
  * events of the jobs it ran were delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
