package org.apache.spark

/** Waits until every queued listener event has been delivered, so task
  * metrics read after a traced span are complete. The listener bus is
  * Spark-private; this one call is the only reason for the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
