package org.apache.spark

/** Waits until every Spark listener event posted so far was delivered, so
  * per-gate listener counts are complete before the next gate starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
