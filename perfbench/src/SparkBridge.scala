package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * benchmark's listener totals are complete when it reads them. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
