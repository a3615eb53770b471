package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's view is complete when the benchmark reads it. The bus is
  * private to Spark; this file lives in Spark's package to reach it. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
