package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener has seen all of them when the spec reads it. The bus is
  * private to Spark; this file lives in Spark's package to reach it. */
object TestBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
