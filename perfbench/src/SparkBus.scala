package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * benchmark's counters are complete before they are read. The bus is
  * package-private to Spark, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
