package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so the traced run's counters are complete before they are read.
  * Lives in Spark's package because the bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
