package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so a test's job counter is complete before it is read. Lives in
  * Spark's package because the bus is package-private.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
