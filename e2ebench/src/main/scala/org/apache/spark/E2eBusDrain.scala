package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * listener counters read after an action include all of its tasks.
  * Lives in Spark's package because the bus is private to it.
  */
object E2eBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
