package org.apache.spark

/** Test access to Spark's private[spark] listener bus: block until every
  * event posted so far has reached the listeners, so a listener's counts
  * are complete when a spec reads them.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
