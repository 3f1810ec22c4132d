package org.apache.spark

/** The listener bus is `private[spark]`; tests that count scheduler
  * events wait through this for every queued event to be delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
