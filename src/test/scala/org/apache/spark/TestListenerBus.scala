package org.apache.spark

/** Test access to the `private[spark]` listener bus: waits until every
  * queued event has been delivered, so a listener's counts are complete.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
