package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so job
  * and stage metrics are complete before the benchmark reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
