package org.apache.spark

/** Waits until every queued listener event has been delivered, so engine
  * counters read after an operation include all of its tasks. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
