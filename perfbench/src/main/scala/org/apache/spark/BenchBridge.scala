package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read after an action include that action's events. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
