package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * listener's counters are complete when a timed operation returns.
  * Lives under `org.apache.spark` because the bus is package-private.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
