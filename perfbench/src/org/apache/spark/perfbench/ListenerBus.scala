package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark; per-query counters are
  * only complete once every queued event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
