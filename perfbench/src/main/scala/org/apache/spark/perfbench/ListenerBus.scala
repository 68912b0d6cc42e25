package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's package-private listener bus, so the benchmark can
  * wait for its listener to see every event before reading counters.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
