package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the benchmark reads its listener only
  * after every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
