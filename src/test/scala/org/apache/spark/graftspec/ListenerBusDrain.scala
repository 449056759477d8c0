package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Specs that count jobs through a `SparkListener` must wait for the
  * asynchronous listener bus to deliver every event first; the bus is
  * package-private to Spark, so the wait lives here. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
