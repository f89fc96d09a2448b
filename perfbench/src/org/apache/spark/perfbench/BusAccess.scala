package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on a background thread; the tracer waits
  * for the queue to empty at key boundaries so each event is attributed to
  * the key that caused it. `listenerBus` is package-private to Spark, hence
  * this accessor's package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
