package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a test's
  * listener has seen all events of the actions before it. `listenerBus` is
  * `private[spark]`. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
