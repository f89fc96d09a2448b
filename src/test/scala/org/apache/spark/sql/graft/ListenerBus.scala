package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Waits until every posted listener event has been delivered, so a test's
  * listener has seen all events of the actions before it. `listenerBus` is
  * `private[spark]`. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** `body`'s result and the number of Spark jobs it started. Only this
    * thread's jobs count: they carry a thread-local tag set for the call. */
  def jobsStarted[A](sc: SparkContext)(body: => A): (A, Int) = {
    val tag = s"graft-test-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag)
          jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      val result = body
      drain(sc)
      (result, jobs.get)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
