package org.apache.spark

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits from the calling thread. Lives
  * under `org.apache.spark` because draining the asynchronous listener
  * bus is `private[spark]`. */
object JobCounter {
  private val Key = "graft.test.jobCounter"

  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val token = UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == token)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, token)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
