package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is asynchronous: without this, a job's late events
  * land on whichever span is open when they arrive. Lives under
  * `org.apache.spark` because the bus is `private[spark]`. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
