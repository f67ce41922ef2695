package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: an op's task, job, plan and streaming
  * progress events can still be queued when the op returns. Draining the bus
  * at every op boundary keeps each event in the op that caused it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
