package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: listener
  * events arrive asynchronously, so counts read right after a job
  * would otherwise miss its last task-end events. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
