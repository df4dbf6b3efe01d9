package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private to the `spark` package; specs that read
  * the status tracker wait on it so every posted job event is counted.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
