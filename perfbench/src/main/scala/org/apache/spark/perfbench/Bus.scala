package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to the `spark` package; the benchmark
  * needs it only to wait until every posted event reached its listener
  * before it reads the listener's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
