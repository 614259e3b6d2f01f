package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so a
  * traced run reads complete per-layer counters. The listener bus is
  * private to Spark; this object lives in Spark's package to reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
