package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so a
  * spec reads complete listener counts. The listener bus is private to
  * Spark; this object lives in Spark's package to reach it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
