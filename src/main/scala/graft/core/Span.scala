package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** Named wall-clock phases: `Span("build") { … }` runs the block and adds
  * its wall seconds to the sum kept under "build". The sums are process-
  * wide and thread-safe, so a span opened on a thread [[Par.all]]
  * starts records like one on the caller's; spans of the same name add
  * up, so memory is bounded by the number of distinct names. A block that
  * throws is still recorded, then rethrows.
  *
  * [[graft.Bench]] drains the sums after each timed query run, which is
  * how a gate body reports its phases (index build, append, probe)
  * without a second copy of the gate.
  */
object Span {
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()

  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      sums.merge(name, secs, (a, b) => a + b)
    }
  }

  /** The sums recorded since the last drain, which are reset. */
  def drain(): Map[String, Double] =
    sums.keySet.asScala.toSeq.flatMap(k => Option(sums.remove(k)).map(k -> _.doubleValue)).toMap
}
