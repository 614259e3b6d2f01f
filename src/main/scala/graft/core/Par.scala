package graft.core

/** Run INDEPENDENT Spark actions concurrently from the driver (the
  * optimization-guide "overlap independent jobs" pattern): actions are
  * sequential only because driver code calls them sequentially, so
  * writes/folds with no data or directory dependency can share the
  * cluster — one job's tasks back-fill slots another job's tail leaves
  * idle, and the set costs about max(legs) wall instead of their sum.
  *
  * Use ONLY for actions with disjoint effects (different output trees,
  * no ordering contract between them). An ordering that carries a
  * contract stays sequential INSIDE one leg, or runs after the join. A
  * shared cached/persisted input is fine: the block manager's per-block
  * locks make the racing job wait for (not recompute) a partition another
  * job is already materialising.
  *
  * Failure discipline: every leg is always awaited (no orphan job keeps
  * mutating a tree after the caller saw an exception); the first failure
  * in ARGUMENT order rethrows after all legs settle. Spark local
  * properties (job groups, tracer spans) are inherited by the leg threads.
  */
object Par {

  /** Run every leg concurrently (the first on the calling thread, each
    * other on its own daemon thread); return their results, in argument
    * order, when ALL have finished. */
  def all[A](legs: Seq[() => A]): Seq[A] = {
    val rest = legs.drop(1).map { leg =>
      val f = new java.util.concurrent.FutureTask(() => leg())
      val t = new Thread(f, "graft-par-action")
      t.setDaemon(true)
      t.start()
      f
    }
    val first = legs.headOption.map(leg => try Left(leg()) catch { case e: Throwable => Right(e) })
    val settled = first.toSeq ++ rest.map { f =>
      try Left(f.get()) catch {
        case e: java.util.concurrent.ExecutionException => Right(e.getCause)
        case e: Throwable => Right(e)
      }
    }
    settled.collectFirst { case Right(e) => throw e }
    settled.collect { case Left(x) => x }
  }

  /** [[all]]'s two-leg form: run `a` and `b` concurrently; return when
    * BOTH finish. */
  def both[A, B](a: => A, b: => B): (A, B) =
    all[Any](Seq(() => a, () => b)) match {
      case Seq(x, y) => (x.asInstanceOf[A], y.asInstanceOf[B])
    }
}
