package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Par.all]]: legs run concurrently, results come back in argument
  * order, every leg settles before the call returns or throws, and the
  * first failure in argument order is the one rethrown. */
class ParSpec extends AnyFunSuite {

  test("all: legs overlap and results keep argument order") {
    val started = new CountDownLatch(3)
    def leg(i: Int) = () => {
      started.countDown()
      // each leg waits for the others to start: sequential legs would time out
      assert(started.await(10, TimeUnit.SECONDS))
      i * 10
    }
    assert(Par.all(Seq(leg(1), leg(2), leg(3))) == Seq(10, 20, 30))
    assert(Par.all(Seq.empty[() => Int]).isEmpty)
    assert(Par.both("a", 2) == ("a", 2))
  }

  test("all: the first failure in argument order rethrows after every leg settles") {
    val done = new ConcurrentLinkedQueue[String]()
    val first = new IllegalStateException("leg 1")
    val err = intercept[IllegalStateException](Par.all[Unit](Seq(
      () => { Thread.sleep(200); done.add("slow") },
      () => { Thread.sleep(50); throw first },
      () => throw new IllegalArgumentException("leg 2"),
      () => { Thread.sleep(300); done.add("slower") })))
    assert(err eq first)
    assert(done.asScala.toSet == Set("slow", "slower"))
    // the caller's own leg failing still waits for the others
    val late = new ConcurrentLinkedQueue[String]()
    intercept[IllegalArgumentException](Par.both(
      throw new IllegalArgumentException("a"), { Thread.sleep(200); late.add("b") }))
    assert(late.asScala.toSeq == Seq("b"))
  }
}
