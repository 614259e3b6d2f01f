package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Span contract: named wall-time sums that nest, add up by name, survive
  * a throwing body, record from the thread [[Par.both]] starts, and reset
  * on drain. */
class SpanSpec extends AnyFunSuite {

  test("nested spans and repeated names add up") {
    Span.drain()
    Span("outer") {
      Span("inner")(Thread.sleep(20))
      Span("inner")(Thread.sleep(20))
    }
    val sums = Span.drain()
    assert(sums.keySet == Set("outer", "inner"))
    assert(sums("inner") >= 0.04)
    assert(sums("outer") >= sums("inner"))
  }

  test("a span whose body throws still records and rethrows") {
    Span.drain()
    val e = intercept[IllegalStateException] {
      Span("failing") { Thread.sleep(10); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(Span.drain()("failing") >= 0.01)
  }

  test("a span opened in Par.both's second leg is recorded") {
    Span.drain()
    val (a, b) = Par.both(Span("first") { Thread.sleep(10); 1 }, Span("second") { Thread.sleep(10); 2 })
    assert((a, b) == (1, 2))
    val sums = Span.drain()
    assert(sums("first") >= 0.01)
    assert(sums("second") >= 0.01)
  }

  test("drain returns the sums and resets them") {
    Span.drain()
    Span("once")(())
    assert(Span.drain().keySet == Set("once"))
    assert(Span.drain().isEmpty)
  }
}
