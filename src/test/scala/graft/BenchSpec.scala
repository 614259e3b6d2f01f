package graft

import java.nio.file.{Files, Paths}

/** Bench's measurement of one query run: the phases a gate body records
  * through spans, the listener counters, and the thresholds file reader
  * that feeds the per-query regression gate. */
class BenchSpec extends SparkSpec {

  private def query(name: String) = SparkEntry.queries(name)

  test("q95 records build and probe spans within its wall time; its job counts repeat") {
    val meter = new Bench.Meter(spark)
    try {
      meter.run(query("q95_bm25_index"), sf001) // warm: listing and codegen
      val runs = Seq.fill(2)(meter.run(query("q95_bm25_index"), sf001))
      runs.foreach { r =>
        assert(r.error.isEmpty, r.error)
        assert(r.phases.keySet == Set("build", "probe"))
        r.phases.values.foreach(s => assert(s > 0 && s <= r.seconds))
      }
      val Seq(a, b) = runs.map(r => (r.counters.jobs, r.counters.stages, r.counters.tasks))
      assert(a == b)
      assert(a._1 > 0 && a._2 > 0 && a._3 > 0)
      assert(runs.forall(_.counters.planMs > 0))
    } finally meter.close()
  }

  test("a span-free query records no phases") {
    val meter = new Bench.Meter(spark)
    try {
      val r = meter.run(query("q05_count"), sf001)
      assert(r.error.isEmpty, r.error)
      assert(r.phases.isEmpty)
      assert(r.counters.jobs > 0)
    } finally meter.close()
  }

  test("thresholds: absent file is empty, a flat object parses, a malformed file throws naming it") {
    val dir = Paths.get(tmpDir("bench_thresholds"))
    assert(Bench.thresholds(dir.resolve("absent.json")).isEmpty)
    val good = Files.writeString(dir.resolve("good.json"), """{"q01": 0.75, "q02": 2}""")
    assert(Bench.thresholds(good) == Map("q01" -> 0.75, "q02" -> 2.0))
    Seq("truncated" -> """{"q01": 0.75,""", "text" -> """{"q01": "fast"}""",
        "array" -> """[0.75]""").foreach { case (n, body) =>
      val bad = Files.writeString(dir.resolve(s"$n.json"), body)
      val e = intercept[IllegalArgumentException](Bench.thresholds(bad))
      assert(e.getMessage.contains(bad.toString), n)
    }
  }
}
