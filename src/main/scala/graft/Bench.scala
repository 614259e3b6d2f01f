package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

import graft.core.Span

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialisation through the noop sink
  * (unlike count(), noop cannot let Catalyst prune the computed columns),
  * and prints the one-line JSON the driver records as BENCH_r{N}.json.
  *
  * Robustness (round-1 post-mortem): the JSON line is ALSO written to
  * tmp/bench_latest.json so the artifact survives even if stdout capture
  * fails again. Each query runs three times, but the repetitions are
  * interleaved round-robin across the WHOLE catalog (pass 1 of every query,
  * then pass 2, then pass 3) rather than back-to-back: this VM shows
  * multi-minute host memory-compaction stall windows, and three consecutive
  * runs of one query all land inside such a window (round-3 post-mortem:
  * q79 recorded 25.3 s vs a quiet-window 2.31 s). Spread over ~50 s passes,
  * a stall inflates each query at most once, which min-of-3 then discards.
  * Both min and median are reported so a reader can tell residual noise
  * (median >> min on one query) from a real regression (min itself moved).
  *
  * Every timed run also yields the query's phases (the [[Span]] sums its
  * gate body recorded, min per span over the three passes) and its
  * [[Counters]] (min per field), so the record says which phase moved
  * and whether the query's Spark work changed, from the runs it times.
  */
object Bench {
  /** The Spark work of one query run: jobs started, stages and tasks
    * completed, the executor run time of those tasks, and the Catalyst
    * planning time (analysis + optimization + planning) of the queries it
    * executed. Jobs, stages and tasks repeat exactly from one warm run to
    * the next, so unlike wall time they do not move with host load. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long, taskMs: Long, planMs: Long)

  /** One timed run: wall seconds, the span sums, the counters, and what
    * the query threw, if it threw. */
  final case class Run(seconds: Double, phases: Map[String, Double], counters: Counters,
      error: Option[Throwable])

  /** Counts everything `spark` runs while registered: one listener for
    * jobs, stages and tasks, one for planning time. [[run]] reads the
    * counts after draining the listener bus, so they are complete. */
  final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val jobs, stages, tasks, taskMs, planMs = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime))
    }

    private def planned(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)

    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    /** Runs `fn` once through the noop sink and measures it. A failure is
      * returned, not thrown, so one broken query cannot stop a pass. */
    def run(fn: (SparkSession, String) => DataFrame, sfDir: String): Run = {
      ListenerBus.drain(spark.sparkContext) // no earlier event lands after the reset
      Seq(jobs, stages, tasks, taskMs, planMs).foreach(_.set(0))
      Span.drain()
      val t0 = System.nanoTime()
      val error =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      val seconds = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark.sparkContext)
      Run(seconds, Span.drain(),
        Counters(jobs.get, stages.get, tasks.get, taskMs.get, planMs.get), error)
    }

    def close(): Unit = {
      spark.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }
  }

  /** The per-query regression thresholds in `path`, a flat
    * `{"query": seconds}` object; empty when the file is absent. A file
    * that is present but is not such an object throws, naming the path:
    * a damaged file must not switch the gate off. */
  def thresholds(path: Path): Map[String, Double] =
    if (!Files.exists(path)) Map.empty
    else try {
      implicit val formats: Formats = DefaultFormats
      parse(Files.readString(path)).extract[Map[String, Double]]
    } catch { case NonFatal(e) =>
      throw new IllegalArgumentException(s"malformed thresholds file $path: ${e.getMessage}", e)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Per-query regression gate (round-8 verdict #3): bench/thresholds.json
    // holds 1.5 × the best median-of-3 of the last two rounds per query;
    // a median above its threshold lands in the `regressions` array so the
    // round artifact adjudicates the VM's 133–146 s bounce band itself
    // instead of by eye. New queries have no threshold yet (not flagged).
    // Read before the passes, so a damaged file fails at once.
    val limits = thresholds(Paths.get("bench/thresholds.json"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JVM/codegen + file listing, outside the timed region
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // optional args: query-name substrings to run (iteration aid)
    val wanted = args.toSeq
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.exists(n.contains) }
    // pass 0 (round-4 verdict #4): one UNTIMED full-catalog pass, so the
    // three timed passes all run against warm per-query codegen/JIT — the
    // entry-query warm-up above covers session setup but not each query's
    // own generated code (r4: q74 pass-1 9.5 s vs 1.1 s warm). Discarded.
    catalog.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // timed passes record the failure
    }
    // Three interleaved passes over the whole catalog (see scaladoc): a
    // sustained VM stall poisons at most one pass of each query, never all
    // three repetitions of the same query.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val meter = new Meter(spark)
    val passes: Seq[Map[String, Run]] = (1 to 3).map { _ =>
      catalog.map { case (name, fn) =>
        val run = meter.run(fn, sfDir)
        run.error.foreach { e =>
          failed += name // a broken query must not masquerade as a fast one
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> run
      }.toMap
    }
    meter.close()
    val measured = catalog.map { case (name, _) => name -> passes.map(_(name)) }
    val results = measured.map { case (name, rs) =>
      val runs = rs.map(_.seconds)
      val spread = runs.max / math.max(runs.min, 1e-9)
      if (spread > 2.0)
        System.err.println(f"[bench] $name spread ${spread}%.1fx: ${runs.map(r => f"$r%.2f").mkString(",")}s")
      name -> runs
    }
    def median(rs: Seq[Double]): Double = rs.sorted.apply(rs.size / 2)
    def r3(d: Double): JValue =
      JDouble(BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def perQuery[A](rows: Seq[(String, A)])(f: A => JValue): JValue =
      JObject(rows.map { case (k, a) => k -> f(a) }.toList)
    val total = results.map(_._2.min).sum
    val totalMedian = results.map { case (_, rs) => median(rs) }.sum
    // Fixed-workload trend line: the 51 queries the ROUND-1 bench recorded
    // (BENCH_r01.json, 299.3 s). The headline `value` grows with every
    // catalog addition by construction; this subset is the same work
    // measured every round, so engine speed and catalog growth are
    // separable in the artifact itself.
    val r1Names = Set(
      "q01_scan_project", "q02_filter_eq", "q03_filter_range",
      "q04_filter_conj", "q05_count", "q06_count_filtered",
      "q07_cast_project", "q08_partition_inventory", "q09_uuid_or_zero",
      "q10_ipv4", "q11_format_size", "q12_describe",
      "q13_delete_partition", "q14_recon_verdict", "q15_groupby_agg",
      "q16_join_agg", "q17_topk", "q18_window",
      "q19_events_window", "q20_json_extract", "q21_fingerprint",
      "q22_fingerprint_by_partition", "q23_distinct_agg", "q24_setops",
      "q25_rollup", "q26_percentiles", "q27_approx_sketches",
      "q28_salted_join", "q29_asof_join", "q30_dedup_exact",
      "q31_minhash_pairs", "q32_simhash", "q33_jaccard_pairs",
      "q34_knn_bruteforce", "q35_knn_lsh", "q36_embedding_neardup",
      "q40_langid", "q41_quality", "q42_token_stats",
      "q43_text_stats", "q44_doc_fingerprint", "q45_multimodal_features",
      "q46_sessionize", "q47_window_frames", "q48_string_funcs",
      "q49_explode", "q50_range_join", "q51_pivot",
      "q52_grouping_sets", "q53_map_funcs", "q54_knn_ivf")
    val r1Present = results.filter { case (k, _) => r1Names.contains(k) }
    val r1Sum = r1Present.map(_._2.min).sum
    val failedJson = JArray(failed.toList.map(JString(_)))
    // phase split (round-5 verdict #8): the persisted-index queries' gate
    // totals time build+probe together; the user-facing number is the
    // probe alone, and a regression is only diagnosable if the phases are
    // visible separately. Min of each span over the timed passes (the
    // same VM-stall rationale as min-of-3); span-free queries are absent.
    val phases = measured.map { case (name, rs) =>
      name -> rs.flatMap(_.phases).groupMap(_._1)(_._2).view.mapValues(_.min).toSeq.sortBy(_._1)
    }.filter(_._2.nonEmpty)
    val counters = measured.map { case (name, rs) =>
      def least(f: Counters => Long) = JLong(rs.map(r => f(r.counters)).min)
      name -> JObject("jobs" -> least(_.jobs), "stages" -> least(_.stages),
        "tasks" -> least(_.tasks), "task_ms" -> least(_.taskMs), "plan_ms" -> least(_.planMs))
    }
    def overs(pick: Seq[Double] => Double) = results.flatMap { case (name, rs) =>
      limits.get(name).filter(t => pick(rs) > t).map(t => (name, pick(rs), t))
    }.sortBy { case (_, m, t) => -(m / t) } // worst overshoot first
    val regressed = overs(median)
    // a VM-stall window inflates EVERY median together (the 133–146 s
    // bounce band) and floods the median gate with uniform ~1.1–1.3×
    // trips; min-of-3 discards one stalled pass per query, so a REAL
    // regression (all three runs slower) trips BOTH arrays while ambient
    // noise trips only the median one — the reader separates them without
    // a re-run
    val regressedMin = overs(_.min)
    def regJson(rs: Seq[(String, Double, Double)]) = JArray(rs.toList.map { case (n, m, t) =>
      JObject("query" -> JString(n), "median" -> r3(m), "threshold" -> r3(t))
    })
    // the headline fields both lines open with; the full record keeps
    // the unrounded totals
    def summary(value: Double => JValue): List[JField] = List(
      "metric" -> JString("total"), "value" -> value(total), "unit" -> JString("sec"),
      "total_median" -> value(totalMedian), "n_queries" -> JInt(results.size),
      "r1_subset_n" -> JInt(r1Present.size), "r1_subset_sum" -> r3(r1Sum),
      "r1_subset_recorded_r01" -> JDouble(299.292))
    val line = compact(JObject(summary(JDouble(_)) ++ List[JField](
      "regressions" -> regJson(regressed), "regressions_min" -> regJson(regressedMin),
      "queries" -> perQuery(results)(rs => JDouble(rs.min)),
      "medians" -> perQuery(results)(rs => JDouble(median(rs))),
      // all three per-query runs, so a reader can tell VM noise (wide
      // spread) from a real regression (all three runs slower) without a
      // re-run
      "runs" -> perQuery(results)(rs => JArray(rs.toList.map(r3))),
      "phases" -> perQuery(phases)(ps => JObject(ps.toList.map { case (p, s) => p -> r3(s) })),
      "counters" -> JObject(counters.toList),
      "failed" -> failedJson, "sf" -> JString(sfDir))))
    // Stable-file copy of the artifact (driver stdout capture failed in
    // r1) — FULL runs only: a filtered iteration run must not overwrite
    // the round's record with a subset. Written BOTH to tmp/ (scratch)
    // and to bench/ (tracked — the round-9 verdict wants the compact
    // line's full_record pointer to resolve to a file that survives in
    // git, not a tmp path).
    val trackedRecord = "bench/full_record_latest.json"
    if (wanted.isEmpty) try {
      Files.createDirectories(Paths.get("tmp"))
      Files.writeString(Paths.get("tmp/bench_latest.json"), line + "\n")
      Files.writeString(Paths.get(trackedRecord), line + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    println(line)
    // COMPACT summary as the LAST stdout line (round-8 verdict #5): the
    // round harness keeps only a ~2 KB tail of stdout, so the full
    // 16 KB record above arrives mid-truncated and unparseable
    // (BENCH_r08 'parsed: null'). This line carries the headline numbers
    // + the regression verdict and POINTS at the full per-query record,
    // so the round artifact is parseable standalone. Its regression array
    // is capped at the 12 worst, with the true counts alongside.
    println(compact(JObject(summary(r3) ++ List[JField](
      "n_regressions_median" -> JInt(regressed.size), "n_regressions_min" -> JInt(regressedMin.size),
      "regressions_min" -> regJson(regressedMin.take(12)),
      "failed" -> failedJson, "sf" -> JString(sfDir), "full_record" -> JString(trackedRecord)))))
    spark.stop()
  }
}
