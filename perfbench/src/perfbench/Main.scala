package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods.compact

import graft.core.GraftSession

/** Product-path benchmark for graft: one workload per run, in one JVM, one
  * client in a closed loop.
  *
  * {{{
  * Main --workload <copy_sync|pipeline_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --sf <sf0.1 dir> --work <scratch dir>
  *      --cores <k> [--spans <file>]
  * }}}
  *
  * Prints a detail line (every figure under its workload-specific name,
  * with sample counts) and then, as the last line, the result object:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones. */
object Main {
  val Modules = Seq("cli", "recon", "fp", "dedup", "text", "agg", "plans", "core")
  val Stores = Seq("output", "seen", "neardup", "fp", "rollup", "bm25", "card")
  val Workloads = Seq("copy_sync", "pipeline_ingest")
  val SpanCalls = Seq("sync", "castPlan", "verdicts", "repair", "verify",
    "ingest", "replay", "bm25_probe", "mv_agg")
  val SetupReps = 3

  /** A workload as the loop drives it: the names of its main and follow-up
    * calls, one operation, the form of it a traced run attributes when that
    * differs from the operation, and the figures it sets at the end. Every
    * workload sets `main_rows` (input rows of one main call) and
    * `space_amp`. */
  final case class Workload(mainCall: String, followCall: String,
      op: Int => Unit, tracedOp: Option[Int => Unit], figures: () => Unit)

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      sf: String, work: String, cores: Int, spans: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("sf"), need("work"), kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("spans", s"${need("work")}/spans.jsonl"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Files.isRegularFile(Paths.get(s"${o.sf}/lineitem.parquet")),
      s"no sf0.1 fixture at ${o.sf}")
    val spark = GraftSession.local(o.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val out = try run(spark, o) finally spark.stop()
    out.foreach(println)
  }

  /** `overheadS`: seconds of calls of ops 1, 2 and 3 of a traced run, the
    * same operation with the tracer attached for op 2 only. */
  final case class Run(setupTimes: Seq[Double], overheadS: Option[Seq[Double]],
      layers: Option[Tracer#Layers], selfMs: Map[String, Double])

  def run(spark: org.apache.spark.sql.SparkSession, o: Opts): Seq[String] = {
    val ctx = new Ctx(spark, o.sf, o.work, o.seed)
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    def setup[T](f: Int => T): T =
      (0 until SetupReps).map { r =>
        val t0 = System.nanoTime()
        val s = f(r)
        setupTimes += (System.nanoTime() - t0) / 1e9
        s
      }.last

    ctx.recording = false
    val w = o.workload match {
      case "copy_sync" =>
        val st = setup(r => CopySync.setup(ctx, r))
        Workload("sync", "verify",
          i => ctx.op(i)(CopySync.op(ctx, st, _)),
          Some(i => ctx.op(i)(CopySync.tracedOp(ctx, st, _))),
          () => CopySync.figures(ctx, st))
      case "pipeline_ingest" =>
        val st = setup(r => PipelineIngest.setup(ctx, r,
          ctx.dir("pipeline", s"stores_$r"),
          if (o.trace) PipelineIngest.TracedReplayReps else PipelineIngest.ReplayReps))
        val tally = new CorpusQuery.Tally
        val op = (i: Int) => ctx.op(i) { c =>
          PipelineIngest.op(ctx, st, c)
          // the warm-up only builds the stores the timed operations restore
          if (i > 0) CorpusQuery.reads(ctx, st, c, tally)
        }
        Workload("ingest", "replay", op, None, () => {
          PipelineIngest.figures(ctx, st)
          ctx.figures("plans.mv_hit_ratio") = tally.hits.toDouble / math.max(1, tally.aggs)
        })
    }

    def callSeconds(f: Int => Unit, i: Int): Double = {
      val c0 = ctx.callSeconds
      f(i)
      ctx.callSeconds - c0
    }
    // op 0 warms up classes, generated code and caches; checked, not timed
    w.op(0)
    ctx.recording = true
    val r = if (!o.trace) {
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      var i = 1
      while (System.nanoTime() < deadline) { w.op(i); i += 1 }
      Run(setupTimes.toSeq, None, None, Map.empty)
    } else {
      // ops 1 (still warming up: a tenth slower than the next two), 2
      // (traced) and 3 (untraced) are the same operation on the same input;
      // op 2 minus op 3 is the tracing overhead. Op 2, or op 4 when the
      // workload has a separate traced form, gives the per-layer figures.
      // Fixed counts, so the counters repeat exactly.
      val tracer = new Tracer(Modules)
      def traced[T](body: => T): T = {
        tracer.attach(spark)
        ctx.tracer = Some(tracer)
        try body finally { ctx.tracer = None; tracer.detach(spark) }
      }
      val ops = Seq(callSeconds(w.op, 1), traced(callSeconds(w.op, 2)), callSeconds(w.op, 3))
      val layerOp = w.tracedOp.fold(2) { f => traced(f(4)); 4 }
      Files.write(Paths.get(o.spans),
        tracer.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
      Run(setupTimes.toSeq, Some(ops),
        Some(tracer.layers(layerOp)), tracer.selfMs(layerOp))
    }
    w.figures()
    Seq(detail(o, ctx, r), result(o, ctx, w, r))
  }

  private def samples(ctx: Ctx, name: String): Seq[Double] =
    ctx.samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Median, or 0 when every operation failed before its call returned
    * (the result then reads `correct: false`). */
  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def endToEnd(ctx: Ctx, w: Workload, r: Run): Seq[(String, Double, String)] = {
    val m = samples(ctx, w.mainCall)
    def fig(k: String) = ctx.figures.getOrElse(k, 0.0)
    Seq(
      ("setup_s", median(r.setupTimes), "s"),
      ("main_s_p50", median(m), "s"),
      ("follow_s_p50", median(samples(ctx, w.followCall)), "s"),
      ("main_rows_per_s", if (m.isEmpty) 0.0 else fig("main_rows") * m.size / m.sum, "rows/s"),
      ("space_amp", fig("space_amp"), "ratio"))
  }

  def perLayer(ctx: Ctx, r: Run): Seq[(String, Double, String)] = {
    val l = r.layers.get.values
    def fig(k: String) = ctx.figures.getOrElse(k, 0.0)
    Modules.flatMap(m => Seq(
      (s"$m.jobs", l(s"$m.jobs"), "count"),
      (s"$m.job_ms", l(s"$m.job_ms"), "ms"),
      (s"$m.task_ms", l(s"$m.task_ms"), "ms"),
      (s"$m.shuffle_bytes", l(s"$m.shuffle_bytes"), "bytes"),
      (s"$m.output_bytes", l(s"$m.output_bytes"), "bytes"))) ++
    Seq(
      ("catalyst.plan_ms", l("catalyst.plan_ms"), "ms"),
      ("catalyst.queries", l("catalyst.queries"), "count"),
      ("driver.gap_ms", l("driver.gap_ms"), "ms"),
      ("unattributed.jobs", l("unattributed.jobs"), "count")) ++
    Stores.flatMap(s => Seq(
      (s"store.$s.files", fig(s"store.$s.files"), "count"),
      (s"store.$s.bytes", fig(s"store.$s.bytes"), "bytes"))) ++
    Seq(
      ("recon.partitions_repaired", fig("recon.partitions_repaired"), "count"),
      ("recon.rows_written", fig("recon.rows_written"), "count"),
      ("dedup.planted_drop_ratio", fig("dedup.planted_drop_ratio"), "ratio"),
      ("plans.mv_hit_ratio", fig("plans.mv_hit_ratio"), "ratio")) ++
    SpanCalls.map(c => (s"span.$c.self_ms", r.selfMs.getOrElse(c, 0.0), "ms")) ++
    r.overheadS.map(s => ("trace.overhead_ms", (s(1) - s(2)) * 1000, "ms")).toSeq
  }

  def metric(value: Double, unit: String): JValue = {
    require(!value.isNaN && !value.isInfinite, s"not a finite number: $value")
    JObject("value" -> JDouble(value), "unit" -> JString(unit))
  }

  private def nums(xs: Seq[Double]): JValue = JArray(xs.map(JDouble(_)).toList)

  def result(o: Opts, ctx: Ctx, w: Workload, r: Run): String = {
    val ms = if (o.trace) perLayer(ctx, r) else endToEnd(ctx, w, r)
    compact(JObject(
      "correct" -> JBool(ctx.failed == 0),
      "attempted" -> JInt(ctx.attempted),
      "failed" -> JInt(ctx.failed),
      "metrics" -> JObject(ms.map { case (n, v, u) => n -> metric(v, u) }.toList)))
  }

  /** Unit of a workload figure, from its name. */
  private def unitOf(figure: String): String =
    if (figure == "main_rows") "rows"
    else if (figure.endsWith(".bytes")) "bytes"
    else if (figure.endsWith("ratio") || figure.endsWith("amp")) "ratio"
    else "count"

  /** Every figure under the name it has for this workload, with sample
    * counts and the highest percentile each sample set supports. */
  def detail(o: Opts, ctx: Ctx, r: Run): String = {
    val named = mutable.ArrayBuffer.empty[(String, JValue)]
    ctx.samples.foreach { case (name, xs) =>
      named += s"${name}_s_p50" -> metric(median(xs.toSeq), "s")
      Stats.tail(xs.toSeq).foreach { case (p, v) => named += s"${name}_s_p$p" -> metric(v, "s") }
      named += s"${name}_n" -> metric(xs.size, "count")
      named += s"${name}_s_all" -> nums(xs.toSeq)
    }
    ctx.figures.foreach { case (k, v) => named += k -> metric(v, unitOf(k)) }
    named += "op_fail_ratio" -> metric(ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio")
    named += "setup_s_all" -> nums(r.setupTimes)
    r.layers.foreach { l =>
      named += "unattributed_job_names" -> JArray(l.unattributed.map(JString(_)).toList)
      named += "bench_check_jobs" -> JInt(l.benchJobs)
    }
    r.overheadS.foreach(s => named += "overhead_call_s" -> nums(s))
    compact(JObject((Seq[(String, JValue)]("detail" -> JString(o.workload), "seed" -> JLong(o.seed),
      "trace" -> JInt(if (o.trace) 1 else 0),
      "failures" -> JArray(ctx.failures.take(10).map(JString(_)).toList)) ++ named).toList))
  }
}
