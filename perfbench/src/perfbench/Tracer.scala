package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Per-layer attribution for a traced run.
  *
  * Each Spark job counts toward the graft module of the innermost `graft.`
  * frame in its SQL execution's call site
  * (`SparkListenerSQLExecutionStart.details`, keyed by the job's
  * `spark.sql.execution.id`). Stage call sites are no use here: a job that
  * adaptive execution submits carries a stage call site from its
  * completion thread, not from graft. A job with no SQL execution (file
  * listing, footer reads) falls back to its stage call site. A job whose
  * call site holds no graft frame at all was issued by the benchmark
  * itself on a DataFrame a graft call returned; it counts toward the
  * module of the enclosing span (see [[span]]).
  *
  * Catalyst phase times come from a `QueryExecutionListener` reading
  * `QueryExecution.tracker`. Spans are kept in memory and written out when
  * the run ends. Only jobs and queries that run inside an operation
  * ([[op]]) are counted; set-up and output checks are not. */
final class Tracer(val modules: Seq[String]) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final case class Job(id: Int, start: Long, execId: Option[Long], stageSite: String,
      name: String, span: String, spanModule: String, op: Int) {
    var end: Long = -1L
  }
  final class StageAcc { var taskMs = 0L; var shuffleBytes = 0L; var outputBytes = 0L }
  final case class Span(id: Int, name: String, module: String, parent: Int, op: Int,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val execSite = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val queries = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planMs)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextSpan = 0
  private var openSpan = -1
  private var currentOp = -1

  // ---- SparkListener -------------------------------------------------------

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized { execSite(e.executionId) = e.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val job = Job(e.jobId, e.time,
      prop("spark.sql.execution.id").map(_.toLong),
      first.map(_.details).getOrElse(""), first.map(_.name).getOrElse(""),
      prop(SpanKey).getOrElse(""), prop(ModuleKey).getOrElse(""),
      prop(OpKey).map(_.toInt).getOrElse(-1))
    jobs(e.jobId) = job
    // a stage belongs to the first job that lists it; later jobs skip it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  // ---- QueryExecutionListener ----------------------------------------------

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      queries += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  // ---- spans (benchmark thread) ----------------------------------------------

  /** A named span around one public call; jobs started inside carry its
    * name and module as Spark local properties (inherited by the threads
    * the call starts). */
  def span[T](spark: SparkSession, name: String, module: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (prevS, prevM) = (sc.getLocalProperty(SpanKey), sc.getLocalProperty(ModuleKey))
    val id = nextSpan
    nextSpan += 1
    val parent = openSpan
    openSpan = id
    sc.setLocalProperty(SpanKey, name)
    sc.setLocalProperty(ModuleKey, module)
    val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      spans += Span(id, name, module, parent, currentOp, t0, System.nanoTime(), w0,
        System.currentTimeMillis())
      openSpan = parent
      sc.setLocalProperty(SpanKey, prevS)
      sc.setLocalProperty(ModuleKey, prevM)
    }
  }

  /** One operation of the closed loop. Jobs it starts outside any call
    * span are the benchmark's own output checks. */
  def op[T](spark: SparkSession, index: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, index.toString)
    currentOp = index
    try span(spark, OpSpan, "")(body)
    finally {
      currentOp = -1
      sc.setLocalProperty(OpKey, null)
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stop listening, once every event posted so far has been seen. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ---- attribution ---------------------------------------------------------

  /** Innermost frame of a call site that lies in one of [[modules]]. */
  def moduleOf(site: String): Option[String] =
    site.split("\n").iterator.flatMap(l => FrameRe.findFirstMatchIn(l).map(_.group(1)))
      .find(modules.contains)

  /** Module of a job, or None for a job nothing names (file listing or
    * schema inference issued by Spark itself). */
  def moduleOfJob(j: Job): Option[String] = synchronized {
    val viaExec = j.execId.flatMap(execSite.get).flatMap(moduleOf)
    viaExec.orElse(moduleOf(j.stageSite))
      .orElse(Option(j.spanModule).filter(modules.contains))
  }

  final case class Layers(
      values: Map[String, Double],
      unattributed: Seq[String],
      benchJobs: Int)

  /** Per-layer totals of operation `op`. Time windows are its top-level
    * call spans. */
  def layers(op: Int): Layers = synchronized {
    val opSpans = spans.filter(s => s.name == OpSpan && s.op == op)
    val calls = spans.filter(s => opSpans.exists(_.id == s.parent)).toSeq
    val inOps = jobs.values.filter(_.op == op).toSeq
    val (checks, work) = inOps.partition(j => j.span == OpSpan || j.span.isEmpty)
    val acc = mutable.LinkedHashMap.empty[String, Double]
    for (m <- modules; k <- Seq("jobs", "job_ms", "task_ms", "shuffle_bytes", "output_bytes"))
      acc(s"$m.$k") = 0.0
    val unattributed = mutable.ArrayBuffer.empty[String]
    work.foreach { j =>
      moduleOfJob(j) match {
        case Some(m) =>
          acc(s"$m.jobs") += 1
          if (j.end >= j.start) acc(s"$m.job_ms") += (j.end - j.start)
          stageJob.collect { case (s, jid) if jid == j.id => s }.foreach { s =>
            stages.get(s).foreach { a =>
              acc(s"$m.task_ms") += a.taskMs
              acc(s"$m.shuffle_bytes") += a.shuffleBytes
              acc(s"$m.output_bytes") += a.outputBytes
            }
          }
        case None => unattributed += j.name
      }
    }
    val inCalls = queries.filter { case (t, _) => calls.exists(c => t >= c.startMs && t <= c.endMs) }
    acc("catalyst.plan_ms") = inCalls.map(_._2).sum.toDouble
    acc("catalyst.queries") = inCalls.size.toDouble
    acc("driver.gap_ms") = calls.map { c =>
      val ivs = work.filter(_.op == c.op).map(j =>
        (math.max(j.start, c.startMs), math.min(if (j.end >= 0) j.end else c.endMs, c.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var upTo = c.startMs
      ivs.foreach { case (a, b) =>
        val s = math.max(a, upTo)
        if (b > s) { covered += b - s; upTo = b }
      }
      (c.endMs - c.startMs - covered).toDouble
    }.sum
    Layers(acc.toMap ++ Map("unattributed.jobs" -> unattributed.size.toDouble),
      unattributed.distinct.toSeq, checks.size)
  }

  /** Self time in operation `op` of each named call span, summed over
    * the calls of that name: its duration minus the part its child spans
    * cover. */
  def selfMs(op: Int): Map[String, Double] = synchronized {
    spans.filter(s => s.op == op && s.name != OpSpan).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val child = spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - child) / 1e6
      }.sum
    }
  }

  /** Spans as JSON lines (one object per span), for writing out at the end. */
  def spansJson: Seq[String] = synchronized {
    spans.map { s =>
      compact(JObject("id" -> JInt(s.id), "name" -> JString(s.name),
        "module" -> JString(s.module), "parent" -> JInt(s.parent),
        "op" -> JInt(s.op), "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs)))
    }.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val ModuleKey = "perfbench.module"
  val OpKey = "perfbench.op"
  val OpSpan = "op"
  /** `graft.<module>.` at the start of a frame, after any class-loader
    * or module prefix `StackTraceElement.toString` may add. */
  private val FrameRe = """(?:^|[\s/])graft\.([a-z][a-z0-9_]*)\.""".r
}
