package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: the session, its scratch
  * directory, the seed, the samples it timed and the checks it made.
  *
  * The load is one client in a closed loop: an operation starts only when
  * the previous one has returned, on this thread. */
final class Ctx(
    val spark: SparkSession,
    val sfDir: String,
    val work: String,
    val seed: Long) {

  /** Set while the tracer is attached. */
  var tracer: Option[Tracer] = None

  /** Timed samples in seconds, by call name, in the order taken. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty

  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Extra named figures a workload reports beside its samples. */
  val figures: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  /** Whether timed samples are being kept (false while warming up). */
  var recording = true

  /** Seconds spent in outermost calls so far: the time of the public
    * calls an operation makes, without its untimed restores and checks. */
  var callSeconds = 0.0
  private var depth = 0

  /** Run `body` as one call of the workload: time it, keep the sample
    * under `name` and, when tracing, open a span tagged with the graft
    * module the call enters. */
  def call[T](name: String, module: String)(body: => T): T = {
    val t0 = System.nanoTime()
    depth += 1
    val out = try tracer match {
      case Some(t) => t.span(spark, name, module)(body)
      case None => body
    } finally depth -= 1
    val s = (System.nanoTime() - t0) / 1e9
    if (depth == 0) callSeconds += s
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    out
  }

  /** One closed-loop operation. An exception or a failed check counts it
    * as failed; the loop goes on. */
  def op(index: Int)(body: OpChecks => Unit): Unit = {
    attempted += 1
    val checks = new OpChecks
    try tracer match {
      case Some(t) => t.op(spark, index)(body(checks))
      case None => body(checks)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        checks.fail(s"op $index threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (checks.errors.nonEmpty) {
      failed += 1
      failures ++= checks.errors.take(3)
    }
  }

  def dir(parts: String*): String = (work +: parts).mkString(File.separator)
}

/** Output checks of one operation. */
final class OpChecks {
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def fail(msg: String): Unit = errors += msg
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

/** Local-filesystem helpers; every path stays under the run's work dir. */
object Files2 {
  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Regular files under `root`, relative path -> size in bytes. */
  def listing(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else Files.walk(r).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => r.relativize(p).toString -> Files.size(p)).toMap
  }

  def bytes(root: String): Long = listing(root).values.sum

  def isData(rel: String): Boolean = {
    val name = Paths.get(rel).getFileName.toString
    name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")
  }

  /** Row count of parquet files read from their footers (no Spark job). */
  def parquetRows(files: Iterable[Path]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.iterator.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
