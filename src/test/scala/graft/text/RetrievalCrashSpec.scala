package graft.text

import java.nio.file.{Files, Paths}

import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.core.FaultFs

import scala.jdk.CollectionConverters._

/** Crash points of the persisted BM25 index's mutations: an append, a
  * compaction and a build over a used path, each crashed at every
  * create, rename, delete and mkdirs it makes under the index (its lease
  * lock included), after Pillai et al., "All File Systems Are Not
  * Created Equal" (OSDI 2014).
  *
  * For every N, starting from the same committed index: the operation
  * runs with its N-th mutation failing (and every later one: a killed
  * writer does no cleanup); then (a) a probe reads the pre-op or the
  * post-op index — a build may instead read as no index, never as a
  * partial one — and (b) replaying the operation leaves postings and
  * impacts rows, `meta.json` and probes equal to the no-crash run's. */
class RetrievalCrashSpec extends SparkSpec {
  import spark.implicits._
  import RetrievalCrashSpec.Op

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text").coalesce(1)

  // few distinct terms: each shard's trees touch few bucket directories,
  // which keeps the enumeration small
  private val shard0 = docs(1L -> "the fox and the owl", 2L -> "the owl",
    3L -> "a fox a fox", 4L -> "owl and cat")
  private val shard1 = docs(11L -> "the cat", 12L -> "fox and cat and owl")
  private val shard2 = docs(21L -> "cat cat owl", 22L -> "the fox")
  private val rebuilt = docs(31L -> "owl fox", 32L -> "the cat and the fox",
    33L -> "owl")
  private val Buckets = 2

  private val terms = Seq((1L, "fox"), (1L, "owl"), (2L, "the"), (2L, "cat"))
    .toDF("query_id", "term")

  private val ops = Seq(
    Op("append", idx => Retrieval.buildBm25Index(shard0, "text", "doc_id", idx, Buckets, "s0"),
      idx => Retrieval.appendBm25Index(shard1, "text", "doc_id", idx, "s1")),
    Op("compact", idx => {
        Retrieval.buildBm25Index(shard0, "text", "doc_id", idx, Buckets, "s0")
        Retrieval.appendBm25Index(shard1, "text", "doc_id", idx, "s1")
        Retrieval.appendBm25Index(shard2, "text", "doc_id", idx, "s2")
      },
      idx => Retrieval.compactBm25Index(spark, idx)),
    // the same shard id as the index it replaces: a torn rebuild must not
    // read as the new trees under the old meta
    Op("build over a used path", idx => {
        Retrieval.buildBm25Index(shard0, "text", "doc_id", idx, Buckets)
        Retrieval.appendBm25Index(shard1, "text", "doc_id", idx, "s1")
      },
      idx => Retrieval.buildBm25Index(rebuilt, "text", "doc_id", idx, Buckets),
      mayVanish = true))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def exhaustive(idx: String): Seq[String] =
    rows(Retrieval.queryBm25Index(spark, idx, terms, k = 100))

  /** Both probe paths, or the failure of a probe of no index. */
  private def probe(idx: String): Either[String, Seq[String]] =
    try Right(exhaustive(idx) ++
      rows(Retrieval.queryBm25Index(spark, idx, terms, k = 2, blockMax = true)))
    catch { case e: IllegalStateException => Left(e.getMessage) }

  /** The index as stored: its visible files, each parquet file as its
    * directory and records (file names are random per write, so a
    * directory's records are compared as a multiset), and the meta
    * document. Read without Spark: this runs once per crash point. */
  private def stored(local: String): Seq[String] = {
    val root = Paths.get(local)
    val it = Files.walk(root)
    val files = try it.iterator().asScala.filter(Files.isRegularFile(_)).toList finally it.close()
    files.map(root.relativize(_).toString)
      .filterNot(_.split("/").exists(c => c.startsWith(".") || c.startsWith("_")))
      .flatMap { f =>
        if (!f.endsWith(".parquet")) Seq(s"$f: " + new String(Files.readAllBytes(root.resolve(f)), "UTF-8"))
        else {
          val dir = f.split("/").dropRight(1).mkString("/")
          val r = ParquetReader.builder(new GroupReadSupport(),
            new org.apache.hadoop.fs.Path(root.resolve(f).toUri)).build()
          try Iterator.continually(r.read()).takeWhile(_ != null)
            .map(g => s"$dir: ${g.toString.replace('\n', ' ')}").toList
          finally r.close()
        }
      }.sorted
  }

  test("a crash at every mutation of append, compact and rebuild reads as before or after, and heals on replay") {
    FaultFs.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    try ops.foreach(enumerate) finally spark.sparkContext.setLogLevel("INFO")
  }

  private def enumerate(op: Op): Unit = {
    val local = tmpDir("bm25_crash")
    // the index lives at <work>/idx; its lease lock is <work>/idx.__writer.lock
    val mid = s"$local/mid"
    op.setup(FaultFs.uri(s"$mid/idx"))
    val pre = probe(FaultFs.uri(s"$mid/idx"))
    assert(pre.isRight, s"${op.name}: $pre")
    val ref = s"$local/ref"
    FaultFs.copyTree(mid, ref)
    val (_, mutations) = FaultFs.recording(op.run(FaultFs.uri(s"$ref/idx")))
    val n = mutations.count(_.paths.exists(FaultFs.under(_, ref)))
    val post = probe(FaultFs.uri(s"$ref/idx"))
    val refStored = stored(s"$ref/idx")
    assert(n > 0 && post.isRight, s"${op.name}: $n mutations, $post")
    val postExhaustive = exhaustive(FaultFs.uri(s"$ref/idx"))
    if (op.name != "compact") assert(pre != post, s"${op.name} changed no probe")

    val t0 = System.nanoTime()
    val work = s"$local/work"
    val idx = FaultFs.uri(s"$work/idx")
    for (k <- 1 to n) {
      val at = s"${op.name} crashed at mutation $k of $n"
      try {
        FaultFs.restore(mid, work)
        val (_, fault) = FaultFs.armed(FaultFs.under(_, work), k)(op.run(idx))
        assert(fault.tripped, s"$at: never reached")
        // a killed process runs nothing more: wait out the failed jobs'
        // straggling tasks before anything reads or replays
        while (spark.sparkContext.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum > 0)
          Thread.sleep(10)
        // (a) the index reads as before or after the operation
        val seen = probe(idx)
        assert(seen == pre || seen == post ||
          op.mayVanish && seen.left.exists(_.startsWith("no BM25 index")),
          s"$at: the probe reads neither state: $seen")
        // (b) the replay leaves what the no-crash run left: the same rows
        // and meta (so the same probes; the exhaustive one is checked)
        op.run(idx)
        assert(exhaustive(idx) == postExhaustive, at)
        val healed = stored(s"$work/idx")
        assert(healed == refStored, s"$at: the index differs after the replay:\n" +
          healed.diff(refStored).take(5).mkString("\n") + "\nwanted:\n" +
          refStored.diff(healed).take(5).mkString("\n"))
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable => throw new AssertionError(s"$at: $e", e)
      }
    }
    System.err.println(f"[crash-enum] bm25 ${op.name}: $n crash points " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

object RetrievalCrashSpec {
  /** One mutation under test: the committed index it starts from and the
    * call. `mayVanish`: a crash may leave no committed index. */
  private final case class Op(name: String, setup: String => Unit, run: String => Unit,
      mayVanish: Boolean = false)
}
