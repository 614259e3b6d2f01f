package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cli.GraftCopy.Status
import graft.core.FaultFs
import graft.recon.Reconciler.Verdict

/** Crash points of `GraftCopy --sync` over a destination that has a
  * verdict ledger, enumerated over every filesystem mutation of the sync:
  * the ledger commit and the repair's dynamic partition overwrite. For
  * each N the sync of the same damaged destination is killed at its N-th
  * create/rename/delete/mkdirs (every later one fails too: a killed
  * writer does no cleanup). Then
  *  - (a) `--info` on the crashed tree mutates nothing and reports the
  *    verdict rows of a ledger-free full pass over that tree, and the
  *    ledger pass's rows, fingerprints included, are that pass's rows;
  *  - (b) a further `--sync` and `--info` end `Ok` with every partition
  *    `skip` except the destination-only one. */
class SyncCrashSpec extends SparkSpec {

  private val Key = "date_format(l_shipdate, 'yyyyMM')"

  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val it = Files.walk(Paths.get(dir))
    try it.iterator().asScala.toList finally it.close()
  }
  private def state(dir: String): Seq[(String, Long, Long)] =
    walk(dir).map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).sortBy(_._1)

  /** Wait until no task of the job group's jobs is running: a failed
    * job's other tasks are killed, and a killed task still cleans up. A
    * killed process does not, so they must finish while the fault is armed. */
  private def quiesce(group: String): Unit = {
    val st = spark.sparkContext.statusTracker
    def busy = st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo(_).toSeq)
      .flatMap(_.stageIds.toSeq).flatMap(st.getStageInfo(_).toSeq).exists(_.numActiveTasks > 0)
    while (busy) Thread.sleep(20)
  }

  test("a --sync with a ledger, crashed at every mutation: --info reads the tree exactly, a further --sync heals it") {
    FaultFs.install(spark)
    // hundreds of Spark jobs: their INFO lines would dominate the run
    spark.sparkContext.setLogLevel("WARN")
    try enumerate() finally spark.sparkContext.setLogLevel("INFO")
  }

  private def enumerate(): Unit = {
    val local = tmpDir("sync_crash")
    val src = s"$local/src"
    // eight months of lineitem in two source files
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.filter(expr(Key).between("199601", "199608")).repartition(2)
      .write.parquet(s"$src/lineitem.parquet")
    def run(dir: String, execute: Boolean) = CopyRun(spark, src, FaultFs.uri(dir), execute, Key)

    // A damaged destination with the ledger of a clean sync, built in each
    // worker's own dir (the ledger records absolute paths) and saved beside
    // it; every crash point restores the saved copy, mtimes included.
    def damaged(dir: String): Unit = {
      assert(run(dir, execute = true).status == Status.Ok)
      assert(run(dir, execute = true).ledger == "none")
      val table = s"$dir/lineitem"
      walk(s"$table/__part=199602").reverse.foreach(Files.delete)
      val divergent = s"$table/__part=199605"
      val kept = spark.read.parquet(divergent).filter("l_linenumber != 1")
      kept.coalesce(1).write.parquet(s"$dir-divergent")
      walk(divergent).filter(Files.isRegularFile(_)).foreach(Files.delete)
      walk(s"$dir-divergent").filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .foreach(p => Files.move(p, Paths.get(divergent).resolve(p.getFileName)))
      li.limit(3).withColumn("l_shipdate", lit("2029-01-15 00:00:00").cast("timestamp_ntz"))
        .withColumn("__part", expr(Key))
        .write.mode("append").partitionBy("__part").parquet(FaultFs.uri(table))
    }
    val destOnly = "202901"
    val workers = 3
    graft.core.Par.all((0 until workers).map { i => () =>
      damaged(s"$local/work_$i")
      FaultFs.restore(s"$local/work_$i", s"$local/work_$i-saved")
    })
    // each worker's no-crash sync: its mutations (one recording at a time)
    val counts = (0 until workers).map { i =>
      val dir = s"$local/work_$i"
      val (ref, mutations) = FaultFs.recording(run(dir, execute = true))
      assert(ref.status == Status.Ok && ref.ledger == "used", ref)
      assert(ref.side("src", "files_reused") == 2 && ref.side("dst", "files_hashed") == 2, ref.record)
      assert(ref.verdicts.count(!_.endsWith("-> skip")) == 3, ref.verdicts)
      val mine = mutations.filter(_.paths.exists(FaultFs.under(_, dir)))
      assert(mine.exists(_.paths.exists(_.endsWith(".__graft_verdicts.json"))), "no ledger commit")
      assert(mine.exists(_.paths.exists(_.contains("/lineitem/__part="))), "no repair")
      mine.size
    }
    assert(counts.distinct.size == 1, counts)
    val n = counts.head

    val t0 = System.nanoTime()
    val points = new java.util.concurrent.ConcurrentLinkedQueue[Integer]((1 to n).map(Int.box).asJava)
    @volatile var failed = false
    def worker(i: Int)(): Unit = {
      val dir = s"$local/work_$i"
      val group = s"sync-crash-$i"
      spark.sparkContext.setJobGroup(group, "sync crash points", interruptOnCancel = false)
      try Iterator.continually(points.poll()).takeWhile(k => k != null && !failed).foreach { k =>
        val at = s"sync crashed at mutation $k of $n"
        FaultFs.restore(s"$dir-saved", dir)
        val (_, fault) = FaultFs.armed(FaultFs.under(_, dir), k)(
          try run(dir, execute = true) finally quiesce(group))
        assert(fault.tripped, s"$at: never reached")
        // (a) --info reads the crashed tree exactly and mutates nothing
        val before = state(dir)
        val info = run(dir, execute = false)
        assert(state(dir) == before, s"$at: --info mutated the tree")
        val (pass, full) = CopyRun.passes(spark, src, FaultFs.uri(dir), Key)
        assert(pass.rows == full, s"$at: the ledger pass differs from the full pass")
        assert(info.verdicts == full.map(CopyRun.line), s"$at: --info differs from the full pass")
        val dirty = full.exists(r => !Set(Verdict.Skip, Verdict.DestOnly)(r.getAs[String]("verdict")))
        assert(info.status == (if (dirty) Status.HashFail else Status.Ok), at)
        // (b) a further --sync heals it
        assert(run(dir, execute = true).status == Status.Ok, at)
        val healed = run(dir, execute = false)
        assert(healed.status == Status.Ok, at)
        val notSkip = healed.verdicts.filterNot(_.endsWith("-> skip"))
        assert(notSkip == Seq(s"[graft-copy] part=$destOnly src=0 dst=3 -> dest_only"), s"$at: $notSkip")
      } catch { case e: Throwable => failed = true; throw e }
    }
    graft.core.Par.all((0 until workers).map(worker))
    System.err.println(f"[crash-enum] $n sync crash points in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
