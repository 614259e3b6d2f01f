package graft.cli

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cli.GraftCopy.Status
import graft.core.Tables
import graft.fp.Fingerprint
import graft.recon.{Reconciler, VerdictLedger}

/** The verdict ledger of `GraftCopy --sync`: a later pass reuses the
  * per-file partials of unchanged files and still decides exactly as a
  * full pass does. */
class GraftCopyLedgerSpec extends SparkSpec {

  private val Key = "date_format(l_shipdate, 'yyyyMM')"

  private lazy val li = spark.read.parquet(s"$sf001/lineitem.parquet")

  /** A source dir whose lineitem table is `n` files. */
  private def source(n: Int): String = {
    val src = tmpDir("ledger-src")
    li.repartition(n).write.parquet(s"$src/lineitem.parquet")
    src
  }

  private def run(src: String, dst: String, execute: Boolean, key: String = Key,
      byFile: Boolean = false): CopyRun.Run = CopyRun(spark, src, dst, execute, key, byFile)

  private def dstPath(dst: String): String = CopyRun.dstPath(spark, dst)

  private def passes(src: String, dst: String, key: String = Key,
      byFile: Boolean = false): (VerdictLedger.Pass, Seq[Row]) = CopyRun.passes(spark, src, dst, key, byFile)

  private def side(r: CopyRun.Run, name: String, field: String): Long = r.side(name, field)

  private def partDirs(dst: String): Seq[JPath] =
    Files.list(Paths.get(s"$dst/lineitem")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__part=")).toSeq.sortBy(_.toString)

  private def dataFiles(dir: JPath): Seq[JPath] =
    Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)

  private def deleteTree(dir: JPath): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Replace the data of a partition directory by `f` of its rows (a new
    * file name, as a writer makes). */
  private def rewrite(dir: JPath)(f: DataFrame => DataFrame): Unit = {
    val tmp = s"${tmpDir("ledger-rewrite")}/t"
    f(spark.read.parquet(dir.toString)).coalesce(1).write.parquet(tmp)
    dataFiles(dir).foreach(Files.delete)
    dataFiles(Paths.get(tmp)).foreach(p => Files.move(p, dir.resolve(p.getFileName)))
  }

  /** Sync `dst` to `src` twice (the second pass writes the ledger). */
  private def synced(src: String, dst: String, key: String = Key, byFile: Boolean = false): Unit = {
    assert(run(src, dst, execute = true, key, byFile).status == Status.Ok)
    val second = run(src, dst, execute = true, key, byFile)
    assert(second.status == Status.Ok && second.record.get("ledger").asText == "none", second)
    assert(Files.exists(Paths.get(VerdictLedger.path(dstPath(dst)))))
  }

  /** After `damage`, the ledger pass reuses the unchanged files and gives
    * the full pass's verdict rows, and --info reports them. */
  private def agrees(name: String, src: String, dst: String, key: String = Key,
      byFile: Boolean = false)(damage: => Unit): Seq[Row] = {
    damage
    val (pass, full) = passes(src, dst, key, byFile)
    assert(pass.status == "used", name)
    assert(pass.src.reused == pass.src.listed && pass.dst.reused > 0, s"$name: ${pass.dst}")
    assert(pass.rows == full, s"$name:\n${pass.rows.mkString("\n")}\nfull pass:\n${full.mkString("\n")}")
    assert(full.exists(_.getAs[String]("verdict") != Reconciler.Verdict.Skip), s"$name: no damage seen")
    val info = run(src, dst, execute = false, key, byFile)
    assert(info.verdicts == full.map(CopyRun.line), name)
    assert(side(info, "dst", "files_hashed") == pass.dst.hashed, name)
    full
  }

  test("per-file partials merge to the per-partition fingerprints on both sides") {
    val src = source(3)
    val dst = tmpDir("ledger-merge")
    synced(src, dst)
    val (s, d) = GraftCopy.sides(Tables.load(spark, src, "lineitem"),
      spark.read.parquet(s"$dst/lineitem"), Key, byFile = false)
    for (side <- Seq(s, d)) {
      val keys = Seq("__part" -> side.keys.head)
      val files = Fingerprint.byFile(side.df, keys, side.cols)
      assert(files.select(Fingerprint.FileCol).distinct().count() > 1)
      val merged = files.groupBy("__part").agg(sum("rows").as("rows"), bit_xor(col("fp")).as("fp"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val whole = Fingerprint.byPartition(side.df, keys, side.cols)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(merged == whole)
    }
  }

  test("the ledger pass equals the ledger-free full pass on every planted case") {
    val src = source(3)
    val dst = tmpDir("ledger-cases")
    synced(src, dst)
    val parts = partDirs(dst)
    agrees("missing partition", src, dst) {
      deleteTree(parts(0))
    }
    agrees("rows dropped", src, dst)(rewrite(parts(1))(_.filter("l_linenumber != 1")))
    agrees("value bumped", src, dst)(rewrite(parts(2))(_.withColumn("l_quantity",
      when(col("l_linenumber") === 2, col("l_quantity") + 1).otherwise(col("l_quantity")))))
    val full = agrees("dest-only partition", src, dst) {
      li.limit(5).withColumn("l_shipdate", lit("2029-01-15 00:00:00").cast("timestamp_ntz"))
        .withColumn("__part", expr(Key))
        .write.mode("append").partitionBy("__part").parquet(s"$dst/lineitem")
    }
    assert(full.map(_.getAs[String]("verdict")).toSet == Set("skip", "copy", "delete_recopy", "dest_only"))
    // the sync repairs from the ledger pass, and the next pass is clean
    assert(run(src, dst, execute = true).status == Status.Ok)
    val clean = run(src, dst, execute = false)
    assert(clean.status == Status.Ok && clean.record.get("ledger").asText == "used")
  }

  test("an int partition key with a null key round-trips through the ledger with its type") {
    val src = source(2)
    val dst = tmpDir("ledger-int")
    val key = "CASE WHEN l_linenumber = 7 THEN NULL ELSE CAST(l_linenumber AS INT) END"
    synced(src, dst, key)
    val (pass, _) = passes(src, dst, key)
    assert(pass.status == "used" && pass.dst.hashed == 0 && pass.src.hashed == 0)
    assert(pass.verdicts.schema("__part").dataType == org.apache.spark.sql.types.IntegerType)
    assert(pass.rows.exists(_.isNullAt(0)) && pass.rows.forall(_.getAs[String]("verdict") == "skip"))
    val nullDir = partDirs(dst).find(_.toString.endsWith("__HIVE_DEFAULT_PARTITION__")).get
    val rows = agrees("null partition rows dropped", src, dst, key)(rewrite(nullDir)(_.limit(3)))
    assert(rows.filter(_.isNullAt(0)).map(_.getAs[String]("verdict")) == Seq("delete_recopy"))
  }

  test("a key whose partition directories are escaped (':' is stored as %3A)") {
    val src = source(2)
    val dst = tmpDir("ledger-escaped")
    val key = "date_format(l_shipdate, 'yyyy:MM')"
    synced(src, dst, key)
    assert(partDirs(dst).head.getFileName.toString.contains("%3A"))
    agrees("escaped partition rows dropped", src, dst, key)(rewrite(partDirs(dst)(4))(_.limit(2)))
  }

  test("use_virtual_column: the ledger pass keys by source file and agrees with the full pass") {
    val src = source(4)
    val dst = tmpDir("ledger-byfile")
    synced(src, dst, "", byFile = true)
    val victim = partDirs(dst).head
    agrees("a file's partition emptied", src, dst, "", byFile = true)(dataFiles(victim).foreach(Files.delete))
  }

  test("a flat destination keeps a ledger beside its flat table") {
    val src = source(3)
    val dst = tmpDir("ledger-flat")
    li.repartition(3).write.parquet(s"$dst/lineitem.parquet")
    val first = run(src, dst, execute = true)
    assert(first.status == Status.Ok && first.record.get("ledger").asText == "none")
    assert(Files.exists(Paths.get(s"$dst/lineitem.parquet.__graft_verdicts.json")))
    agrees("flat table grew a file", src, dst) {
      li.limit(4).write.mode("append").parquet(s"$dst/lineitem.parquet")
    }
    // the dirty sync migrates the flat table and removes its ledger
    assert(run(src, dst, execute = true).status == Status.Ok)
    assert(!Files.exists(Paths.get(s"$dst/lineitem.parquet")))
    assert(!Files.exists(Paths.get(s"$dst/lineitem.parquet.__graft_verdicts.json")))
    assert(run(src, dst, execute = false).status == Status.Ok)
  }

  test("a key type without a ledger form takes the lazy full pass and keeps no ledger") {
    val src = source(2)
    val dst = tmpDir("ledger-binary")
    li.repartition(2).write.parquet(s"$dst/lineitem.parquet")
    val key = "CAST(l_returnflag AS BINARY)"
    for (execute <- Seq(false, true)) {
      val r = run(src, dst, execute, key)
      assert(r.status == Status.Ok && r.ledger == "unsupported key type", r.record)
      assert(side(r, "dst", "files_hashed") == 2 && side(r, "dst", "rows_hashed") == li.count())
    }
    assert(!Files.exists(Paths.get(s"$dst/lineitem.parquet.__graft_verdicts.json")))
  }

  test("a damaged file with a new mtime is re-hashed and caught") {
    val src = source(2)
    val dst = tmpDir("ledger-mtime")
    synced(src, dst)
    val dir = partDirs(dst)(3)
    val victim = dataFiles(dir).head
    val mtime = Files.getLastModifiedTime(victim).toMillis
    val tmp = s"${tmpDir("ledger-bump")}/t"
    spark.read.parquet(dir.toString).withColumn("l_quantity", col("l_quantity") + 1)
      .coalesce(1).write.parquet(tmp)
    Files.copy(dataFiles(Paths.get(tmp)).head, victim, StandardCopyOption.REPLACE_EXISTING)
    Files.delete(victim.resolveSibling(s".${victim.getFileName}.crc"))
    Files.setLastModifiedTime(victim, java.nio.file.attribute.FileTime.fromMillis(mtime + 10000))
    val info = run(src, dst, execute = false)
    assert(info.status == Status.HashFail)
    assert(side(info, "dst", "files_hashed") == 1 && side(info, "src", "files_hashed") == 0)
    val part = dir.getFileName.toString.stripPrefix("__part=")
    assert(info.verdicts.filterNot(_.endsWith("-> skip")).map(_.split(" ")(1)) == Seq(s"part=$part"))
  }

  test("a missing, corrupt or plan-mismatched ledger gives a full pass that names its reason") {
    val src = source(2)
    val dst = tmpDir("ledger-reason")
    synced(src, dst)
    val ledger = Paths.get(VerdictLedger.path(s"$dst/lineitem"))
    def fullPass(r: CopyRun.Run, reason: String): Unit = {
      assert(r.record.get("ledger").asText == reason, r.record)
      for (s <- Seq("src", "dst"))
        assert(side(r, s, "files_hashed") == side(r, s, "files_listed") && side(r, s, "files_reused") == 0)
      assert(r.status == Status.Ok)
    }
    val used = run(src, dst, execute = false)
    assert(used.record.get("ledger").asText == "used" && side(used, "dst", "files_hashed") == 0)
    // plan mismatch: another key expression, or another cast plan
    fullPass(run(src, dst, execute = false, key = "date_format(l_shipdate, 'yyyyMM') || ''"), "plan changed")
    val src2 = tmpDir("ledger-src-cast")
    spark.read.parquet(s"$src/lineitem.parquet").withColumn("l_linenumber", col("l_linenumber").cast("bigint"))
      .write.parquet(s"$src2/lineitem.parquet")
    fullPass(run(src2, dst, execute = false), "plan changed")
    // a truncated ledger is corrupt: named, never trusted, left as it is by --info
    val bytes = Files.readAllBytes(ledger)
    Files.write(ledger, bytes.take(bytes.length / 2))
    fullPass(run(src, dst, execute = false), s"corrupt: ${VerdictLedger.path(s"$dst/lineitem")}")
    assert(Files.readAllBytes(ledger).sameElements(bytes.take(bytes.length / 2)))
    // a sync replaces it
    fullPass(run(src, dst, execute = true), s"corrupt: ${VerdictLedger.path(s"$dst/lineitem")}")
    assert(run(src, dst, execute = false).record.get("ledger").asText == "used")
    Files.delete(ledger)
    fullPass(run(src, dst, execute = false), "none")
  }

  test("--info leaves the ledger's bytes and mtime unchanged and creates no file beside the destination") {
    val src = source(2)
    val dst = tmpDir("ledger-info")
    synced(src, dst)
    dataFiles(partDirs(dst).head).foreach(Files.delete)
    def state() = Files.walk(Paths.get(dst)).iterator().asScala.toSeq.sortBy(_.toString).map { p =>
      (p.toString, Files.getLastModifiedTime(p).toMillis,
        if (Files.isRegularFile(p)) java.util.Arrays.hashCode(Files.readAllBytes(p)) else 0)
    }
    val before = state()
    val info = run(src, dst, execute = false)
    assert(info.status == Status.HashFail && info.record.get("ledger").asText == "used")
    assert(state() == before)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("a partly reused side scans only its fresh files; a wholly reused side is not scanned") {
    val src = source(3)
    val dst = tmpDir("ledger files ") // a space: the scan's file paths are not URI-encoded
    synced(src, dst)
    // a repair writes new files into two partitions
    val Seq(a, b) = partDirs(dst).take(2)
    deleteTree(a)
    rewrite(b)(_.filter("l_linenumber != 1"))
    assert(run(src, dst, execute = true).status == Status.Ok)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
          files.synchronized(files += (s.relation.location.rootPaths.head.toUri.getPath ->
            s.metrics("numFiles").value))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val info = try { val r = run(src, dst, execute = false); ListenerBus.drain(spark.sparkContext); r }
      finally spark.listenerManager.unregister(listener)
    assert(info.status == Status.Ok)
    // the files the repair wrote: exactly those hashed, with their rows
    val written = (dataFiles(a) ++ dataFiles(b)).map(_.toString)
    assert(side(info, "dst", "files_hashed") == written.size)
    assert(side(info, "dst", "files_reused") == side(info, "dst", "files_listed") - written.size)
    assert(side(info, "dst", "rows_hashed") == spark.read.parquet(written: _*).count())
    assert(side(info, "src", "files_hashed") == 0 && side(info, "src", "rows_hashed") == 0)
    assert(files.toSeq == Seq(s"$dst/lineitem" -> written.size.toLong), files)
  }
}
