package graft.cli

import org.apache.spark.sql.functions._

import graft.core.{Fs, GraftSession, Tables}
import graft.recon.{Reconciler, VerdictLedger}
import graft.schema.SchemaReconciler

/** CLI driver — the reference's `main.go` re-expressed over the engine:
  * mode dispatch (`parseMode`, `/root/reference/main.go:25-43`), config
  * check (`/root/reference/config/config.go:66-71`), exit-status bitmask
  * (`/root/reference/status/status.go:22-43`).
  *
  * Modes (exactly one required, as the reference enforces):
  *   --info     dry-run: print per-partition verdicts, mutate nothing
  *              (≙ `copy.Info`, `/root/reference/copy/copy.go:12-137`)
  *   --sync     verdicts + repair the destination
  *              (≙ `copy.Copy`, `/root/reference/copy/copy.go:139-273`)
  *   --version  print version and exit (`/root/reference/version.go:20-23`)
  * Plus `--debug`/`-d` (`/root/reference/main.go:52`): verbose engine
  * logging — Spark log level INFO instead of the default WARN.
  *
  * Usage:
  *   GraftCopy (--info|--sync|--version) <srcDir> <dstDir> <table> <partitionKeyExpr>
  *   GraftCopy (--info|--sync) --config <config.yaml>
  * The config form is the reference's primary UX (`config.yaml` +
  * `config/config.go`): endpoints, check_hashes / skip_delete /
  * skip_reimport / use_virtual_column — see [[YamlConfig]].
  *
  * `use_virtual_column` (reference `copy/copy.go:207-211`, `WHERE
  * _part='<name>'`) scopes work to physical parts instead of logical
  * partitions; the Spark analogue keys on the source FILE NAME via the
  * `_metadata.file_path` pseudo-column, so each source parquet file maps to
  * one dest partition directory and repair touches only the files that
  * changed.
  *
  * Verdict ledger: every verdict pass hashes each side as per-file
  * partials ([[VerdictLedger]]). `--sync` commits them, right after its
  * pass, as `<dstPath>.__graft_verdicts.json` (format `verdict_ledger/1`,
  * beside the table like a writer lease's lock), and any later pass
  * reuses the partials of each file whose path, length and mtime are
  * unchanged, hashing only the others. A re-verify after a sync thus
  * reads only the files the repair wrote. The ledger holds Σ files ×
  * partition keys per file entries over both sides. Trust limit: a rewrite
  * that keeps a file's path, length and mtime goes unseen (the limit the
  * MV freshness guard accepts); delete the ledger file to force a full
  * pass. `--info` reads the ledger and never writes it. Each pass prints
  * one JSON `verdict_pass` record on stdout: per side the files listed,
  * hashed and reused and the rows hashed, and the ledger status (`used`,
  * `none`, `corrupt: <file>`, `plan changed`).
  */
object GraftCopy {

  val Name = "graft-copy"
  val VersionString = "0.1.0"

  /** Exit-status flags OR-ed like the reference bitmask (where, notably,
    * both constants are 1 — `status/status.go:7-10`; ours are distinct). */
  object Status {
    val Ok = 0
    val DataFail = 1
    val HashFail = 2
    val UsageFail = 64
  }

  sealed trait Mode
  case object Info extends Mode
  case object Sync extends Mode
  case object Version extends Mode

  /** `parseMode`: exactly one mode flag, else usage error. */
  def parseMode(args: Seq[String]): Either[String, Mode] = {
    val modes = args.collect {
      case "--info" | "-i" => Info
      case "--sync" | "-s" => Sync
      case "--version" | "-v" => Version
    }
    modes match {
      case Seq(m) => Right(m)
      case Seq() => Left("exactly one of --info/--sync/--version is required")
      case _ => Left("modes are mutually exclusive")
    }
  }

  /** `--debug`/`-d` (reference `main.go:52`): not a mode — composes with
    * any of them. */
  def parseDebug(args: Seq[String]): Boolean =
    args.exists(a => a == "--debug" || a == "-d")

  def main(args: Array[String]): Unit = sys.exit(run(args.toIndexedSeq))

  def run(args: Seq[String]): Int = parseMode(args) match {
    case Left(err) =>
      System.err.println(s"$Name: $err"); Status.UsageFail
    case Right(Version) =>
      println(s"$Name $VersionString"); Status.Ok
    case Right(mode) =>
      val cfgIdx = args.indexOf("--config")
      if (cfgIdx >= 0) {
        if (cfgIdx + 1 >= args.length) {
          System.err.println(s"$Name: --config needs a file path")
          return Status.UsageFail
        }
        YamlConfig.loadWith(args(cfgIdx + 1))(t =>
            YamlConfig.check(YamlConfig.fromText(t))) match {
          case Left(err) =>
            System.err.println(s"$Name: config: $err"); Status.UsageFail
          case Right(cfg) =>
            val spark = GraftSession.local()
            applyDebug(spark, args)
            try runConfigured(spark, cfg, execute = mode == Sync)
            finally spark.stop()
        }
      } else {
        val rest = args.filterNot(_.startsWith("-"))
        if (rest.length != 4) {
          System.err.println(s"$Name: expected <srcDir> <dstDir> <table> <partitionKeyExpr> (or --config <yaml>)")
          return Status.UsageFail
        }
        val Seq(srcDir, dstDir, table, partKey) = rest
        val spark = GraftSession.local()
        applyDebug(spark, args)
        try reconcile(spark, srcDir, dstDir, table, partKey, execute = mode == Sync)
        finally spark.stop()
      }
  }

  private def applyDebug(spark: org.apache.spark.sql.SparkSession,
      args: Seq[String]): Unit =
    spark.sparkContext.setLogLevel(if (parseDebug(args)) "INFO" else "WARN")

  /** Drive a reconcile from a loaded config file — flags map 1:1 onto
    * [[Reconciler.Config]] (`/root/reference/config/config.go:34-37`). */
  def runConfigured(spark: org.apache.spark.sql.SparkSession,
      cfg: YamlConfig.GraftConfig, execute: Boolean): Int = {
    if (cfg.partitionKey.isEmpty && !cfg.useVirtualColumn) {
      System.err.println(s"$Name: config: partition_key is required unless use_virtual_column")
      return Status.UsageFail
    }
    reconcile(spark, cfg.source.dir, cfg.destination.dir, cfg.source.table,
      cfg.partitionKey, execute,
      conf = Reconciler.Config(cfg.checkHashes, cfg.skipDelete, cfg.skipReimport,
        parallelism = cfg.numWorkers),
      byFile = cfg.useVirtualColumn,
      dstTable = cfg.destination.table)
  }

  /** `use_virtual_column` partition key: the source file's name. Dest dirs
    * are keyed by it on write, so the dest side reads its stored `__part`
    * back rather than recomputing (dest file paths differ from source's). */
  private def fileKey: org.apache.spark.sql.Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  def reconcile(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      dstDir: String, table: String, partKey: String, execute: Boolean,
      conf: Reconciler.Config = Reconciler.Config(),
      byFile: Boolean = false,
      dstTable: String = ""): Int = {
    val dTable = if (dstTable.nonEmpty) dstTable else table
    // the source may have changed since an earlier reconcile in this
    // session: list it afresh rather than through the load cache
    Tables.invalidate(srcDir)
    val src = Tables.load(spark, srcDir, table)
    def srcKeyed = if (byFile) src.withColumn("__part", fileKey)
                   else src.withColumn("__part", expr(partKey))
    val flatLayout = Tables.exists(spark, dstDir, dTable)
    if (!flatLayout && !Fs.exists(spark, s"$dstDir/$dTable")) {
      // dest absent entirely -> full copy in sync mode (the degenerate
      // "every partition is missing" case)
      if (execute) {
        srcKeyed
          .write.partitionBy("__part").mode("overwrite").parquet(s"$dstDir/$dTable")
        println(s"[$Name] full copy of $table -> $dstDir/$dTable")
        return Status.Ok
      } else {
        println(s"[$Name] destination missing: would copy everything")
        return Status.DataFail
      }
    }
    val dstPath = if (flatLayout) s"$dstDir/$dTable.parquet" else s"$dstDir/$dTable"
    val dst = spark.read.parquet(dstPath)

    if (byFile && !dst.columns.contains("__part")) {
      // a flat dest has no source-file mapping; sync migrates wholesale,
      // info can only report the mismatch in layout
      if (execute) {
        srcKeyed.write.partitionBy("__part").mode("overwrite").parquet(s"$dstDir/$dTable")
        if (flatLayout) deleteFlat(spark, dstPath)
        println(s"[$Name] migrated destination to per-file layout at $dstDir/$dTable")
        return Status.Ok
      } else {
        println(s"[$Name] destination not in per-file layout: would migrate everything")
        return Status.DataFail
      }
    }

    val (srcSide, dstSide) = sides(src, dst, partKey, byFile)
    val ledgerPath = VerdictLedger.path(dstPath)
    val pass = VerdictLedger.pass(spark, Seq("__part"), srcSide, dstSide, conf,
      ledgerPath, readOnly = !execute)
    val (verdicts, rows) = pass match {
      case Some(p) =>
        println(passRecord(execute, p.status, p.src, p.dst))
        (p.verdicts, p.rows)
      case None =>
        // a key type without a ledger form: the lazy full pass
        val lazyPlan = Reconciler.verdicts(srcSide.df.withColumn("__part", srcSide.keys.head),
          dstSide.df.withColumn("__part", dstSide.keys.head), Seq("__part" -> col("__part")),
          srcSide.cols, dstSide.cols, conf)
        val rows = lazyPlan.orderBy("__part").collect().toSeq
        def all(df: org.apache.spark.sql.DataFrame, rowsCol: String) = {
          val n = graft.core.FileListing.files(df).fold(0)(_.size)
          VerdictLedger.SideStats(n, n, 0, rows.map(_.getAs[Long](rowsCol)).sum)
        }
        println(passRecord(execute, "unsupported key type", all(src, "src_rows"), all(dst, "dst_rows")))
        // the verdict rows are already collected: hand repair a local
        // relation of them, so its filter + collect runs no Spark job
        // (the lazy plan would scan and hash both sides again)
        (spark.createDataFrame(java.util.Arrays.asList(rows: _*), lazyPlan.schema), rows)
    }
    // pre-flight (copy.go:35-41,162-168) — totals derived from the verdict
    // aggregates already on the driver, not two extra full scans
    val (srcTotal, dstTotal) =
      (rows.map(_.getAs[Long]("src_rows")).sum, rows.map(_.getAs[Long]("dst_rows")).sum)
    Reconciler.preflight(srcTotal, dstTotal)
      .foreach(w => println(s"[$Name] warning: $w"))
    rows.foreach { r =>
      println(s"[$Name] part=${r.get(0)} src=${r.get(1)} dst=${r.get(2)} -> ${r.getAs[String]("verdict")}")
    }
    // dest_only partitions are reported but NOT dirty: the reference walks
    // source partitions only and never inspects them (copy.go:170-199), and
    // repair leaves them in place — counting them would make --info fail
    // forever after every successful --sync.
    val dirty = rows.exists { r =>
      val v = r.getAs[String]("verdict")
      v != Reconciler.Verdict.Skip && v != Reconciler.Verdict.DestOnly
    }
    // the ledger of this pass, unless the destination moves away from
    // dstPath (a dirty flat destination is migrated below)
    if (execute && !(flatLayout && dirty)) pass.foreach(p => VerdictLedger.write(spark, ledgerPath, p.ledger))

    if (execute && dirty) {
      val srcForWrite = srcKeyed.select((srcSide.cols :+ col("__part")): _*)
      if (flatLayout) {
        // A single-file destination can't be partition-overwritten in
        // place; migrate it to the partitioned directory layout, then the
        // per-partition repair path applies on every later run.
        val newPath = s"$dstDir/$dTable"
        srcForWrite.write.partitionBy("__part").mode("overwrite").parquet(newPath)
        deleteFlat(spark, dstPath)
        println(s"[$Name] migrated flat destination to partitioned layout at $newPath")
        Status.Ok
      } else {
        // the verdict rows are a local relation: repair's filter + collect
        // runs no Spark job
        val repaired = Reconciler.repair(spark, verdicts, srcForWrite, "__part", dstPath, conf)
        println(s"[$Name] repaired partitions: ${repaired.mkString(", ")}")
        Status.Ok
      }
    } else if (dirty) Status.HashFail
    else Status.Ok
  }

  /** The two sides of a reconcile's verdict pass over the source `src`
    * and the destination `dst`: the key (`partKey` on both sides, or with
    * `use_virtual_column` the source file's name against the stored
    * `__part`), the source's cast columns and the destination's plain
    * ones (B18), intersected by [[SchemaReconciler.castPlan]]. */
  private[cli] def sides(src: org.apache.spark.sql.DataFrame, dst: org.apache.spark.sql.DataFrame,
      partKey: String, byFile: Boolean): (VerdictLedger.Side, VerdictLedger.Side) = {
    val plan = SchemaReconciler.castPlan(src.schema, dst.schema)
    (VerdictLedger.Side(src, Seq(if (byFile) fileKey else expr(partKey)), plan.map(_._2)),
      VerdictLedger.Side(dst, Seq(if (byFile) col("__part") else expr(partKey)), plan.map(p => col(p._1))))
  }

  /** The structured record of one verdict pass: per side, the files
    * listed, hashed and reused from the ledger and the rows hashed, and
    * the ledger status (`used`, `none`, `corrupt: <file>`, `plan changed`,
    * or `unsupported key type` when the pass cannot keep a ledger). */
  private def passRecord(execute: Boolean, status: String,
      src: VerdictLedger.SideStats, dst: VerdictLedger.SideStats): String = {
    val root = Json.createObjectNode()
    root.put("event", "verdict_pass")
    root.put("mode", if (execute) "sync" else "info")
    root.put("ledger", status)
    for ((name, s) <- Seq("src" -> src, "dst" -> dst)) {
      val o = root.putObject(name)
      o.put("files_listed", s.listed)
      o.put("files_hashed", s.hashed)
      o.put("files_reused", s.reused)
      o.put("rows_hashed", s.rowsHashed)
    }
    Json.writeValueAsString(root)
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Remove a migrated flat destination, a single file or a directory of
    * part files. A failed delete throws: a flat copy left behind would be
    * read, and migrated again, by every later run. */
  private def deleteFlat(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.delete(p, true))
      throw new java.io.IOException(s"could not delete the migrated flat destination $path")
    fs.delete(new org.apache.hadoop.fs.Path(VerdictLedger.path(path)), false)
  }
}
