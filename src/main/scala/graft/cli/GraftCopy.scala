package graft.cli

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}
import graft.recon.Reconciler
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
    if (!Tables.exists(dstDir, dTable) && !new java.io.File(s"$dstDir/$dTable").exists()) {
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
    val flatLayout = Tables.exists(dstDir, dTable)
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

    // schema reconciliation: intersected columns, casts planned once
    val plan = SchemaReconciler.castPlan(src.schema, dst.schema)
    val commonCols = plan.map(_._1)
    val srcCast = plan.map(_._2) // B18: source side hashes cast expressions
    val dstCols = commonCols.map(col)

    val srcK = srcKeyed
    val dstK = if (byFile) dst else dst.withColumn("__part", expr(partKey))
    val verdicts = Reconciler.verdicts(
      srcK, dstK, Seq("__part" -> col("__part")), srcCast, dstCols, conf)

    val rows = verdicts.orderBy("__part").collect()
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

    if (execute && dirty) {
      val srcForWrite = srcK.select((srcCast :+ col("__part")): _*)
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
        // the verdict rows are already collected: hand repair a local
        // relation of them, so its filter + collect runs no Spark job
        // (the lazy `verdicts` plan would scan and hash both sides again)
        val collected = spark.createDataFrame(java.util.Arrays.asList(rows: _*), verdicts.schema)
        val repaired = Reconciler.repair(spark, collected, srcForWrite, "__part", dstPath, conf)
        println(s"[$Name] repaired partitions: ${repaired.mkString(", ")}")
        Status.Ok
      }
    } else if (dirty) Status.HashFail
    else Status.Ok
  }

  /** Remove a migrated flat destination, a single file or a directory of
    * part files. A failed delete throws: a flat copy left behind would be
    * read, and migrated again, by every later run. */
  private def deleteFlat(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.delete(p, true))
      throw new java.io.IOException(s"could not delete the migrated flat destination $path")
  }
}
