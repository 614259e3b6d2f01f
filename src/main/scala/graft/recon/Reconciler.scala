package graft.recon

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fp.Fingerprint

/** The reconciliation engine — the reference's heart
  * (`/root/reference/copy/copy.go:194-271` sync, `:67-132` info/dry-run),
  * re-architected set-based for scale.
  *
  * The reference loops partitions on the driver, issuing 2 fingerprint
  * queries per partition (2×P table scans server-side). At 100 TB / 10k
  * partitions that is 20k scans. Here both sides are aggregated ONCE —
  * `groupBy(partitionKey).agg(count, bit_xor(xxhash64(cols)))` per side (one
  * map-side-combined shuffle each, 16 bytes per partition out), then a
  * single join on the partition key produces every verdict at once. The
  * join is tiny (P rows) — Spark broadcasts it automatically under AQE.
  *
  * Decision ladder (`/root/reference/copy/copy.go:237-266`):
  *   dst rows == 0            → COPY      (cheap-check short-circuit `:215,262-266`)
  *   fingerprints+counts equal→ SKIP      (`:258-260`)
  *   differ, dst present      → DELETE_RECOPY (`:246-257`, honouring
  *                              skip_delete / skip_reimport
  *                              `/root/reference/config/config.go:35-36`)
  *   partition only in dst    → DEST_ONLY (reference iterates source
  *                              partitions only, so it never touches these;
  *                              we surface them)
  *
  * B18 hash-side asymmetry preserved: the SOURCE fingerprint is computed
  * over the *cast* expressions (`destinationValues`) while the DEST
  * fingerprint is over plain columns (`/root/reference/copy/copy.go:88-89,221-222`)
  * — i.e. we compare post-conversion source content against dest content.
  * Callers pass `srcCols` already cast (from `SchemaReconciler.castPlan`).
  *
  * Incremental form: [[VerdictLedger.pass]] hashes each side as per-file
  * partials and reuses the partials of files unchanged since the last
  * `--sync` (a `verdict_ledger/1` meta beside the destination, Σ files ×
  * keys per file entries; a rewrite keeping path, length and mtime goes
  * unseen), then applies the same ladder ([[decide]]) to the merged
  * per-key rows — the verdict rows equal [[verdicts]]' exactly.
  */
object Reconciler {

  object Verdict {
    val Skip = "skip"
    val Copy = "copy"
    val DeleteRecopy = "delete_recopy"
    val DestOnly = "dest_only"
  }

  final case class Config(
      checkHashes: Boolean = true, // `check_hashes` /root/reference/config/config.go:34
      skipDelete: Boolean = false, // `skip_delete`  /root/reference/config/config.go:35
      skipReimport: Boolean = false, // `skip_reimport` /root/reference/config/config.go:36
      // `worker_pool.num_workers` (/root/reference/config/config.go:23-27) —
      // dead code there (README: "doesnt work"); HERE it runs N repairs as
      // concurrent per-partition-directory Spark jobs. <=1 keeps the default
      // fused single-job dynamic-overwrite path, which is usually faster
      // (one scan, one commit); >1 exists for per-partition commit isolation
      // — a failed partition leaves the others durably repaired.
      parallelism: Int = 1)

  /** Dry-run (`--info`) and plan phase of `--sync`: one verdict row per
    * partition present on either side.
    *
    * @param partKeys (alias, groupingExpression) — evaluated on BOTH sides
    * @param srcCols  source content columns, post-cast (B18)
    * @param dstCols  dest content columns, plain
    */
  def verdicts(
      src: DataFrame,
      dst: DataFrame,
      partKeys: Seq[(String, Column)],
      srcCols: Seq[Column],
      dstCols: Seq[Column],
      conf: Config = Config()): DataFrame = {
    val keys = partKeys.map(_._1)
    val s = Fingerprint.byPartition(src, partKeys, srcCols)
      .withColumnsRenamed(Map("rows" -> "src_rows", "fp" -> "src_fp"))
    val d = Fingerprint.byPartition(dst, partKeys, dstCols)
      .withColumnsRenamed((keys.map(k => k -> s"__d_$k") ++
        Seq("rows" -> "dst_rows", "fp" -> "dst_fp")).toMap)
    // null-SAFE key equality: a null partition key (e.g. null timestamps
    // under a functional key) must match itself, not double-report as
    // Copy + DestOnly
    val joinCond = keys.map(k => s(k) <=> d(s"__d_$k")).reduce(_ && _)
    val joined = s.join(d, joinCond, "full_outer")
      .withColumns(keys.map(k => k -> coalesce(s(k), d(s"__d_$k"))).toMap)
      .drop(keys.map(k => s"__d_$k"): _*)
    decide(joined, keys, conf)
  }

  /** The decision ladder, applied to one row per partition key with the
    * two sides' `src_rows`, `dst_rows`, `src_fp`, `dst_fp` (null where a
    * side lacks the partition): the verdict rows of [[verdicts]]. Shared
    * by the lazy plan above and the ledger pass's local relation
    * ([[VerdictLedger.pass]]), so both decide alike. */
  def decide(joined: DataFrame, keys: Seq[String], conf: Config): DataFrame = {
    val dstEmpty = col("dst_rows").isNull || col("dst_rows") === 0L
    val contentEqual =
      if (conf.checkHashes) col("src_fp") === col("dst_fp") && col("src_rows") === col("dst_rows")
      else col("src_rows") === col("dst_rows") // check_hashes=false → row-count compare only
    val verdict =
      when(col("src_rows").isNull, Verdict.DestOnly)
        .when(dstEmpty, Verdict.Copy)
        .when(contentEqual, Verdict.Skip)
        .otherwise(Verdict.DeleteRecopy)

    joined.select(
      keys.map(col) ++ Seq(
        coalesce(col("src_rows"), lit(0L)).as("src_rows"),
        coalesce(col("dst_rows"), lit(0L)).as("dst_rows"),
        col("src_fp"), col("dst_fp"),
        verdict.as("verdict")): _*)
  }

  /** Pre-flight warnings (`/root/reference/copy/copy.go:35-41,162-168`):
    * equal totals (likely nothing to do) / dest ahead of source. */
  def preflight(srcRows: Long, dstRows: Long): Seq[String] =
    (if (srcRows == dstRows) Seq(s"source and destination row counts are already equal ($srcRows)") else Nil) ++
      (if (dstRows > srcRows) Seq(s"destination has MORE rows ($dstRows) than source ($srcRows)") else Nil)

  /** Execute mode (`--sync`): repair a file-backed destination.
    *
    * A19 re-architecture (SURVEY §7): vanilla Spark file sources cannot
    * `ALTER TABLE … DELETE`, so delete+recopy becomes *dynamic partition
    * overwrite* — only the partitions with verdict copy/delete_recopy are
    * rewritten from the (cast) source; untouched partitions' files are left
    * in place. This is atomic per partition directory and shuffles only the
    * affected partitions' data. Dynamic mode is a per-write option; the
    * caller's session conf is left as it was.
    *
    * Passes over the data: `verdictDf` is only filtered and collected
    * here, so a caller that already collected its verdicts passes them
    * as a local relation (`spark.createDataFrame(rows, schema)`, as
    * `GraftCopy --sync` does) and this collect runs no Spark job; a sync
    * is then one verdict pass over both sides plus one write of the
    * dirty partitions (a source scan filtered to them; one per partition
    * with `parallelism` > 1). Passed the lazy verdict plan instead, the
    * collect scans and hashes both sides a second time.
    *
    * The reference treats `skip_delete` and `skip_reimport` independently
    * on a delete_recopy partition (`/root/reference/copy/copy.go:248-257`:
    * `!SkipDelete` → DeletePartition, then `!SkipReimport` →
    * CopyPartition), so:
    *   - neither set   → delete+copy, fused here as dynamic overwrite
    *   - skip_delete   → copy without delete = APPEND the source partition
    *                     (duplicates rows, exactly as the reference would)
    *   - skip_reimport → delete without copy = remove the partition
    *                     directory, leaving the partition empty
    *   - both set      → partition untouched
    *
    * @param verdictDf     rows of [[verdicts]] (a local relation of the
    *                      collected rows, or the lazy plan itself)
    * @param partKeyAlias  name of the partition column in the verdict DF /
    *                      the dest layout (dest is partitioned by it)
    * @param srcWithKey    source rows with the partition key materialised as
    *                      column `partKeyAlias` and content already cast
    * @return partition values repaired (copy + delete_recopy actions taken)
    */
  def repair(
      spark: SparkSession,
      verdictDf: DataFrame,
      srcWithKey: DataFrame,
      partKeyAlias: String,
      dstPath: String,
      conf: Config = Config()): Seq[Any] = {
    // P partition ids on the driver: same cardinality the reference loops
    // over; fine at any data scale (partitions, not rows).
    val rows = verdictDf
      .filter(col("verdict").isin(Verdict.Copy, Verdict.DeleteRecopy))
      .select(col(partKeyAlias), col("verdict")).collect()
    val copyParts = rows.filter(_.getString(1) == Verdict.Copy).map(_.get(0)).toSeq
    val recopyParts = rows.filter(_.getString(1) == Verdict.DeleteRecopy).map(_.get(0)).toSeq

    val overwrite = copyParts ++ (if (!conf.skipDelete && !conf.skipReimport) recopyParts else Nil)
    val append = if (conf.skipDelete && !conf.skipReimport) recopyParts else Nil
    val deleteOnly = if (!conf.skipDelete && conf.skipReimport) recopyParts else Nil

    def write(parts: Seq[Any], mode: String): Unit = if (parts.nonEmpty)
      srcWithKey.filter(keyPred(partKeyAlias, parts))
        .write.partitionBy(partKeyAlias).mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dstPath)
    def partDirName(v: Any): String = {
      val dir = if (v == null) "__HIVE_DEFAULT_PARTITION__"
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v.toString)
      s"$partKeyAlias=$dir"
    }
    if (conf.parallelism > 1) {
      // worker-pool mode: each partition is its own Spark job writing its
      // own `key=value` directory (files omit the key column, exactly like
      // partitionBy's layout), so concurrent commits never share a
      // _temporary dir. Spark schedules the jobs' tasks concurrently.
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = Executors.newFixedThreadPool(conf.parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      def one(v: Any, mode: String): Future[Unit] = Future {
        srcWithKey.filter(col(partKeyAlias) <=> lit(v)).drop(partKeyAlias)
          .write.mode(mode).parquet(s"$dstPath/${partDirName(v)}")
      }
      val futs = overwrite.map(one(_, "overwrite")) ++ append.map(one(_, "append"))
      try Await.result(Future.sequence(futs), Duration.Inf)
      finally pool.shutdown()
    } else {
      write(overwrite, "overwrite")
      write(append, "append")
    }
    if (deleteOnly.nonEmpty) {
      val base = new org.apache.hadoop.fs.Path(dstPath)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      deleteOnly.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(base, partDirName(v)), true)
      }
    }
    overwrite ++ append ++ deleteOnly
  }

  /** A3 insert sink: schema-mapped append (`INSERT INTO dest (cols) SELECT
    * castedExprs`, `/root/reference/database/database.go:486-495`). */
  def copyInto(src: DataFrame, castCols: Seq[Column], dstPath: String): Unit =
    src.select(castCols: _*).write.mode("append").parquet(dstPath)

  /** [[repair]] for a REMOTE (JDBC) destination — the reference's actual
    * execution mode (`/root/reference/copy/copy.go:246-266`): per
    * delete_recopy partition a driver-issued partition DELETE
    * (`DeletePartition`, one statement, no data movement), then one
    * distributed INSERT append of all affected partitions' (cast) source
    * rows — the `INSERT … SELECT` data path, executors writing batches in
    * parallel. skip_delete / skip_reimport compose exactly as in the
    * file-backed form: skip_delete turns delete_recopy into a plain
    * append (duplicating rows, as the reference would), skip_reimport
    * into a bare delete.
    *
    * @return partition values acted on */
  def repairJdbc(
      spark: SparkSession,
      verdictDf: DataFrame,
      srcWithKey: DataFrame,
      partKeyAlias: String,
      dst: graft.sources.ClickHouseJdbc.Conn,
      conf: Config = Config()): Seq[Any] = {
    val rows = verdictDf
      .filter(col("verdict").isin(Verdict.Copy, Verdict.DeleteRecopy))
      .select(col(partKeyAlias), col("verdict")).collect()
    val copyParts = rows.filter(_.getString(1) == Verdict.Copy).map(_.get(0)).toSeq
    val recopyParts = rows.filter(_.getString(1) == Verdict.DeleteRecopy).map(_.get(0)).toSeq

    val deletes = if (!conf.skipDelete) recopyParts else Nil
    val inserts = copyParts ++ (if (!conf.skipReimport) recopyParts else Nil)

    deletes.foreach(v =>
      graft.sources.ClickHouseJdbc.deletePartition(dst, partKeyAlias, v))
    if (inserts.nonEmpty)
      graft.sources.ClickHouseJdbc.append(
        srcWithKey.filter(keyPred(partKeyAlias, inserts)), dst)
    (deletes ++ inserts).distinct
  }

  /** Null-aware partition-membership predicate: isin() is null-blind, so a
    * null partition key needs an explicit isNull arm. (Note: partitionBy
    * writes null keys to the Hive default partition directory — callers
    * with nullable keys should coalesce the key expression to a sentinel
    * for clean round-trips.) Shared by the file-backed and JDBC repairs. */
  private def keyPred(partKeyAlias: String, parts: Seq[Any]): Column = {
    val (nullKeys, realKeys) = parts.partition(_ == null)
    ((if (realKeys.nonEmpty) Some(col(partKeyAlias).isin(realKeys: _*)) else None) ++
      (if (nullKeys.nonEmpty) Some(col(partKeyAlias).isNull) else None)).reduce(_ || _)
  }
}
