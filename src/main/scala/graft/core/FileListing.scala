package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** The listing fingerprint of a file scan: what a derived artifact records
  * about its input so a later run can tell, without reading a row, whether
  * that input changed since (equal fingerprints mean skip). Both users read
  * the listing the relation's file index already holds, so taking a
  * fingerprint runs no extra listing:
  *
  *  - the materialized-view freshness guard ([[graft.plans.RollupRewrite]])
  *    falls back to the raw scan when a registered leaf's fingerprint moved;
  *  - the pipeline's `data_card` step keeps its card across replays while
  *    the committed output's fingerprint is the one the card was derived
  *    from ([[graft.cli.GraftPipeline]]);
  *  - the verdict ledger ([[graft.recon.VerdictLedger]]) reuses a file's
  *    recorded partials while the file keeps its path, length and mtime.
  */
object FileListing {

  /** One listed file: its URI as a scan's `_metadata.file_path` carries
    * it (Spark derives it as `new Path(path.toString).toUri.toString`:
    * percent-encoded, no empty authority, `file:/tmp/a%20b`), its path
    * (`toUri.getPath`, the key of [[entries]]) and its identity
    * "len:mtime". */
  final case class Listed(uri: String, path: String, id: String)

  private def listed(f: org.apache.hadoop.fs.FileStatus): Listed =
    Listed(new org.apache.hadoop.fs.Path(f.getPath.toString).toUri.toString,
      f.getPath.toUri.getPath, s"${f.getLen}:${f.getModificationTime}")

  /** The files a relation's partitioning-aware file index holds; None for
    * any other index (no per-file identity to offer). */
  def files(rel: LogicalRelation): Option[Seq[Listed]] =
    rel.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case p: PartitioningAwareFileIndex =>
          Some(p.allFiles().toSeq.map(listed))
        case _ => None
      }
      case _ => None
    }

  /** [[files]] of the one file scan `df` reads; None when its plan reads
    * no file relation, more than one, or one without per-file identity. */
  def files(df: DataFrame): Option[Seq[Listed]] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r } match {
      case Seq(rel) => files(rel)
      case _ => None
    }

  /** A scan's CURRENT per-file listing: file path → "len:mtime" (falls
    * back to path-only metadata for exotic indexes). Feeds both the
    * fingerprint and the materialized view's realtime-tail file diff. */
  def entries(rel: LogicalRelation): Seq[(String, String)] =
    files(rel).map(_.map(f => f.path -> f.id)).getOrElse(rel.relation match {
      case fs: HadoopFsRelation =>
        val other = fs.location
        other.inputFiles.toSeq.map(new org.apache.hadoop.fs.Path(_)
          .toUri.getPath -> s"bytes=${other.sizeInBytes}")
      case _ => Nil
    })

  /** Fingerprint of a scan's CURRENT file listing — an MD5 over the
    * sorted `path:len:mtime` entries, so appends, rewrites and in-place
    * overwrites all change it; "" for a scan with no files. */
  def signature(rel: LogicalRelation): String = {
    val files = entries(rel)
    if (files.isEmpty) ""
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      files.map { case (p, m) => s"$p:$m" }.sorted
        .foreach(e => md.update(e.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** [[signature]] of the one file scan `df` reads; None when its plan
    * reads no file relation or more than one. */
  def signature(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r } match {
      case Seq(rel) => Some(signature(rel))
      case _ => None
    }
}
