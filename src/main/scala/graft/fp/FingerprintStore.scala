package graft.fp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replay-guarded persisted per-partition fingerprint store — the batch
  * (CLI/shard) counterpart of the streaming store in
  * [[graft.streaming.StreamingReconcile.mergeFingerprintBatch]].
  *
  * The streaming store's replay guard is a max batch id, which works
  * because micro-batch ids are monotone. Shards are NOT ordered (a
  * backfill can legally arrive after newer shards), so the guard here is
  * the SET of folded shard ids, kept IN the same parquet relation as the
  * fingerprints (a side file could commit separately from the data and
  * desynchronise — the round-2 lesson that moved the streaming marker
  * into the store). One relation, two row kinds:
  *
  *   kind='fp'    → (partition key, rows, fp), the store proper
  *   kind='shard' → (shard_id), one row per folded shard
  *
  * [[fold]] is therefore idempotent per shard id: a replayed shard is a
  * no-op instead of a silent double-fold (XOR would cancel its rows and
  * double its counts). The whole relation is replaced atomically via
  * [[graft.core.AtomicStore]], so the guard commits iff the fold does.
  * Store size: partitions + shards rows — driver-trivial, executor-cheap.
  */
object FingerprintStore {

  private val Kind = "__kind"
  private val ShardId = "__shard_id"

  /** The stored relation, or None before the first fold. A relation
    * without the kind column was not written here and fails loudly. */
  private def stored(spark: SparkSession, path: String): Option[DataFrame] =
    graft.core.AtomicStore.read(spark, path).map { df =>
      if (!df.columns.contains(Kind)) throw new IllegalStateException(
        s"fingerprint store at $path has no $Kind column — not a " +
          "shard-guarded store")
      df
    }

  private def fpOf(df: DataFrame): DataFrame =
    df.filter(col(Kind) === "fp").drop(Kind, ShardId)

  private def shardsOf(df: DataFrame): Set[String] =
    df.filter(col(Kind) === "shard").select(ShardId)
      .collect().map(_.getString(0)).toSet

  /** The fingerprint relation (partition cols + rows + fp), or None. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    stored(spark, path).map(fpOf)

  /** Shard ids already folded into the store. */
  def foldedShards(spark: SparkSession, path: String): Set[String] =
    stored(spark, path).map(shardsOf).getOrElse(Set.empty)

  /** Fold `batch`'s per-partition fingerprints into the store unless
    * `shardId` was already folded. Returns true when the fold ran.
    *
    * @param partCols (alias, expression) partition key, as
    *                 [[Fingerprint.byPartition]] takes it
    * @param cols     content columns to fingerprint */
  def fold(spark: SparkSession, path: String, shardId: String,
      batch: DataFrame, partCols: Seq[(String, org.apache.spark.sql.Column)],
      cols: Seq[org.apache.spark.sql.Column]): Boolean =
    graft.core.WriterLease.withLease(spark, path) {
    // ONE store read serves the guard, the shard set, and the fp relation
    // (each AtomicStore.read is a recovery check + listing; and reading
    // the guard twice would be a TOCTOU seam if the single-writer
    // discipline were ever violated)
    val prev = stored(spark, path)
    val prevShards = prev.map(shardsOf).getOrElse(Set.empty)
    if (prevShards.contains(shardId)) return false
    val keyNames = partCols.map(_._1)
    val delta = Fingerprint.byPartition(batch, partCols, cols)
    val merged = prev match {
      case Some(df) => Fingerprint.mergeDelta(fpOf(df), delta, keyNames)
      case None => delta
    }
    val shardIds = prevShards + shardId
    val fpRows = merged.withColumn(Kind, lit("fp")).withColumn(ShardId, lit(null).cast("string"))
    val shardRows = spark.createDataFrame(
        spark.sparkContext.parallelize(shardIds.toSeq.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(ShardId, org.apache.spark.sql.types.StringType))))
      .withColumn(Kind, lit("shard"))
    // align schemas: shard rows carry nulls for the fp columns
    val aligned = fpRows.columns.foldLeft(shardRows) {
      case (df, c) if !df.columns.contains(c) => df.withColumn(c, lit(null).cast(
        fpRows.schema(c).dataType))
      case (df, _) => df
    }.select(fpRows.columns.map(col): _*)
    graft.core.AtomicStore.replace(spark, path, fpRows.unionByName(aligned))
    true
    }
}
