package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted store of DECODED media features — the feature-store step that
  * makes media near-dup mining re-runnable without re-decoding (round-8
  * verdict task #4). The codec pass (ImageIO / WAV PCM parse) is linear
  * but constant-heavy: at the x30 trend point it dominates q133/q141
  * entirely (ratios 30.1 / 17.4 — pure per-byte decode cost, re-paid on
  * every mining run). This store pays it ONCE per ingest shard and lets
  * every downstream consumer (banded near-dup mining, cluster keepers,
  * dashboards) read 16-byte (doc_id, sig) rows instead of media blobs —
  * at 100 TB of media that is the difference between a mining query that
  * scans ~0.01% of the bytes and one that decodes the corpus again.
  *
  * Layout + protocol: the [[graft.core.ShardStore]] shard-subtree
  * protocol over one `features/shard=<id>/` tree (O(shard) append,
  * `meta.json` commit of the shard ids, orphans of torn writes invisible
  * until their replay commits, [[compact]] folds subtrees with history
  * kept). `kind` distinguishes feature families (`dhash56`, `audio_fp`, …)
  * so one store serves several decoders without cross-contamination.
  */
object MediaFeatureStore {

  private val store = new graft.core.ShardStore("features", {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("kind", StringType), StructField("sig", LongType),
      StructField("shard", StringType)))
  })

  /** Shard ids whose features are committed (the caller's replay guard). */
  def processedShards(spark: SparkSession, path: String): Set[String] =
    store.processedShards(spark, path)

  /** Fold one shard's decoded features in — O(shard). `features` must be
    * (doc_id: long, sig: long) as produced by the decode pass; rows land
    * under the shard's own partition subtree (idempotent replay), the
    * meta commit makes them visible. No-op when `shardId` is already
    * committed. The DECODE itself happens in the caller's relation — this
    * store only persists its output, so a decoder change never silently
    * mixes feature versions (rebuild the store, or use a new `kind`). */
  def append(spark: SparkSession, path: String, features: DataFrame,
      kind: String, shardId: String): Boolean =
    store.append(spark, path,
      features.select(col("doc_id").cast("long").as("doc_id"),
        lit(kind).as("kind"), col("sig").cast("long").as("sig")),
      shardId)

  /** The committed (doc_id, sig) relation for one feature `kind` — what
    * mining reads instead of re-decoding media. Grows with the corpus:
    * registered corpus-scale so it is never a broadcast build side. */
  def read(spark: SparkSession, path: String, kind: String): DataFrame =
    store.read(spark, path)
      .getOrElse(throw new IllegalArgumentException(
        s"no media feature store at $path"))
      .filter(col("kind") === kind)
      .select("doc_id", "sig")

  /** Small-file maintenance — the [[graft.core.ShardStore.compact]]
    * protocol: one folded tree, historical ids kept so shard replays
    * still short-circuit. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1): Boolean =
    store.compact(spark, path, nFiles)
}
