package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The persisted seen-hash store behind incremental exact dedup (the q88
  * primitive, production-shaped): 8 bytes per distinct document ever
  * accepted, anti-joined against each incoming shard so re-ingest cost is
  * O(shard + store), never O(corpus).
  *
  * Layout and crash safety are the [[graft.core.ShardStore]] protocol
  * over one `hashes/shard=<id>/` tree of `content_hash`: [[update]] is
  * **O(shard)** (the shard's distinct hashes append as their own subtree,
  * then `meta.json` commits its id — the store is never rewritten; the
  * previous union+distinct rewrite was O(store) per shard, an ~80 GB key
  * shuffle per daily ingest at 10B documents), orphans of torn updates
  * stay invisible, and [[compact]] folds the subtrees into one
  * deduplicated tree with the historical ids kept.
  *
  * Protocol per shard: if `shardId ∈ processedShards` → done (output is
  * already committed; re-filtering would emit an empty relation and
  * clobber it). Else [[filter]] the shard against the store, commit the
  * survivors downstream, then [[update]] with the survivors + shard id. A
  * crash before [[update]] replays with the store unchanged, so the re-run
  * recomputes the identical output; after [[update]], the replay
  * short-circuits at the guard. A damaged meta throws rather than reading
  * as an empty store — an empty seen set would silently pass every
  * duplicate. */
object SeenStore {

  private val store = new graft.core.ShardStore("hashes", {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("content_hash", LongType),
      StructField("shard", StringType)))
  })

  /** The store's hash relation (content_hash), restricted to committed
    * shards, or None before the first [[update]]. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    store.read(spark, path)

  /** Shard ids whose survivors are already folded in. */
  def processedShards(spark: SparkSession, path: String): Set[String] =
    store.processedShards(spark, path)

  /** Drop rows of `incoming` whose content hash is already in the store;
    * identity when the store does not exist yet. */
  def filter(spark: SparkSession, path: String, incoming: DataFrame,
      contentCol: String): DataFrame =
    read(spark, path) match {
      case Some(seen) => Dedup.dropSeen(incoming, contentCol, seen)
      case None => incoming
    }

  /** Fold a committed shard's survivors into the store and record the
    * shard id — O(shard): the survivors' distinct hashes land as the
    * shard's own subtree, nothing else is rewritten. Idempotent per
    * shard id. */
  def update(spark: SparkSession, path: String, survivors: DataFrame,
      contentCol: String, shardId: String): Unit =
    store.append(spark, path, Dedup.seenHashes(survivors, contentCol), shardId)

  /** Small-file maintenance: fold every committed subtree into one
    * deduplicated tree of `nFiles` files; the replay guard survives.
    * No-op before the first update. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1): Boolean =
    store.compact(spark, path, nFiles, _.distinct())
}
