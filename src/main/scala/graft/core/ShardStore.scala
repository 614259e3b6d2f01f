package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The shard-subtree protocol of the incremental stores
  * ([[graft.dedup.SeenStore]], [[graft.dedup.NearDupStore]],
  * [[graft.multimodal.MediaFeatureStore]]): the partition-by-partition
  * discipline of a reconciled destination, applied to ingest shards. Each
  * store keeps only its own projection and probe; this class owns the
  * layout, the guard, the crash safety and the compaction.
  *
  * Layout under the store path:
  *
  *  - `<tree>/shard=<id>/` — one parquet subtree per folded shard, written
  *    by dynamic partition overwrite (a replayed write replaces exactly its
  *    own directory — idempotent)
  *  - `meta.json` — `{"shard_ids":[…]}` through
  *    [[AtomicStore.writeMetaJson]]; committing it is what makes a shard's
  *    rows VISIBLE
  *
  * [[append]] is O(shard): the shard's rows land as their own subtree and
  * the driver-side meta swaps — the tree is never rewritten. Rows first,
  * meta last: a crash before the meta commit leaves an orphan subtree
  * that [[read]] never surfaces (it filters to committed ids); the
  * replayed append overwrites it and commits. After the commit, an append
  * of the same id is a no-op and callers' replay guards
  * ([[processedShards]]) short-circuit the whole shard.
  *
  * [[compact]] folds every committed subtree into one `shard=__compacted`
  * tree. Meta first (a crash before the swap leaves reads on the old
  * subtrees — still correct), then the [[AtomicStore.replaceVia]] swap; the
  * historical ids stay in meta so replays of long-gone shards still
  * short-circuit. A torn swap self-heals on the next read
  * ([[AtomicStore.readRequired]]) or append ([[AtomicStore.heal]]).
  *
  * Single writer per store path: appends and compactions run under
  * [[WriterLease]].
  *
  * @param tree   the data tree's directory name under the store path
  * @param schema the tree's on-disk schema with the partition column
  *               `shard` as a string — explicit, so reads never pay a
  *               footer-inference job (partition inference is off)
  */
final class ShardStore(tree: String, schema: StructType) {
  import ShardStore.Compacted

  private val dataCols = schema.fieldNames.toSeq.filterNot(_ == "shard").map(col)

  private def treePath(path: String) = s"$path/$tree"
  private def metaPath(path: String) = s"$path/meta.json"

  /** Every committed shard id, [[ShardStore.Compacted]] included; empty
    * before the first append. A damaged meta throws. */
  private def shardIds(spark: SparkSession, path: String): Set[String] =
    AtomicStore.readMetaJson(spark, metaPath(path))(AtomicStore.shardIds)
      .getOrElse(Set.empty)

  private def commit(spark: SparkSession, path: String, ids: Set[String]): Unit =
    AtomicStore.writeMetaJson(spark, metaPath(path))(AtomicStore.putShardIds(_, ids))

  /** Shard ids whose rows are committed (the callers' replay guard). */
  def processedShards(spark: SparkSession, path: String): Set[String] =
    shardIds(spark, path) - Compacted

  /** The data columns of every committed shard, or None before the first
    * append. The tree grows with the corpus: it is registered
    * corpus-scale, so its scans are never a broadcast build side. */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val ids = shardIds(spark, path)
    if (ids.isEmpty) None
    else {
      graft.plans.CorpusScale.register(treePath(path))
      Some(committed(spark, path, ids))
    }
  }

  private def committed(spark: SparkSession, path: String, ids: Set[String]): DataFrame =
    AtomicStore.readRequired(spark, treePath(path), schema)
      .filter(col("shard").isin(ids.toSeq: _*))
      .select(dataCols: _*)

  /** Fold one shard's rows (the tree's data columns) in as the shard's own
    * subtree and commit its id. Returns false, writing nothing, when
    * `shardId` is already committed. */
  def append(spark: SparkSession, path: String, rows: DataFrame,
      shardId: String): Boolean =
    WriterLease.withLease(spark, path) {
      require(shardId != Compacted, s"shard id $Compacted is reserved")
      val ids = shardIds(spark, path)
      if (ids.contains(shardId)) false
      else {
        // adopt a torn compact BEFORE this write (re-)creates the tree
        AtomicStore.heal(spark, treePath(path))
        rows.select(dataCols: _*)
          .withColumn("shard", lit(shardId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard")
          .parquet(treePath(path))
        commit(spark, path, ids + shardId)
        true
      }
    }

  /** Small-file maintenance: fold every committed subtree into one
    * `shard=__compacted` tree of `nFiles` files. `fold` may reshape the
    * live relation (same columns) before it is written. Returns false
    * before the first append. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1,
      fold: DataFrame => DataFrame = identity): Boolean =
    WriterLease.withLease(spark, path) {
      val ids = shardIds(spark, path)
      if (ids.isEmpty) false
      else {
        if (!ids.contains(Compacted)) commit(spark, path, ids + Compacted)
        val live = fold(committed(spark, path, ids)).withColumn("shard", lit(Compacted))
        AtomicStore.replaceVia(spark, treePath(path)) { tmp =>
          live.coalesce(nFiles)
            .write.mode("overwrite").partitionBy("shard").parquet(tmp)
        }
        true
      }
    }
}

object ShardStore {

  /** The shard id [[ShardStore.compact]] folds the store into; reserved. */
  val Compacted = "__compacted"
}
