package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted NEAR-duplicate store behind incremental fuzzy dedup —
  * the MinHash-LSH sibling of [[SeenStore]] (which is exact-hash only).
  * A pipeline ingesting shards daily needs "is this document a near-dup
  * of ANYTHING accepted before?" without recomputing history-vs-history
  * pairs; this store makes that probe O(shard + candidate set).
  *
  * Layout and crash safety are the [[graft.core.ShardStore]] protocol
  * over one `sigs/shard=<id>/` tree: per accepted doc, `id`, the
  * k-minhash `sig`, and `ts`, the DISTINCT shingle set backing EXACT
  * Jaccard verification of candidates (the [[Dedup.verifiedNearDupPairs]]
  * contract: banding proposes, exact intersection decides). Storing the
  * shingle strings costs ~text-size per doc; a production deployment that
  * accepts estimated-Jaccard verification can store only `sig` (~260
  * B/doc) and verify with [[Dedup.estJaccard]] — same probe shape, 100x
  * smaller store, approximate verdicts. A shard's signatures are visible
  * only after its `meta.json` commit.
  *
  * Probe scale shape ([[filterNew]]): candidate generation shuffles only
  * 16-byte `(band, id)` rows — 8 per stored doc, 8 per incoming doc —
  * and equi-joins on the band hash; signature/shingle payloads move only
  * for docs that land in a candidate pair (AQE broadcasts the batch side
  * when small). The one full-store pass is the parallel `sigs` scan that
  * re-derives band keys (a projection over the stored signature — cheap,
  * and cheaper than persisting an 8x-row banded relation). The
  * `maxBucket` guard caps boilerplate buckets exactly as in
  * [[Dedup.minhashPairs]].
  *
  * Replay protocol per shard = [[SeenStore]]'s: filter the shard against
  * the store, commit survivors downstream, then [[update]] with the
  * survivors; `processedShards` short-circuits replays after the meta
  * commit. */
object NearDupStore {

  private val store = new graft.core.ShardStore("sigs", {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("sig", ArrayType(LongType, containsNull = false)),
      StructField("ts", ArrayType(StringType, containsNull = false)),
      StructField("shard", StringType)))
  })

  /** (id, sig, ts) of every doc in committed shards, or None before the
    * first [[update]]. Orphan subtrees of torn updates stay invisible. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    store.read(spark, path)

  /** Shard ids whose survivors are already folded in. */
  def processedShards(spark: SparkSession, path: String): Set[String] =
    store.processedShards(spark, path)

  /** Per doc `(id, sig, ts, text_hash)`: the stored columns plus the
    * hash of the text they were derived from, which [[acceptedSigs]] keys
    * on (the store's own write drops it). */
  private def signatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int, shingleN: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      graft.functions.expressions.TextHashExpressions
        .minhashShingled(col(textCol), shingleN, k).as("sig"),
      array_distinct(Dedup.wordShingles(col(textCol), shingleN)).as("ts"),
      xxhash64(col(textCol)).as("text_hash"))

  /** Rows of `incoming` with NO verified near-dup (exact shingle-Jaccard
    * >= `minJaccard`) among the store's accepted docs; identity when the
    * store is empty. Banding parameters MUST match the ones the store was
    * built with ([[update]]'s defaults) — band keys are derived from the
    * stored signatures with the same `bands`/`k` split on both sides.
    * `maxBucket` > 0 drops overflowing band buckets (recall loss on
    * boilerplate clusters, the [[Dedup.minhashPairs]] trade); 0 = off. */
  def filterNew(spark: SparkSession, path: String, incoming: DataFrame,
      textCol: String, idCol: String, minJaccard: Double,
      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
      maxBucket: Int = 500): DataFrame =
    filterNewWithSigs(spark, path, incoming, textCol, idCol, minJaccard,
      k, bands, shingleN, maxBucket)._1

  /** [[filterNew]] plus the BATCH signature relation `(id, sig, ts,
    * text_hash)` the probe computed (every incoming doc, not just
    * survivors). The probe already pays k x |shingles| minhashes per doc
    * to generate candidates; a caller that folds the survivors next
    * ([[updateFromSigs]]) can semi-join this relation on the survivors
    * ([[acceptedSigs]]) instead of recomputing the signatures from raw
    * text — one minhash pass per batch instead of two. The signature
    * expression is deterministic over the text, so the folded bytes are
    * identical either way. The relation is returned only when the probe
    * materialised it (a checkpoint, so it no longer reads `incoming`);
    * against an empty store nothing was probed and it is None, and the
    * caller folds from the text ([[update]]). */
  def filterNewWithSigs(spark: SparkSession, path: String, incoming: DataFrame,
      textCol: String, idCol: String, minJaccard: Double,
      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
      maxBucket: Int = 500): (DataFrame, Option[DataFrame]) =
    read(spark, path) match {
      case None => (incoming, None)
      case Some(store) =>
        // batch-bounded materialisation: three consumers below (banding,
        // candidate payload join, and the caller's anti-join) would each
        // recompute k x |shingles| hashes per doc otherwise
        val newSigs = signatures(incoming, textCol, idCol, k, shingleN)
          .localCheckpoint(true)
        val bandedOld = store.select(col("id"),
          explode(Dedup.bandKeys(col("sig"), bands, k)).as("band"))
        val bandedNew0 = newSigs.select(col("id"),
          explode(Dedup.bandKeys(col("sig"), bands, k)).as("band"))
        val bandedNew =
          if (maxBucket <= 0) bandedNew0
          else {
            // hot buckets are hot on the UNION of both sides — a planted
            // boilerplate span shared by history and batch must count once
            val overflow = bandedNew0.select("band")
              .unionAll(bandedOld.select("band"))
              .groupBy("band").count()
              .filter(col("count") > maxBucket).select("band")
            bandedNew0.join(overflow, Seq("band"), "left_anti")
          }
        val cands = bandedNew.select(col("band"), col("id").as("new_id"))
          .join(bandedOld.select(col("band"), col("id").as("old_id")), Seq("band"))
          .select("new_id", "old_id")
          .distinct() // a pair sharing b bands would be verified b times
        val inter = size(array_intersect(col("ts_n"), col("ts_o")))
        val uni = size(col("ts_n")) + size(col("ts_o")) - inter
        val hit = cands
          .join(newSigs.select(col("id").as("new_id"), col("ts").as("ts_n")), "new_id")
          .join(store.select(col("id").as("old_id"), col("ts").as("ts_o")), "old_id")
          .select(col("new_id"), inter.as("n_common"), uni.as("n_union"))
          .filter(col("n_union") > 0 &&
            col("n_common").cast("double") / col("n_union") >= minJaccard)
          .select("new_id").distinct()
        (incoming.join(hit,
          incoming(idCol).cast("long") === hit("new_id"), "left_anti"),
          Some(newSigs))
    }

  /** The rows of a [[filterNewWithSigs]] signature relation whose doc
    * reached `accepted` (the committed survivors, after any later step
    * dropped more), keyed on the id AND the hash of the text: when an id
    * occurs twice with different texts and only one copy survives, only
    * that copy's signature is kept. Ids match null-safely, as
    * [[update]] folds null-id docs too. A survivor whose text was
    * rewritten after the probe matches nothing, so callers run no
    * text-mutating step between the probe and the fold.
    *
    * Multiplicity is the probe's, not `accepted`'s: an (id, text) pair
    * the probe saw n times yields n rows if it survives at all, while
    * [[update]] folds one row per accepted row. The two folds differ only
    * when a later step repeats or collapses identical rows (`upsample`,
    * `dedup_exact`), and only in how many identical rows the store holds;
    * the probe's candidates and hits are distinct, so verdicts match. */
  def acceptedSigs(sigs: DataFrame, accepted: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val keys = accepted.select(col(idCol).cast("long").as("__id"),
      xxhash64(col(textCol)).as("__text_hash"))
    sigs.join(keys, sigs("id") <=> keys("__id") &&
      sigs("text_hash") === keys("__text_hash"), "left_semi")
  }

  /** Fold a committed shard's accepted docs into the store — O(shard):
    * signatures + shingle sets land as the shard's own subtree, then the
    * meta commit makes them visible. Idempotent per shard id. */
  def update(spark: SparkSession, path: String, accepted: DataFrame,
      textCol: String, idCol: String, shardId: String,
      k: Int = 32, shingleN: Int = 3): Unit =
    updateFromSigs(spark, path,
      signatures(accepted, textCol, idCol, k, shingleN), shardId)

  /** [[update]] from an already-computed signature relation `(id, sig,
    * ts)` — the fold half of the probe-then-fold loop when the probe ran
    * through [[filterNewWithSigs]]: semi-join its returned signatures on
    * the survivors ([[acceptedSigs]]) and hand them here, and the batch
    * pays ONE minhash pass instead of two. The caller owns the contract
    * that `sigs` holds exactly the accepted docs' signatures with the
    * store's `k`/`shingleN`; the append itself is [[update]]'s. */
  def updateFromSigs(spark: SparkSession, path: String, sigs: DataFrame,
      shardId: String): Unit =
    store.append(spark, path, sigs, shardId)

  /** Small-file maintenance: every committed subtree folds into one tree
    * of `nFiles` files; historical ids stay in meta for the replay guard. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1): Boolean =
    store.compact(spark, path, nFiles)
}
