package graft.core

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe persistence primitives behind the engine's stores.
  *
  *  - Data trees: [[replace]]/[[replaceVia]] write the new contents to
  *    `<path>_tmp`, delete the old tree and rename tmp into place. A crash
  *    between the delete and the rename leaves a COMPLETED tmp and no
  *    tree, which [[read]]/[[heal]] adopt; a crash mid-write leaves a
  *    partial tmp WITHOUT the `_SUCCESS` marker, which they delete so the
  *    caller rebuilds (adopting it would poison every later read). The
  *    write itself is distributed (no driver materialise — trees like the
  *    seen-hash set scale with the corpus, not the partition count).
  *  - Store metas: [[writeMetaJson]]/[[readMetaJson]] keep a store's
  *    driver-bounded metadata as one JSON document with the same
  *    tmp/delete/rename discipline, read strictly — a damaged meta
  *    throws, it never reads as an empty store.
  *
  * [[ShardStore]] composes the two into the shard-subtree protocol of the
  * incremental stores. All filesystem ops go through the path's Hadoop
  * FileSystem so object-store paths behave like local ones.
  *
  * NOT a concurrency mechanism: one writer at a time per store path
  * (pipelines run shards sequentially; the streaming variant serialises
  * through foreachBatch), enforced by [[WriterLease]] and its commit
  * fence. See [[graft.streaming.StreamingReconcile.mergeFingerprintBatch]]
  * for the replay-guarded (batch-id-carrying) flavour of [[replace]].
  */
object AtomicStore {

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recover-and-read: Some(store) if present (after adopting a completed
    * tmp when the store itself is missing), None if the store does not
    * exist yet. A caller that KNOWS the store's schema (every engine
    * store is written by the engine) should pass it: an explicit schema
    * skips the per-read footer-inference Spark job — one job per store
    * read, and the index/store gates read meta relations constantly.
    * Partition columns belong in the schema AS STRINGS (partition type
    * inference is disabled session-wide). */
  def read(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType = null): Option[DataFrame] = {
    heal(spark, path)
    val store = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, store)
    if (!fs.exists(store)) None
    else if (schema == null) Some(spark.read.parquet(path))
    else Some(spark.read.schema(schema).parquet(path))
  }

  /** The crash-recovery half of [[read]] without the read: adopt a
    * COMPLETED `<path>_tmp` when the store itself is missing (a crash
    * between [[replaceVia]]'s delete and rename), drop a partial one.
    * Every dynamic-partition-overwrite APPEND into a compactable tree
    * must run this FIRST: such a write (re-)creates the tree directory,
    * after which the recovery in [[read]] would never adopt the orphaned
    * tmp — silently discarding all pre-compact data while the store meta
    * still references it (round-7 advice #3, the write-path half). */
  def heal(spark: SparkSession, path: String): Unit = {
    val store = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val fs = fsFor(spark, store)
    if (!fs.exists(store) && fs.exists(tmp)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) fs.rename(tmp, store)
      else fs.delete(tmp, true)
    }
  }

  /** [[read]] for a data tree that the store's META says must exist: the
    * adopt-completed-tmp recovery runs (so a crash between the delete and
    * the rename inside [[replaceVia]] — a torn compact — self-heals on the
    * next read instead of throwing until someone renames `_tmp` by hand),
    * and a tree that is GONE (no completed tmp either) fails loudly with
    * the store path in the message. Every store whose data tree is swapped
    * by a compactor must read through this, not bare `spark.read.parquet`
    * (round-6 advice #3). */
  def readRequired(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType = null): DataFrame =
    read(spark, path, schema).getOrElse(throw new IllegalStateException(
      s"store data tree at $path is missing (no completed ${path}_tmp to " +
        "adopt) — the store meta references data that is gone"))

  /** Atomically replace the store with `df`. `df` may lazily read the
    * current store (incremental merge shapes do): the tmp write
    * materialises it BEFORE the old store is deleted. */
  def replace(spark: SparkSession, path: String, df: DataFrame): Unit =
    replaceVia(spark, path)(tmp => df.write.mode("overwrite").parquet(tmp))

  /** [[replace]] generalised over the write itself: `write` receives the
    * tmp path and must produce a complete parquet tree there (it may use
    * `partitionBy` — the recovery protocol only needs the root `_SUCCESS`
    * marker, which this guarantees after the write returns). Lets
    * PARTITIONED stores (the BM25 postings tree, the IVF assigned
    * relation) use the same crash-safe tmp/delete/rename discipline as
    * flat relations. */
  def replaceVia(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val store = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val fs = fsFor(spark, store)
    fs.delete(tmp, true) // a torn previous attempt must not pollute this one
    write(tmp.toString)
    // the recovery protocol keys on _SUCCESS, but the committer only
    // writes one when marksuccessfuljobs is on (object-store tunings turn
    // it off) — guarantee the marker ourselves, or a crash between the
    // delete and the rename would make read() discard a COMPLETE tmp and
    // silently erase the whole accumulated store
    val marker = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    // commit fence (round-11): if this thread is inside a WriterLease
    // scope covering `path`, the swap below only proceeds while the
    // on-disk lock still carries OUR token — a writer whose lock was
    // TTL-stolen fails HERE, before destroying the new owner's state,
    // instead of landing a torn interleave. No-op outside lease scopes.
    WriterLease.validateForCommit(spark, path)
    fs.delete(store, true)
    fs.rename(tmp, store)
  }

  /** Driver-side store metadata (round-11): a store-meta read or write as
    * a parquet relation was a full Spark job — plan + dispatch + commit,
    * measured ~70–110 ms per action on the gate host — for content that
    * is a handful of driver-built values by construction (shard guards,
    * generations, schema strings; never corpus data). Every JSON store
    * meta (the [[ShardStore]] family, [[graft.agg.AggStore]], the IVF/PQ
    * indexes) is therefore ONE JSON object in one file beside the data
    * trees, written and read driver-side through the path's Hadoop
    * FileSystem (object-store safe), with the [[replace]] crash
    * discipline (tmp + delete + rename) and the same WriterLease commit
    * fence. `fill` populates the document's root object. */
  def writeMetaJson(spark: SparkSession, path: String)(fill: ObjectNode => Unit): Unit = {
    val root = Json.createObjectNode()
    fill(root)
    val file = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val fs = fsFor(spark, file)
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(Json.writeValueAsBytes(root))
    finally out.close()
    // commit fence — the AtomicStore.replace discipline, verbatim
    WriterLease.validateForCommit(spark, path)
    fs.delete(file, false)
    fs.rename(tmp, file)
  }

  /** Read a [[writeMetaJson]] document through `decode`: None when the
    * store has no meta yet, the decoded value otherwise. STRICT: a meta
    * file that does not parse, or that `decode` rejects, throws
    * IllegalStateException naming the file — a store must never read as
    * empty because its meta is damaged (for the seen store that would
    * silently turn dedup into a no-op).
    *
    * Recovery: [[writeMetaJson]] closes the tmp BEFORE it deletes the old
    * file, so a tmp with no file is either complete (a crash between the
    * delete and the rename — adopted) or torn by a crash inside the FIRST
    * commit, when no file existed yet (deleted: the store has no meta).
    * A read-only caller passes `recover = false`: it mutates nothing and
    * reads a tmp-only state as no meta. */
  def readMetaJson[T](spark: SparkSession, path: String, recover: Boolean = true)(
      decode: JsonNode => T): Option[T] = {
    val file = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val fs = fsFor(spark, file)
    if (recover && !fs.exists(file) && fs.exists(tmp)) {
      if (parseJson(fs, tmp).isDefined) fs.rename(tmp, file) else fs.delete(tmp, false)
    }
    if (!fs.exists(file)) None
    else {
      def corrupt(cause: Throwable) = new IllegalStateException(
        s"store meta $file is corrupt (not a complete meta document)", cause)
      val doc = parseJson(fs, file).getOrElse(throw corrupt(null))
      try Some(decode(doc))
      catch { case scala.util.control.NonFatal(e) => throw corrupt(e) }
    }
  }

  /** Some(document) when the file holds exactly one complete JSON object,
    * None when it does not (a torn write: the document is written in one
    * call, so a partial file never parses, and on a checksummed
    * filesystem its bytes may fail their checksum first). The one
    * store-meta parse site; other I/O errors propagate. */
  private def parseJson(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[JsonNode] = {
    val in = fs.open(p)
    try Some(Json.readTree(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)))
      .filter(_.isObject)
    catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException |
          _: org.apache.hadoop.fs.ChecksumException => None
    } finally in.close()
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The shard-guard set every store meta carries, as `shard_ids`. */
  def putShardIds(root: ObjectNode, ids: Set[String]): Unit = {
    val arr = root.putArray("shard_ids")
    ids.toSeq.sorted.foreach(arr.add)
  }

  /** [[putShardIds]]' inverse; throws when the field is absent. */
  def shardIds(doc: JsonNode): Set[String] = strings(doc, "shard_ids").toSet

  /** A required string-array field of a meta document. */
  def strings(doc: JsonNode, field: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    doc.required(field).elements().asScala.map(_.asText()).toSeq
  }

  /** Small-file maintenance: rewrite the store as `nFiles` files (same
    * rows, same schema — spec'd identical before/after). Incremental
    * stores rewrite themselves wholesale on every update, so their file
    * count tracks the write parallelism (one file per shuffle task with
    * rows), not the store size; compaction coalesces that down for
    * read-heavy phases. Returns false when the store does not exist.
    * Same single-writer discipline as [[replace]]. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1): Boolean =
    read(spark, path) match {
      case Some(df) =>
        // materialise BEFORE the swap deletes the files the plan reads
        // (replace's tmp write does that ordering for us)
        replace(spark, path, df.coalesce(nFiles))
        true
      case None => false
    }

  /** Number of data files currently under the store (spec/ops aid for
    * [[compact]]: the observable that should drop). */
  def dataFileCount(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }
}
