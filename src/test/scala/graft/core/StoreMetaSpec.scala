package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.agg.AggStore
import graft.dedup.{NearDupStore, SeenStore}
import graft.multimodal.MediaFeatureStore
import graft.sim.Similarity

/** Strict store metas, table-driven over every JSON-meta family: a
  * damaged `meta.json` throws naming the file instead of reading as an
  * empty store, and a torn FIRST meta commit reads as the empty store it
  * is and lets the next append land. */
class StoreMetaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf001/documents.parquet")
  private lazy val events = Tables.load(spark, sf001, "events")
  private lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet")

  /** One store family through its public API: `first` makes the store
    * (commits shard `s0`), `append(p, i)` commits shard `s<i>`, `read`
    * forces a read, and `isEmpty` is the family's replay guard (no
    * processed shards, or no index). */
  private case class Family(name: String,
      first: String => Unit, append: (String, Int) => Unit,
      read: String => Unit, isEmpty: String => Boolean)

  private def docShard(i: Int): DataFrame = docs.filter(col("doc_id") % 3 === i)
  private def embShard(i: Int): DataFrame = emb.filter(col("vec_id") % 3 === i)
  private def queries = emb.limit(2)

  private def shardFamily(name: String, append: (String, Int) => Unit,
      read: String => Unit, processed: String => Set[String]) =
    Family(name, append(_, 0), append, read, processed(_).isEmpty)

  private val families = Seq(
    shardFamily("SeenStore",
      (p, i) => SeenStore.update(spark, p, docShard(i), "text", s"s$i"),
      p => SeenStore.filter(spark, p, docs, "text").count(),
      SeenStore.processedShards(spark, _)),
    shardFamily("NearDupStore",
      (p, i) => NearDupStore.update(spark, p, docShard(i), "text", "doc_id", s"s$i"),
      p => NearDupStore.filterNew(spark, p, docs, "text", "doc_id", 0.8).count(),
      NearDupStore.processedShards(spark, _)),
    shardFamily("MediaFeatureStore",
      (p, i) => MediaFeatureStore.append(spark, p,
        Seq((i.toLong, 10L * i)).toDF("doc_id", "sig"), "dhash56", s"s$i"),
      p => MediaFeatureStore.read(spark, p, "dhash56").count(),
      MediaFeatureStore.processedShards(spark, _)),
    shardFamily("AggStore",
      (p, i) => AggStore.append(spark, p,
        events.filter(col("event_id") % 3 === i), Seq("event_type"), "value", s"s$i"),
      p => AggStore.merged(spark, p).count(),
      AggStore.processedShards(spark, _)),
    Family("IVF",
      p => Similarity.buildIvfIndex(embShard(0), "vec_id", "embedding", p,
        nCentroids = 4, shardId = "s0"),
      (p, i) => Similarity.appendIvfIndex(embShard(i), "vec_id", "embedding", p, s"s$i"),
      p => Similarity.queryIvfIndex(spark, p, queries, "vec_id", "embedding", k = 3).count(),
      !Similarity.indexExists(spark, _)),
    Family("PQ",
      p => Similarity.buildPqIndex(embShard(0), "vec_id", "embedding", p,
        m = 4, kCodes = 8, shardId = "s0"),
      (p, i) => Similarity.appendPqIndex(embShard(i), "vec_id", "embedding", p, s"s$i"),
      p => Similarity.queryPqIndex(spark, p, queries, "vec_id", "embedding", k = 3).count(),
      !Similarity.indexExists(spark, _)))

  private def file(p: String) = new java.io.File(p)

  /** Write through the path's FileSystem, so the local filesystem's
    * checksum matches and the bytes themselves are what is read back. */
  private def write(p: String, text: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  families.foreach { f =>
    test(s"${f.name}: a corrupt meta.json throws on read, guard and append, naming the file") {
      val p = tmpDir(s"meta_corrupt_${f.name}")
      f.first(p)
      f.append(p, 1)
      assert(!f.isEmpty(p))
      write(s"$p/meta.json", "garbage{")
      Seq[(String, () => Any)](
        "read" -> (() => f.read(p)),
        "guard" -> (() => f.isEmpty(p)),
        "append" -> (() => f.append(p, 2))).foreach { case (what, op) =>
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains(s"$p/meta.json"), s"$what: ${e.getMessage}")
      }
    }

    test(s"${f.name}: a torn first meta commit reads as an empty store; the next append lands") {
      val p = tmpDir(s"meta_torn_first_${f.name}")
      // a crash inside the first commit: the tmp is truncated, no meta.json
      write(s"$p/meta.json_tmp", """{"shard_ids":["s""")
      assert(f.isEmpty(p))
      // discarded, not adopted: a truncated meta must never become the store's
      assert(!file(s"$p/meta.json").exists() && !file(s"$p/meta.json_tmp").exists())
      f.first(p)
      assert(!f.isEmpty(p))
      f.read(p)
    }
  }

  test("readMetaJson adopts a complete tmp left by a crash between delete and rename") {
    val p = tmpDir("meta_adopt")
    AtomicStore.writeMetaJson(spark, s"$p/meta.json")(AtomicStore.putShardIds(_, Set("a", "b")))
    assert(file(s"$p/meta.json").renameTo(file(s"$p/meta.json_tmp")))
    assert(AtomicStore.readMetaJson(spark, s"$p/meta.json")(AtomicStore.shardIds)
      .contains(Set("a", "b")))
    assert(file(s"$p/meta.json").exists() && !file(s"$p/meta.json_tmp").exists())
  }

  test("readMetaJson: a document the decoder rejects, or bytes that fail their checksum, throw naming the file") {
    val p = tmpDir("meta_decode")
    def read() = intercept[IllegalStateException](
      AtomicStore.readMetaJson(spark, s"$p/meta.json")(AtomicStore.shardIds))
    write(s"$p/meta.json", """{"gen":""}""")
    assert(read().getMessage.contains(s"$p/meta.json"))
    AtomicStore.writeMetaJson(spark, s"$p/meta.json")(AtomicStore.putShardIds(_, Set("a")))
    // overwritten behind the filesystem's back: the checksum no longer matches
    java.nio.file.Files.write(file(s"$p/meta.json").toPath, "{}".getBytes("UTF-8"))
    assert(read().getMessage.contains(s"$p/meta.json"))
  }
}
