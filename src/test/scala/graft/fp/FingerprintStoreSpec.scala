package graft.fp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Shard-replay guard of the batch fingerprint store: folds are
  * idempotent per shard id, order-free across shards, and the guard
  * commits atomically with the data. */
class FingerprintStoreSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: Seq[Long], src: String) =
    ids.map(i => (i, s"text$i", src)).toDF("doc_id", "text", "source")

  private val keys = Seq("source" -> col("source"))
  private def cols = Seq(col("doc_id"), col("text"), col("source"))

  private def snapshot(path: String): Seq[(String, Long, Long)] =
    FingerprintStore.read(spark, path).get
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("two shards accumulate; replaying either is a no-op") {
    val p = tmpDir("fpstore") + "/store"
    val s1 = batch(1L to 10L, "web")
    val s2 = batch(11L to 15L, "web").unionByName(batch(16L to 18L, "news"))
    assert(FingerprintStore.fold(spark, p, "shard-1", s1, keys, cols))
    assert(FingerprintStore.fold(spark, p, "shard-2", s2, keys, cols))
    val after = snapshot(p)
    // equals a one-shot recompute over the union
    val expect = Fingerprint.byPartition(s1.unionByName(s2), keys, cols)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after == expect)
    // replay: guard refuses, store unchanged (an unguarded re-fold would
    // XOR-cancel the fingerprints and double the counts)
    assert(!FingerprintStore.fold(spark, p, "shard-1", s1, keys, cols))
    assert(!FingerprintStore.fold(spark, p, "shard-2", s2, keys, cols))
    assert(snapshot(p) == expect)
    assert(FingerprintStore.foldedShards(spark, p) == Set("shard-1", "shard-2"))
  }

  test("shards fold in any order (backfill after newer shards)") {
    val pA = tmpDir("fpstore") + "/a"
    val pB = tmpDir("fpstore") + "/b"
    val s1 = batch(1L to 5L, "web")
    val s2 = batch(6L to 9L, "web")
    FingerprintStore.fold(spark, pA, "s1", s1, keys, cols)
    FingerprintStore.fold(spark, pA, "s2", s2, keys, cols)
    FingerprintStore.fold(spark, pB, "s2", s2, keys, cols)
    FingerprintStore.fold(spark, pB, "s1", s1, keys, cols)
    assert(snapshot(pA) == snapshot(pB))
  }

  test("pre-guard store (bare byPartition parquet) throws, naming the path") {
    val p = tmpDir("fpstore") + "/unguarded"
    Fingerprint.byPartition(batch(1L to 4L, "web"), keys, cols)
      .write.parquet(p)
    // no shard guard to consult: reading it as zero folded shards would
    // let any replay double-fold, so every entry point refuses it
    Seq[() => Any](
      () => FingerprintStore.foldedShards(spark, p),
      () => FingerprintStore.read(spark, p),
      () => FingerprintStore.fold(spark, p, "s9", batch(5L to 6L, "web"), keys, cols)
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(p), e.getMessage)
    }
  }
}
