package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NearDupStoreSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf001/documents.parquet")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getAs[Long]("doc_id")).toSet

  test("empty store: filterNew is the identity") {
    val store = tmpDir("neardup_empty")
    assert(NearDupStore.read(spark, store).isEmpty)
    assert(NearDupStore.filterNew(spark, store, docs, "text", "doc_id", 0.8)
      .count() == docs.count())
  }

  test("filterNewWithSigs returns signatures only when it probed: None on an empty store") {
    val store = tmpDir("neardup_sigs_opt")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    assert(NearDupStore.filterNewWithSigs(
      spark, store, batch, "text", "doc_id", 0.8)._2.isEmpty)
    NearDupStore.update(spark, store, docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", "hist")
    val sigs = NearDupStore.filterNewWithSigs(
      spark, store, batch, "text", "doc_id", 0.8)._2
    // materialised: one signature row per incoming doc, read from the
    // checkpoint rather than from `batch`
    assert(sigs.exists(_.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
    assert(sigs.get.count() == batch.count())
  }

  test("probe drops exact and near copies of history, keeps fresh docs") {
    val store = tmpDir("neardup_probe")
    NearDupStore.update(spark, store, docs, "text", "doc_id", "s0")
    // batch: exact copy of doc 0, near copy of doc 1 (one appended token
    // on a long doc => jaccard > 0.8), one genuinely new doc
    val batch = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(500000L))
      .unionByName(docs.filter(col("doc_id") === 1)
        .withColumn("doc_id", lit(500001L))
        .withColumn("text", concat(col("text"), lit(" zzqx"))))
      .unionByName(docs.filter(col("doc_id") === 2)
        .withColumn("doc_id", lit(500002L))
        .withColumn("text", lit("totally fresh content with no history overlap at all")))
    val kept = NearDupStore.filterNew(
      spark, store, batch, "text", "doc_id", 0.8, maxBucket = 0)
    assert(ids(kept) == Set(500002L))
  }

  test("store parity with verifiedNearDupPairs ground truth on the corpus") {
    // split-corpus probe == the cross-parity subset of the all-in-one
    // verified pair relation (same banding, same exact verification)
    val store = tmpDir("neardup_parity")
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    NearDupStore.update(spark, store, hist, "text", "doc_id", "hist")
    val kept = ids(NearDupStore.filterNew(
      spark, store, batch, "text", "doc_id", 0.8, maxBucket = 0))
    val pairs = Dedup.verifiedNearDupPairs(
        docs, "text", "doc_id", minJaccard = 0.8, maxBucket = 0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hitIds = pairs.collect {
      case (a, b) if a % 2 == 1 && b % 2 == 0 => a
      case (a, b) if b % 2 == 1 && a % 2 == 0 => b
    }.toSet
    assert(kept == ids(batch) -- hitIds)
    assert(hitIds.nonEmpty, "fixture must plant cross-parity near-dups")
  }

  test("probe-then-fold via filterNewWithSigs/updateFromSigs == update from raw text") {
    // the one-minhash-pass loop (q110's shape): fold survivors from the
    // probe's own signatures, then prove the store is indistinguishable
    // from one folded by update()'s raw-text recompute — same survivor
    // set, same stored rows, same verdicts on a later probe
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val b0 = docs.filter(col("doc_id") % 4 === 1)
    val b1 = docs.filter(col("doc_id") % 4 === 3)
    def foldLoop(store: String, viaSigs: Boolean): Set[Long] = {
      NearDupStore.update(spark, store, hist, "text", "doc_id", "history")
      Seq("b0" -> b0, "b1" -> b1).foreach { case (shard, batch) =>
        if (viaSigs) {
          val (filtered, sigs) = NearDupStore.filterNewWithSigs(
            spark, store, batch, "text", "doc_id", 0.8, maxBucket = 0)
          val survivors = filtered.localCheckpoint(true)
          // the store holds "history", so the probe materialised its sigs
          NearDupStore.updateFromSigs(spark, store,
            sigs.get.join(survivors.select(col("doc_id").as("id")),
              Seq("id"), "left_semi"), shard)
        } else {
          val survivors = NearDupStore.filterNew(
            spark, store, batch, "text", "doc_id", 0.8, maxBucket = 0)
            .localCheckpoint(true)
          NearDupStore.update(spark, store, survivors, "text", "doc_id", shard)
        }
      }
      ids(NearDupStore.read(spark, store).get
        .select(col("id").as("doc_id")))
    }
    val sigStore = tmpDir("neardup_foldsigs")
    val rawStore = tmpDir("neardup_foldraw")
    assert(foldLoop(sigStore, viaSigs = true) == foldLoop(rawStore, viaSigs = false))
    // stored payloads are bit-equal, not just same ids: compare (id, sig,
    // ts) across the two stores as canonicalised rows
    def rows(store: String) = NearDupStore.read(spark, store).get
      .select(col("id"), col("sig"), array_sort(col("ts")).as("ts"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(sigStore) == rows(rawStore))
  }

  test("replay guard, shard visibility, and compaction keep the store stable") {
    val store = tmpDir("neardup_replay")
    val s0 = docs.filter(col("doc_id") < 4)
    NearDupStore.update(spark, store, s0, "text", "doc_id", "s0")
    assert(NearDupStore.read(spark, store).get.count() == 4)
    // replaying a folded shard is a no-op
    NearDupStore.update(spark, store, docs.filter(col("doc_id") < 8),
      "text", "doc_id", "s0")
    assert(NearDupStore.read(spark, store).get.count() == 4)
    assert(NearDupStore.processedShards(spark, store) == Set("s0"))
    // second shard appends O(shard); compaction folds subtrees, keeps ids
    NearDupStore.update(spark, store, docs.filter(col("doc_id") === 9),
      "text", "doc_id", "s1")
    assert(NearDupStore.read(spark, store).get.count() == 5)
    val before = NearDupStore.filterNew(
      spark, store, docs.limit(20), "text", "doc_id", 0.8, maxBucket = 0)
      .count()
    assert(NearDupStore.compact(spark, store))
    assert(NearDupStore.read(spark, store).get.count() == 5)
    assert(NearDupStore.processedShards(spark, store) == Set("s0", "s1"))
    assert(NearDupStore.filterNew(
      spark, store, docs.limit(20), "text", "doc_id", 0.8, maxBucket = 0)
      .count() == before)
  }

  test("append over a TORN compact heals first — pre-compact data survives the dynamic-overwrite write") {
    // the write-path half of the adopt-completed-tmp recovery: a dynamic
    // partition overwrite (re-)creates the tree directory, after which the
    // read-side recovery would never adopt the orphaned tmp — every append
    // must heal BEFORE writing or the whole pre-compact store is silently
    // discarded while meta still references it
    val store = tmpDir("neardup_torn_compact")
    NearDupStore.update(spark, store, docs.filter(col("doc_id") < 4),
      "text", "doc_id", "s0")
    assert(NearDupStore.compact(spark, store))
    // simulate the crash between replaceVia's delete and rename: the
    // completed new tree sits at sigs_tmp (with its _SUCCESS marker,
    // carried over from the committed store), the tree itself is gone
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$store/sigs"),
      new org.apache.hadoop.fs.Path(s"$store/sigs_tmp")))
    // the next shard's append must adopt the tmp before its own write
    NearDupStore.update(spark, store, docs.filter(col("doc_id") === 9),
      "text", "doc_id", "s1")
    assert(NearDupStore.read(spark, store).get.count() == 5)
    assert(NearDupStore.processedShards(spark, store) == Set("s0", "s1"))
    // and the healed store still rejects a copy of pre-compact history
    val replayOld = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(600000L))
    assert(NearDupStore.filterNew(
      spark, store, replayOld, "text", "doc_id", 0.8, maxBucket = 0)
      .count() == 0)
  }
}
