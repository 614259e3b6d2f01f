package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def q(pairs: (Long, String)*) = pairs.toDF("query_id", "term")

  test("bm25: tf raises score at equal length; rank is score desc then doc asc") {
    // equal-length docs, increasing tf of the query term
    val docs = Seq(
      (1L, "x f1 f2 f3 f4 f5 f6 f7"),
      (2L, "x x f1 f2 f3 f4 f5 f6"),
      (3L, "x x x f1 f2 f3 f4 f5"),
      (4L, "f1 f2 f3 f4 f5 f6 f7 f8")
    ).toDF("doc_id", "text")
    val r = Retrieval.bm25TopK(docs, q(1L -> "x"), "text", "doc_id", k = 10)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 2L, 1L)) // doc 4 has no hit
    val scores = r.map(_.getAs[Long]("score_u"))
    assert(scores(0) > scores(1) && scores(1) > scores(2))
  }

  test("bm25: longer doc scores below shorter at equal tf (length normalization)") {
    val docs = Seq(
      (1L, "x " + (1 to 7).map(i => s"f$i").mkString(" ")),
      (2L, "x " + (1 to 40).map(i => s"g$i").mkString(" "))
    ).toDF("doc_id", "text")
    val r = Retrieval.bm25TopK(docs, q(1L -> "x"), "text", "doc_id")
      .orderBy("rank").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
  }

  test("bm25: rare term dominates common term (idf), multi-term sums hits") {
    // 'rare' in 1 doc, 'common' in all 4
    val docs = Seq(
      (1L, "rare common f1 f2 f3 f4 f5 f6"),
      (2L, "common g1 g2 g3 g4 g5 g6 g7"),
      (3L, "common h1 h2 h3 h4 h5 h6 h7"),
      (4L, "common i1 i2 i3 i4 i5 i6 i7")
    ).toDF("doc_id", "text")
    val r = Retrieval.bm25TopK(docs, q(1L -> "rare", 1L -> "common"), "text", "doc_id")
      .orderBy("rank").collect()
    assert(r.head.getAs[Long]("doc_id") == 1L)
    assert(r.head.getAs[Long]("n_hit_terms") == 2L)
    assert(r.tail.forall(_.getAs[Long]("n_hit_terms") == 1L))
    // the rare-term winner's margin is large (idf odds 3.5/1.5 vs 0.5/4.5)
    assert(r.head.getAs[Long]("score_u") > 3 * r(1).getAs[Long]("score_u"))
  }

  test("bm25: score invariant under repartitioning (order-free integer sum)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 2L -> "query")
    val a = Retrieval.bm25TopK(docs, terms, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val b = Retrieval.bm25TopK(docs.repartition(13, col("doc_id")), terms, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("bm25 index: probe reproduces direct bm25TopK exactly and prunes bucket partitions") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 2L -> "query", 3L -> "stream")
    val idx = tmpDir("bm25idx")
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, buckets = 64)
    val direct = Retrieval.bm25TopK(docs, terms, "text", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val probe = Retrieval.queryBm25Index(spark, idx, terms, k = 5)
    val viaIndex = probe
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(viaIndex == direct,
      s"index probe diverged:\n only-direct=${direct.diff(viaIndex)}\n only-index=${viaIndex.diff(direct)}")
    // the postings scan must carry a partition filter on bucket (directory
    // pruning) — without it every probe rescans the whole index
    val scans = probe.queryExecution.executedPlan.toString
    assert(scans.contains("PartitionFilters: [") &&
      scans.split("PartitionFilters").exists(s => s.take(200).contains("bucket")),
      "postings scan lost its bucket partition filter:\n" + scans.take(2500))
    // and the pruned read touches fewer partitions than exist: the 5 terms
    // hash into <= 5 of 64 buckets
    val prunedFiles = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).filter(_.contains("postings"))
    assert(prunedFiles.nonEmpty)
  }

  test("bm25 batched probe: bit-identical to the per-query path; no BNLJ, no term collect, distributed top-k") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val idx = tmpDir("bm25idx_batch")
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, buckets = 16)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    // parity on the fixed query set (incl. duplicated rows — the contract
    // boundary dedup must hold on this path too)
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 2L -> "query",
      3L -> "stream", 3L -> "stream")
    assert(set(Retrieval.queryBm25IndexBatched(spark, idx, terms, k = 5)) ==
      set(Retrieval.queryBm25Index(spark, idx, terms, k = 5)))
    // parity on a GENERATED 2k-query batch vs the direct in-memory path
    // (queryBm25Index's driver-side term collect makes it the wrong
    // comparator at this scale; bm25TopK shares no index code with the
    // batched probe, so agreement certifies the whole index round trip)
    val vocab = Seq("dup", "merge", "vector", "query", "stream", "filter",
      "batch", "scan", "hash", "join")
    val vocabArr = array(vocab.map(lit): _*)
    val batch = spark.range(2000).select(col("id").as("query_id"),
      explode(array(
        element_at(vocabArr, (pmod(col("id"), lit(10)) + 1).cast("int")),
        element_at(vocabArr, (pmod(col("id") * 3 + 1, lit(10)) + 1).cast("int"))
      )).as("term"))
    val probe = Retrieval.queryBm25IndexBatched(spark, idx, batch, k = 3)
    assert(set(probe) == set(Retrieval.bm25TopK(docs, batch, "text", "doc_id", k = 3)))
    // the batched BLOCK-MAX cut must be invisible in the results (the
    // q112 exactness argument, batch shape): same 2k batch, same set
    assert(set(Retrieval.queryBm25IndexBatched(spark, idx, batch, k = 3,
      blockMax = true)) == set(probe),
      "batched block-max pruning changed results — the cut is not exact")
    // plan guard (round-8 verdict task #1): the batched path must be pure
    // equi-join — no BroadcastNestedLoopJoin, no CartesianProduct — and
    // must keep the k-bounded partial aggregate (never a window sort)
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ on the batched probe:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "cartesian on the batched probe:\n" + plan.take(2000))
    assert(!plan.contains("Window ["), "window sort on the batched probe:\n" + plan.take(2000))
    assert(plan.contains("TopKAggregate") || plan.contains("topk"),
      "k-bounded TopK aggregate missing from the batched probe:\n" + plan.take(2000))
  }

  test("bm25: duplicated (query_id, term) rows leave both paths unchanged and agreeing") {
    // without the contract-boundary distinct, the direct path inflates tf
    // (nonlinear score change) while the index path duplicates scored rows
    // (doubling score_u/n_hit_terms) — the two 'bit-identical' paths
    // diverge from EACH OTHER on the same input
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val clean = q(1L -> "dup", 1L -> "merge", 2L -> "vector")
    val dup = clean.unionAll(q(1L -> "dup", 2L -> "vector")) // repeated rows
    val idx = tmpDir("bm25idx_dup")
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, buckets = 16)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val direct = set(Retrieval.bm25TopK(docs, clean, "text", "doc_id"))
    assert(set(Retrieval.bm25TopK(docs, dup, "text", "doc_id")) == direct)
    assert(set(Retrieval.queryBm25Index(spark, idx, dup)) == direct)
  }

  test("bm25 df-ceiling: hot term dropped before the index scan; direct path agrees") {
    // 'zzstop' is in every doc (stopword-like, df = N); 'needle' in 2 of
    // 20. With maxDfFrac = 0.5 the probe must behave as if the hot term
    // were never queried — and the postings scan must never name it (the
    // I/O bound the guard exists for: one hot term otherwise degrades the
    // index probe to a corpus-sized read).
    val docs = (1L to 20L).map { i =>
      val tail = if (i <= 2) "needle" else s"w$i"
      (i, s"zzstop f${i}a f${i}b f${i}c $tail")
    }.toDF("doc_id", "text")
    val idx = tmpDir("bm25idx_df")
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, buckets = 16)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val guarded = Retrieval.queryBm25Index(spark, idx,
      q(1L -> "needle", 1L -> "zzstop"), maxDfFrac = 0.5)
    val restricted = Retrieval.queryBm25Index(spark, idx, q(1L -> "needle"))
    assert(set(guarded) == set(restricted),
      "df-ceiling probe must equal the hot-term-free probe")
    // scan boundedness: the guarded plan must not reference the hot term
    // anywhere (term filter, bucket predicate)
    val scan = guarded.queryExecution.executedPlan.toString
    assert(!scan.contains("zzstop"), "hot term leaked into the guarded probe plan")
    // direct path: in-plan guard gives the same result set
    val directGuarded = Retrieval.bm25TopK(docs, q(1L -> "needle", 1L -> "zzstop"),
      "text", "doc_id", maxDfFrac = 0.5)
    val directRestricted = Retrieval.bm25TopK(docs, q(1L -> "needle"), "text", "doc_id")
    assert(set(directGuarded) == set(directRestricted))
    // every term over the ceiling -> empty result, correct shape
    val empty = Retrieval.queryBm25Index(spark, idx, q(1L -> "zzstop"),
      maxDfFrac = 0.5)
    assert(empty.columns.toSeq ==
      Seq("query_id", "doc_id", "rank", "score_u", "n_hit_terms"))
    assert(empty.count() == 0)
  }

  private def metaJson(idx: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$idx/meta.json")),
      "UTF-8")

  private def probeSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet

  test("bm25 append: N appends probe bit-identical to one full rebuild") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 2L -> "query", 3L -> "stream")
    val full = tmpDir("bm25_full")
    Retrieval.buildBm25Index(docs, "text", "doc_id", full, buckets = 16)
    val inc = tmpDir("bm25_inc")
    // three disjoint shards covering the corpus (null ids ride in shard 0)
    def shard(i: Int) = docs.filter(
      col("doc_id").isNull && lit(i) === 0 || pmod(col("doc_id"), lit(3)) === i)
    Retrieval.buildBm25Index(shard(0), "text", "doc_id", inc, buckets = 16, shardId = "s0")
    assert(Retrieval.appendBm25Index(shard(1), "text", "doc_id", inc, "s1"))
    assert(Retrieval.appendBm25Index(shard(2), "text", "doc_id", inc, "s2"))
    // bit-identical: every score_u, every rank — df/stats merged as exact
    // longs, avgdl derived by the same single division
    assert(probeSet(Retrieval.queryBm25Index(spark, inc, terms, k = 5)) ==
      probeSet(Retrieval.queryBm25Index(spark, full, terms, k = 5)))
  }

  test("bm25 append: prepaid shardTermFrequencies ≡ plain append (store bytes and probe)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 2L -> "query")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val plain = tmpDir("bm25_plain_app")
    Retrieval.buildBm25Index(even, "text", "doc_id", plain, buckets = 16, shardId = "s0")
    assert(Retrieval.appendBm25Index(odd, "text", "doc_id", plain, "s1"))
    val prep = tmpDir("bm25_prep_app")
    Retrieval.buildBm25Index(even, "text", "doc_id", prep, buckets = 16, shardId = "s0")
    // the ingest-pipelining path: the shard's tf relation is precomputed
    // (and persisted) by the caller; the append must derive the identical
    // postings/impacts/meta from it
    val tf1 = Retrieval.shardTermFrequencies(odd, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      tf1.count()
      assert(Retrieval.appendBm25Index(odd, "text", "doc_id", prep, "s1", preTf = tf1))
    } finally tf1.unpersist()
    def rel(path: String, tree: String) =
      spark.read.parquet(s"$path/$tree").collect().map(_.toSeq).toSet
    assert(rel(plain, "postings") == rel(prep, "postings"),
      "prepaid append wrote different postings")
    assert(rel(plain, "impacts") == rel(prep, "impacts"),
      "prepaid append wrote different impacts")
    assert(metaJson(plain) == metaJson(prep),
      "prepaid append committed a different meta (stats/guard)")
    assert(probeSet(Retrieval.queryBm25Index(spark, prep, terms, k = 5)) ==
      probeSet(Retrieval.queryBm25Index(spark, plain, terms, k = 5)))
  }

  test("bm25 append: replayed shard id is a guarded no-op") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge")
    val idx = tmpDir("bm25_replay")
    Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", idx, buckets = 16, shardId = "s0")
    assert(Retrieval.appendBm25Index(docs.filter(col("doc_id") % 2 === 1),
      "text", "doc_id", idx, "s1"))
    val before = probeSet(Retrieval.queryBm25Index(spark, idx, terms))
    // replaying either shard must change nothing (not double-fold df/stats)
    assert(!Retrieval.appendBm25Index(docs.filter(col("doc_id") % 2 === 1),
      "text", "doc_id", idx, "s1"))
    assert(!Retrieval.appendBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", idx, "s0"))
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) == before)
  }

  test("bm25 append: torn append (postings written, meta not) is invisible, then heals on replay") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val idx = tmpDir("bm25_torn")
    Retrieval.buildBm25Index(even, "text", "doc_id", idx, buckets = 16, shardId = "s0")
    val evenOnly = probeSet(Retrieval.queryBm25Index(spark, idx, terms))
    // simulate a crash after the postings write, before the meta commit
    Retrieval.writeShardPostings(odd, "text", "doc_id", idx, 16, "s1")
    // orphan postings must NOT leak into probes (shard filter from meta)
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) == evenOnly)
    // the replayed append overwrites the shard's own partitions and
    // commits meta — results now equal a clean full build
    assert(Retrieval.appendBm25Index(odd, "text", "doc_id", idx, "s1"))
    val full = tmpDir("bm25_torn_full")
    Retrieval.buildBm25Index(docs, "text", "doc_id", full, buckets = 16)
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) ==
      probeSet(Retrieval.queryBm25Index(spark, full, terms)))
  }

  test("bm25 append over a TORN compact heals first — pre-compact postings survive") {
    // write-path half of the adopt-completed-tmp recovery: the append's
    // dynamic overwrite (re-)creates postings/, after which read-side
    // recovery would orphan the completed tmp holding every pre-compact
    // shard — meta would still reference them and probes would silently
    // shrink to the new shard alone
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val idx = tmpDir("bm25_torn_compact")
    Retrieval.buildBm25Index(even, "text", "doc_id", idx, buckets = 16, shardId = "s0")
    Retrieval.compactBm25Index(spark, idx)
    // crash between replaceVia's delete and rename, for BOTH swapped trees
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (tree <- Seq("postings", "impacts"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/$tree"),
        new org.apache.hadoop.fs.Path(s"$idx/${tree}_tmp")))
    assert(Retrieval.appendBm25Index(odd, "text", "doc_id", idx, "s1"))
    val full = tmpDir("bm25_torn_compact_full")
    Retrieval.buildBm25Index(docs, "text", "doc_id", full, buckets = 16)
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) ==
      probeSet(Retrieval.queryBm25Index(spark, full, terms)))
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms, blockMax = true)) ==
      probeSet(Retrieval.queryBm25Index(spark, full, terms)))
  }

  test("bm25 compact: file count drops, probe identical, old-shard replay still guarded") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val terms = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 3L -> "stream")
    val idx = tmpDir("bm25_compact")
    def shard(i: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === i ||
      col("doc_id").isNull && lit(i) === 0)
    Retrieval.buildBm25Index(shard(0), "text", "doc_id", idx, buckets = 16, shardId = "s0")
    (1 to 3).foreach(i => assert(
      Retrieval.appendBm25Index(shard(i), "text", "doc_id", idx, s"s$i")))
    val before = probeSet(Retrieval.queryBm25Index(spark, idx, terms))
    val filesBefore = graft.core.AtomicStore.dataFileCount(spark, s"$idx/postings")
    Retrieval.compactBm25Index(spark, idx)
    val filesAfter = graft.core.AtomicStore.dataFileCount(spark, s"$idx/postings")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the postings tree ($filesBefore -> $filesAfter)")
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) == before)
    // the guard survives compaction: a replay of a compacted-away shard
    // must still short-circuit (re-appending would double its postings)
    assert(!Retrieval.appendBm25Index(shard(2), "text", "doc_id", idx, "s2"))
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) == before)
    // compaction is idempotent
    Retrieval.compactBm25Index(spark, idx)
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, terms)) == before)
  }

  test("bm25 block-max: probe is bit-identical to exhaustive, and actually skips blocks") {
    // impact-skewed corpus: one 8x-tf short doc carries almost all of the
    // term's scoring mass; 199 long tf=1 docs are the low-impact tail the
    // ceiling cut should never read
    val docs = ((0 to 0).map(i => (i.toLong, Array.fill(8)("hot").mkString(" "))) ++
      (1 to 199).map(i => (i.toLong,
        "hot " + (1 to 50).map(j => s"f${i}x$j").mkString(" ")))).toDF("doc_id", "text")
    val idx = tmpDir("bm25_blockmax")
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx)
    for (kk <- Seq(1, 3, 10)) {
      val full = Retrieval.queryBm25Index(spark, idx, q(1L -> "hot"), k = kk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
      val pruned = Retrieval.queryBm25Index(spark, idx, q(1L -> "hot"), k = kk,
          blockMax = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
      assert(pruned == full, s"k=$kk: $pruned vs $full")
    }
    // measured reduction at k=1: only the hot doc's block can reach T
    Retrieval.queryBm25Index(spark, idx, q(1L -> "hot"), k = 1, blockMax = true,
        blockMaxStats = true)
      .write.format("noop").mode("overwrite").save()
    val (survive, total) = Retrieval.lastBlockMaxStats.get
    assert(survive < total, s"block-max pruned nothing: $survive of $total")
    // multi-term fixture query set on the gate corpus: parity again
    val fixture = spark.read.parquet(s"$sf001/documents.parquet")
    val idx2 = tmpDir("bm25_blockmax_fix")
    Retrieval.buildBm25Index(fixture, "text", "doc_id", idx2)
    val qs = q(1L -> "dup", 1L -> "merge", 2L -> "vector", 2L -> "query", 2L -> "fast")
    val a = Retrieval.queryBm25Index(spark, idx2, qs, k = 5).collect()
      .map(_.toSeq).toSet
    val bq = Retrieval.queryBm25Index(spark, idx2, qs, k = 5, blockMax = true)
      .collect().map(_.toSeq).toSet
    assert(a == bq)
  }

  test("bm25 block-max: appended shards merge ceilings; legacy index without impacts is refused") {
    val docs = (0 to 99).map(i => (i.toLong,
      s"zz " + (1 to 10).map(j => s"w${i}y$j").mkString(" "))).toDF("doc_id", "text")
    val idx = tmpDir("bm25_blockmax_app")
    Retrieval.buildBm25Index(docs.filter(col("doc_id") < 50), "text", "doc_id", idx,
      shardId = "s0")
    Retrieval.appendBm25Index(docs.filter(col("doc_id") >= 50), "text", "doc_id",
      idx, "s1")
    val full = Retrieval.queryBm25Index(spark, idx, q(1L -> "zz"), k = 7)
      .collect().map(_.toSeq).toSet
    val pruned = Retrieval.queryBm25Index(spark, idx, q(1L -> "zz"), k = 7,
      blockMax = true).collect().map(_.toSeq).toSet
    assert(pruned == full)
    // compacted index still prunes and still agrees
    Retrieval.compactBm25Index(spark, idx)
    val afterCompact = Retrieval.queryBm25Index(spark, idx, q(1L -> "zz"), k = 7,
      blockMax = true).collect().map(_.toSeq).toSet
    assert(afterCompact == full)
    // df and the ceilings come from the impacts tree: without it every
    // probe, pruned or not, throws naming the tree
    graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(s"$idx/impacts"))
    val probes = Seq[() => Unit](
      () => Retrieval.queryBm25Index(spark, idx, q(1L -> "zz"), k = 7).collect(),
      () => Retrieval.queryBm25Index(spark, idx, q(1L -> "zz"), k = 7, blockMax = true)
        .collect(),
      () => Retrieval.queryBm25IndexBatched(spark, idx, q(1L -> "zz"), k = 7).collect(),
      () => Retrieval.queryBm25IndexBatched(spark, idx, q(1L -> "zz"), k = 7,
        blockMax = true).collect())
    probes.foreach { probe =>
      val e = intercept[IllegalStateException](probe())
      assert(e.getMessage.contains(s"$idx/impacts"), e.getMessage)
    }
  }

  test("bm25 df from impacts: build, append, append, compact, append ≡ countDistinct; stats ≡ one-shot build") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def shard(i: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === i ||
      col("doc_id").isNull && lit(i) === 0)
    val idx = tmpDir("bm25_df")
    Retrieval.buildBm25Index(shard(0), "text", "doc_id", idx, buckets = 16, shardId = "s0")
    assert(Retrieval.appendBm25Index(shard(1), "text", "doc_id", idx, "s1"))
    assert(Retrieval.appendBm25Index(shard(2), "text", "doc_id", idx, "s2"))
    Retrieval.compactBm25Index(spark, idx)
    assert(Retrieval.appendBm25Index(shard(3), "text", "doc_id", idx, "s3"))
    val want = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(countDistinct("doc_id").as("df"))
    val got = Retrieval.documentFrequencies(spark, idx)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (w, g) = (rows(want), rows(got))
    assert(w.nonEmpty && g == w,
      s"df diverged on ${(w.toSet diff g.toSet).take(5)} / ${(g.toSet diff w.toSet).take(5)}")
    val full = tmpDir("bm25_df_full")
    Retrieval.buildBm25Index(docs, "text", "doc_id", full, buckets = 16)
    def stats(path: String) = graft.core.AtomicStore.readMetaJson(spark, s"$path/meta.json") { m =>
      Seq("n_docs", "n_text_docs", "sum_dl", "buckets").map(f => f -> m.required(f).asLong())
    }.get
    assert(stats(idx) == stats(full))
  }

  test("bm25 meta.json: a truncated document or a missing field throws naming the file") {
    val docs = (0 to 9).map(i => (i.toLong, s"aa b$i")).toDF("doc_id", "text")
    val idx = tmpDir("bm25_meta_strict")
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, buckets = 4)
    val file = java.nio.file.Paths.get(s"$idx/meta.json")
    val good = java.nio.file.Files.readAllBytes(file)
    def probeFails(): Unit = {
      val e = intercept[IllegalStateException](
        Retrieval.queryBm25Index(spark, idx, q(1L -> "aa")).collect())
      assert(e.getMessage.contains(s"$idx/meta.json"), e.getMessage)
      assert(intercept[IllegalStateException](Retrieval.indexExists(spark, idx))
        .getMessage.contains("meta.json"))
    }
    java.nio.file.Files.write(file, good.take(good.length / 2))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$idx/.meta.json.crc"))
    probeFails()
    // a complete document without sum_dl, written through the store's own
    // writer (so its checksum holds and only the decoder can reject it)
    graft.core.AtomicStore.writeMetaJson(spark, s"$idx/meta.json") { root =>
      graft.core.AtomicStore.putShardIds(root, Set("base"))
      root.put("n_docs", 10L).put("n_text_docs", 10L).put("buckets", 4)
    }
    probeFails()
  }

  test("bm25 reserved shard id: build and append reject the compacted id") {
    val docs = (0 to 9).map(i => (i.toLong, s"aa b$i")).toDF("doc_id", "text")
    val idx = tmpDir("bm25_reserved")
    val reserved = graft.core.ShardStore.Compacted
    val e1 = intercept[IllegalArgumentException](
      Retrieval.buildBm25Index(docs, "text", "doc_id", idx, shardId = reserved))
    assert(e1.getMessage.contains(reserved))
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, shardId = "s0")
    Retrieval.compactBm25Index(spark, idx)
    val e2 = intercept[IllegalArgumentException](
      Retrieval.appendBm25Index(docs, "text", "doc_id", idx, reserved))
    assert(e2.getMessage.contains(reserved))
  }

  test("bm25 old layout (meta/ relation, no meta.json): reads and appends throw, a build migrates") {
    val docs = (0 to 9).map(i => (i.toLong, s"aa b$i")).toDF("doc_id", "text")
    val idx = tmpDir("bm25_old_layout")
    spark.range(3).write.parquet(s"$idx/meta")
    // not an index entry: a build leaves it alone
    val other = java.nio.file.Paths.get(s"$idx/notes.txt")
    java.nio.file.Files.writeString(other, "kept")
    def old(e: Throwable) =
      assert(e.getMessage.contains(idx) && e.getMessage.contains("rebuild"), e.getMessage)
    old(intercept[IllegalStateException](Retrieval.indexExists(spark, idx)))
    old(intercept[IllegalStateException](
      Retrieval.appendBm25Index(docs, "text", "doc_id", idx, "s1")))
    old(intercept[IllegalStateException](Retrieval.queryBm25Index(spark, idx, q(1L -> "aa"))))
    old(intercept[IllegalStateException](
      Retrieval.queryBm25IndexBatched(spark, idx, q(1L -> "aa"))))
    Retrieval.buildBm25Index(docs, "text", "doc_id", idx, buckets = 4)
    assert(!graft.core.Fs.exists(spark, s"$idx/meta"))
    assert(java.nio.file.Files.readString(other) == "kept")
    assert(Retrieval.indexExists(spark, idx))
    assert(probeSet(Retrieval.queryBm25Index(spark, idx, q(1L -> "b3"))).map(_._2) == Set(3L))
  }

  test("bm25: per-term ranking agrees with the textbook log-idf weights") {
    // single-term queries: quantised odds-idf and log-idf are monotone
    // transforms of the same (tf, dl) ordering -> identical rankings
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val toks = docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs")).crossJoin(
      dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl")))
    val tf = toks.filter(col("tok") === "dup")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfq = toks.filter(col("tok") === "dup")
      .select("doc_id", "tok").distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(dl, "doc_id").join(dfq, "tok").crossJoin(broadcast(stats))
      .select(col("doc_id"),
        Retrieval.bm25LogIdf(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("avgdl")).as("log_s"))
      .orderBy(desc("log_s"), col("doc_id"))
      .limit(5).collect().map(_.getLong(0)).toSeq
    val quantised = Retrieval.bm25TopK(docs, q(9L -> "dup"), "text", "doc_id", k = 5)
      .orderBy("rank").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(scored == quantised)
  }
}
