package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Span, Tables}
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis

/** North-star training-data-pipeline operators (dedup, similarity search,
  * text analysis, multimodal, sessionization) as oracle-checked queries.
  * Same conventions as [[ReferenceQueries]]. Hash-valued emissions use the
  * oracle-portable md5 family ([[PortableSql]]); approximate-KNN emissions
  * use recall/parity invariants the oracle asserts; LSH near-dup pairs
  * (q31) are exact-verified against the all-pairs shingle-Jaccard ground
  * truth. Round 4: every catalog query has a full oracle. */
object PipelineQueries {
  import ReferenceQueries.Q

  /** Recall-invariant emission for approximate-KNN gate queries: the
    * approximate result is compared to the exact brute-force top-k
    * SPARK-side, and what reaches the driver is (query_id, n_results,
    * recall_ok) — all three oracle-computable, so the DuckDB gate verifies
    * the operator's recall CONTRACT externally instead of skipping the
    * query. `minHits` is the operator's floor on |approx ∩ exact-top-k|
    * per query (deterministic: all hashes are seed-fixed).
    *
    * FIXTURE-CALIBRATED, fail-loud by design (round-3 advice): the oracle
    * side hardcodes the fixture facts — n_results = k = 10, the query set
    * `vec_id < 8`, and each caller's measured recall floor. Changing k,
    * the query set, or the embedding fixtures therefore surfaces as an
    * n_results/recall_ok value mismatch at the gate rather than silently
    * passing; the recalibration step is: re-measure `n_hits` per query at
    * both gate SFs and set each floor strictly under the deterministic
    * minimum (see the q35/q54 calibration comments). An approx query whose
    * candidate pool is smaller than k fails n_results on purpose — a
    * shrunken pool is a retrieval regression, not a tolerable variant. */
  private[queries] def recallInvariant(approx: DataFrame, exact: DataFrame,
      minHits: Int): DataFrame = {
    val hits = approx.join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    approx.groupBy("query_id").agg(count(lit(1)).as("n_results"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("recall_ok"))
      .orderBy("query_id")
  }

  /** The shared oracle for recall/parity-invariant ANN emissions. */
  private[queries] def knnInvariantOracle(bools: Seq[String] = Seq("recall_ok")): String = {
    val bs = bools.map(b => s"TRUE AS $b").mkString(", ")
    s"SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results, $bs " +
      "FROM embeddings WHERE vec_id < 8 ORDER BY query_id"
  }


  val all: Map[String, Q] = Map(
    // exact dedup: deterministic keeper + group size per distinct content
    "q30_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.load(s, dir, "documents"), "text", "doc_id")
        .select("keep_id", "n_dups").orderBy("keep_id")),

    // incremental exact dedup: a derived "already ingested" batch
    // (doc_id % 3 == 0) populates the 8-byte seen-hash store; the incoming
    // batch anti-joins against it. The surviving ID SET is
    // hash-value-independent (the hash only stands in for text equality),
    // so the DuckDB oracle checks it with a plain NOT EXISTS on text.
    "q88_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val seen = Dedup.seenHashes(docs.filter(col("doc_id") % 3 === 0), "text")
      Dedup.dropSeen(docs.filter(col("doc_id") % 3 =!= 0), "text", seen)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs with a FULL external oracle (round-4: was
    // rows-only). The banded candidate set itself is probabilistic
    // (P[candidate] = 1-(1-J^r)^b), but this corpus's SHINGLE-Jaccard
    // distribution — the quantity minhash estimates — is bimodal with a
    // measured empty gap (no pair in [0.2, 0.8) at sf0.001/sf0.01; near-dup
    // pairs all sit at J >= 0.8 where the S-curve gives P ≈ 0.985..1), so
    // candidates ∩ {exact J >= 0.8} IS the deterministic all-pairs set
    // DuckDB recomputes from raw text. The emission therefore verifies,
    // bit-for-bit: (1) LSH recall on the high-similarity regime (a missed
    // pair = row mismatch), (2) the exact re-scoring join (n_common /
    // n_union / jaccard, the q33 move), (3) the minhash ESTIMATE's
    // accuracy contract (est_ok: |est - exact| <= 0.2 ≈ 4σ at k=32).
    // Spark-side cost stays candidate-bounded — exact Jaccard runs only on
    // LSH survivors, never all pairs; only the sf-gate-sized oracle is
    // quadratic.
    // FIXTURE-CALIBRATED GATE (r4 advice): per-pair candidate probability
    // at J=0.8 with r=4,b=8 is ~0.985 and maxBucket truncation could also
    // drop candidates — deterministic for the seed-fixed fixtures, but on a
    // NEW fixture/SF a row-count deficit vs the oracle here means an LSH
    // recall miss (or maxBucket truncation), not a scoring bug: diagnose by
    // diffing the oracle's pair set against candidates BEFORE re-scoring.
    "q31_minhash_pairs" -> ((s, dir) =>
      Dedup.verifiedNearDupPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", minJaccard = 0.8)
        .select(col("id_a"), col("id_b"), col("n_common"), col("n_union"),
          col("jaccard"), (abs(col("est_jaccard") - col("jaccard")) <= 0.2).as("est_ok"))
        .orderBy("id_a", "id_b")),

    // SimHash signatures in the oracle-portable (md5-derived, 48-bit) hash
    // family, mirrored bit-for-bit by the DuckDB oracle. The xxhash64
    // production simhash (native expression) keeps its bit-parity spec
    // coverage in TextHashExpressionsSpec.
    "q32_simhash" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), Dedup.portableSimhash(col("text")).as("simhash_p"))
        .orderBy("doc_id")),

    // exact token-set Jaccard over bounded candidate pairs
    "q33_jaccard_pairs" -> ((s, dir) =>
      Dedup.tokenJaccardPairs(Tables.load(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy("id_a", "id_b")),

    // brute-force cosine top-10 for 8 query vectors (exact ANN baseline)
    "q34_knn_bruteforce" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed approximate top-10, 4-probe multi-probe. Gate emission
    // is the recall invariant vs the exact brute-force top-10 (computed
    // Spark-side), so the DuckDB oracle externally verifies the recall
    // contract; the neighbor lists themselves stay spec'd in
    // SimilaritySpec. Probing fans out only the broadcast query side.
    // Floor calibration: the synthetic embedding corpus is near-uniform
    // for these query vectors (brute-force top-1 cosine is only
    // 0.32–0.49), so recall tracks probe COVERAGE (4 of 8 buckets ≈ 0.5
    // expected) rather than locality; the floor sits under the measured
    // deterministic minimum (3/10 at sf0.1, 5/10 at sf0.01) with margin.
    // Planted high-similarity recovery — the regime LSH is FOR — is
    // spec'd in SimilaritySpec where the data supports it.
    "q35_knn_lsh" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      recallInvariant(
        Similarity.lshKnn(q, emb, "vec_id", "embedding", 10, 3, probes = 4),
        Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 10),
        minHits = 2)
    }),

    // IVF-indexed approximate top-10 (hash-sampled centroids, one Lloyd
    // refinement pass over a 25% hash-sample); recall-invariant emission.
    // Same floor calibration as q35: near-uniform corpus → recall ≈
    // nProbe/nCentroids coverage (8/16); measured deterministic minimum
    // 4/10 at both SFs, floor 3 with margin.
    "q54_knn_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      // centroid training (hash-sample + Lloyd) collects eagerly at
      // construction; the exact baseline is independent — overlapped
      val (approx, exact) = graft.core.Par.both(
        Similarity.ivfKnn(q, emb, "vec_id", "embedding",
          k = 10, nCentroids = 16, nProbe = 8, lloydIters = 1, lloydSamplePct = 25),
        Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 10)
          .localCheckpoint(true))
      recallInvariant(approx, exact, minHits = 3)
    }),

    // embedding near-duplicate pairs (bounded to same label)
    "q36_embedding_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.25)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("id_a", "id_b")),

    // language-ID heuristic
    "q40_langid" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // quality scoring
    "q41_quality" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // per-document token statistics
    "q42_token_stats" -> ((s, dir) => {
      val t = col("text")
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.tokenCountBpeIsh(t).cast("int").as("n_bpe"),
        TextAnalysis.charCount(t).as("n_chars"),
        TextAnalysis.punctRatio(t).as("punct_ratio"),
        TextAnalysis.stopwordRatio(t).as("stopword_ratio"))
        .orderBy("doc_id")
    }),

    // corpus statistics grouped by language and source
    "q43_text_stats" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang", "source")),

    // content-hash + simhash document fingerprints, portable hash family
    // (the xxhash64 production pair stays in Dedup.fingerprints, spec'd)
    "q44_doc_fingerprint" -> ((s, dir) =>
      Dedup.portableFingerprints(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // multimodal stub pipeline: binary media column → per-partition decode
    "q45_multimodal_features" -> ((s, dir) =>
      Multimodal.features(s, Tables.load(s, dir, "documents"), partitions = 32)
        .select("doc_id", "n_bytes", "head_cp", "width", "height")
        .orderBy("doc_id")),

    // REAL WAV PCM round trip under the external gate: each doc gets 64
    // deterministic 16-bit samples (pure integer formula on doc_id),
    // ENCODED into genuine RIFF/WAVE bytes, then DECODED back through the
    // real PCM sample decoder — container writing, chunk walking and
    // sample math all land on the oracle, which recomputes the features
    // straight from the formula with no WAV involvement. Hash-stability:
    // every intermediate is a dyadic rational (s/2^15, s²/2^30, partial
    // sums integers/2^30 < 2^53), so both engines hold EXACT doubles and
    // sqrt/floor round identically regardless of summation order.
    "q89_audio_pcm" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.load(s, dir, "documents").select("doc_id").as[Long]
        .map { id =>
          val samples = (0 until 64)
            .map(i => ((id * 31 + i * 17) % 65536L - 32768L).toInt)
          Multimodal.MediaRow(id, Multimodal.encodeWavPcm16(samples, 1, 8000), "wav")
        }
      Multimodal.audioFeatures(media).toDF()
        .select(col("doc_id"), col("n_frames"),
          floor(col("rms") * 1e6).cast("long").as("rms_u"),
          floor(col("peak") * 1e6).cast("long").as("peak_u"),
          floor(col("silence_ratio") * 1e6).cast("long").as("silence_u"))
        .orderBy("doc_id")
    }),

    // duplicate clusters: connected components (min-label propagation) over
    // exact-Jaccard near-dup edges — the transitive-closure step after
    // candidate scoring; oracle = DuckDB recursive CTE
    "q56_dup_clusters" -> ((s, dir) => {
      val edges = Dedup.tokenJaccardPairs(
        Tables.load(s, dir, "documents"), "text", "doc_id", 3)
        .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
      Dedup.duplicateClusters(edges).orderBy("id")
    }),

    // quality-keeper cluster dedup — what production near-dedup actually
    // ships: within each connected component of the near-dup graph keep
    // the BEST-QUALITY member (q56 keeps min-id; real pipelines keep the
    // best document). Keeper = max (quality, -id) — highest quality, ties
    // to the smallest id — via a partial+final aggregate plus a join-back
    // (skew-safe; no window). Oracle extends q56's recursive-CTE
    // connected components with the quality argmax.
    "q106_cluster_keeper" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val edges = Dedup.tokenJaccardPairs(docs, "text", "doc_id", 3)
        .filter(col("jaccard") >= 0.5).select("id_a", "id_b")
      val scored = Dedup.duplicateClusters(edges)
        .join(docs.select(col("doc_id").as("id"),
          TextAnalysis.qualityScore(col("text")).as("quality")), "id")
      val keepers = scored.groupBy("cluster_id")
        .agg(max(struct(col("quality"), (-col("id")).as("nid"))).as("best"))
        .select(col("cluster_id"), (-col("best.nid")).as("keeper_id"))
      scored.join(keepers, "cluster_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("quality"),
          (col("id") === col("keeper_id")).as("is_keeper"))
        .orderBy("doc_id")
    }),

    // corpus curation: best-quality k docs per language via the k-bounded
    // partial top-k aggregate (same operator that ranks the ANN paths)
    "q57_quality_topk" -> ((s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      scored.groupBy("lang")
        .agg(graft.functions.expressions.TopKAggregate
          .topK(struct(col("quality"), col("doc_id")), 5).as("topk"))
        .select(col("lang"), posexplode(col("topk")).as(Seq("pos", "hit")))
        .select(col("lang"), col("hit.doc_id").as("doc_id"),
          col("hit.quality").as("quality"), (col("pos") + 1).cast("int").as("rank"))
        .orderBy("lang", "rank")
    }),

    // the q19 hourly aggregate computed by an ACTUAL Structured Streaming
    // query over the same files (availableNow); oracle = q19's SQL, so the
    // DuckDB gate proves stream ≡ batch
    "q55_streaming_window" -> ((s, dir) =>
      graft.streaming.StreamingReconcile.hourlyAggStream(s, dir)
        .orderBy("hour", "event_type")),

    // embedding pooling: L2-normalise each vector, quantise to integer
    // micro-units (1e-9), exact element-wise sum per label via the native
    // VectorSumAgg — one dim-length array per (task × label) crosses the
    // shuffle instead of |rows|·dim posexplode rows. Quantisation makes the
    // cross-row sum order-independent (integer addition), so the DuckDB
    // oracle matches bit-for-bit; per-row double ops (cast, /norm, round)
    // are index-ordered IEEE, identical in both engines.
    "q63_embed_pool" -> ((s, dir) => {
      import graft.functions.expressions.VectorAggregates
      val d = transform(col("embedding"), x => x.cast("double"))
      val nrm = sqrt(aggregate(d, lit(0.0), (acc, x) => acc + x * x))
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), d.as("e"), nrm.as("nrm"))
        .filter(col("nrm") > 0) // zero vectors have no direction to pool
        .select(col("vec_id"), col("label"),
          transform(col("e"), x => round(x / col("nrm") * lit(1e9)).cast("long")).as("qv"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), VectorAggregates.vectorSum(col("qv")).as("s"))
        .select(col("label"), col("n_vecs"),
          element_at(col("s"), 1).as("c0"), element_at(col("s"), 2).as("c1"),
          element_at(col("s"), 3).as("c2"), element_at(col("s"), 4).as("c3"))
        .orderBy("label")
    }),

    // unigram corpus-frequency scoring: how "common-word heavy" each doc is
    // — sum over tokens of the token's corpus frequency (exact integers;
    // the log-weighted variant is TextAnalysis.unigramLogMass, spec'd —
    // libm log10 rounding differs across engines so the oracle uses the
    // exact form). Two shuffles: corpus term frequency, then (doc,tok)
    // join back on tok — both partial-aggregated map-side.
    "q64_corpus_freq" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .join(tf, "tok")
        .groupBy("doc_id")
        // (doc_id, tok) rows are unique post-aggregate: plain count = the
        // distinct-token count without a distinct-aggregate expand
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
          sum(col("c") * col("cf")).as("sum_cf"))
        .orderBy("doc_id")
    }),

    // statistical-LM quality scoring (CCNet-shaped, model-free): per-doc
    // bigram coherence vs the corpus's own bigram table — one sequence-
    // modeling step past q64's unigram corpus frequency. Exact integer
    // sums + a quantised ratio keep the external hash gate bit-stable.
    "q90_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramStats(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // streaming exact dedup: first occurrence per (user_id, event_type) via
    // dropDuplicates state over an ACTUAL stream of the events files, then
    // a batch rollup of the deduped memory-sink rows. Stream ≡ batch
    // `count(DISTINCT user_id)` — the DuckDB gate checks it end-to-end.
    "q65_streaming_dedup" -> ((s, dir) =>
      graft.streaming.StreamingReconcile.dedupStream(s, dir)
        .orderBy("event_type")),

    // watermarked stream-stream attribution join (events within 1h of the
    // same user's signup), availableNow — oracle = the batch self-join
    "q79_stream_join" -> ((s, dir) =>
      graft.streaming.StreamingReconcile.attributionJoinStream(s, dir)
        .orderBy("event_type")),

    // streaming shard ingest dedup'd against the PERSISTED seen store
    // (the dedup_seen pipeline step as a live stream): history pre-folded,
    // the stream redelivers every history text under new ids alongside
    // the fresh odd docs, per-micro-batch foreachBatch filter + fold with
    // batch-id idempotency — the emission must be exactly the fresh docs
    "q103_streaming_seen" -> ((s, dir) =>
      graft.streaming.StreamingReconcile.seenDedupStream(s, dir)
        .orderBy("doc_id")),

    // streaming shard ingest dedup'd against the PERSISTED near-dup store
    // (round-7 task #3 — the dedup_neardup step as a live stream):
    // history pre-folded, the stream carries fresh odd docs plus history
    // texts redelivered under new odd ids, in TWO id-arithmetic
    // micro-batches (doc_id % 4) so the order-dependent odd↔odd near-dup
    // survivorship is deterministic; the oracle simulates the same
    // sequential store fold with chained NOT-EXISTS levels
    "q110_streaming_neardup" -> ((s, dir) =>
      graft.streaming.StreamingReconcile.neardupDedupStream(s, dir)
        .orderBy("doc_id")),

    // persisted IVF index round trip: build (centroid-partitioned corpus on
    // disk) then probe — the build-once/probe-many ANN shape. Gate emission
    // is the parity invariant "probing the on-disk index returns EXACTLY
    // the direct ivfKnn ranking", verified per query — a strict equality,
    // not a recall bound, so the round trip through the partitioned layout
    // is externally checked end-to-end.
    // FILTERED vector search — "top-k within the query's own label
    // slice", the shape every production vector store ships (tenant /
    // category / language scoping). The gate emission is the EXACT
    // pre-filtered top-k for EVERY query (value-checked: the oracle
    // recomputes it with the label predicate in the join), plus a
    // strict-parity boolean against the INDEX path: a label-SHARDED IVF
    // index probed with shardFilter = {query's label} and nProbe = ALL
    // centroids is an exhaustive scan of exactly the slice's partition
    // directories — so it must reproduce the exact scan rank-for-rank,
    // while the plan reads only that label's subtree. Index parity is
    // SAMPLED on the two smallest query labels per run (a full ten-shard
    // build+probe round trip is pure job-count overhead at gate scale —
    // the q113-class cost ceiling); `in_parity_sample` says which rows
    // carry a REAL parity check, and the oracle recomputes that set, so
    // a vacuous TRUE can never masquerade as a checked one. Shard
    // pruning semantics are spec'd exhaustively in SimilaritySpec.
    "q129_filtered_knn" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val exact = Similarity.filteredBruteForceKnn(
        q, emb, "vec_id", "embedding", "label", k = 10)
      val sampled = q.select("label").distinct()
        .collect().map(_.getInt(0)).sorted.take(2) // ≤|labels| rows
      val idxDir = graft.core.Fs.scratchDir("graft_ivf_filtered")
      val viaIndex = try {
        Span("build") {
          Similarity.buildIvfIndex(emb.filter(col("label") === sampled.head),
            "vec_id", "embedding", idxDir.toString, nCentroids = 4,
            shardId = s"label_${sampled.head}")
          sampled.tail.foreach(l => Similarity.appendIvfIndex(
            emb.filter(col("label") === l), "vec_id", "embedding",
            idxDir.toString, s"label_$l"))
        }
        Span("probe")(sampled.toSeq.map { l =>
          Similarity.queryIvfIndex(s, idxDir.toString,
            q.filter(col("label") === l), "vec_id", "embedding",
            k = 10, nProbe = 4, shardFilter = Set(s"label_$l"))
        }.reduce(_ unionAll _).localCheckpoint(true))
      } finally graft.core.Fs.deleteRecursively(idxDir)
      val qLabels = q.select(col("vec_id").as("query_id"), col("label"))
      exact
        .join(broadcast(qLabels), Seq("query_id"))
        .join(viaIndex.select(col("query_id"), col("rank"),
          col("neighbor_id").as("__idx_nbr")), Seq("query_id", "rank"), "left")
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos_r"),
          col("label").isin(sampled.map(Integer.valueOf).toSeq: _*)
            .as("in_parity_sample"),
          when(col("label").isin(sampled.map(Integer.valueOf).toSeq: _*),
            coalesce(col("__idx_nbr") === col("neighbor_id"), lit(false)))
            .otherwise(lit(true)).as("shard_parity_ok"))
        .orderBy("query_id", "rank")
    }),

    "q83_ivf_index" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      // unique dir per invocation (a fixed shared path would let two
      // concurrent runs overwrite each other's index mid-query), deleted
      // after the probe result is MATERIALISED — the lazy plan reads the
      // index files, so deletion must wait for the localCheckpoint
      val idxDir = graft.core.Fs.scratchDir("graft_ivf_index")
      // store round trip ∥ direct in-memory IVF scan (disjoint trees; the
      // direct leg's centroid training collects eagerly at construction)
      // — the q113 overlap, max not sum
      val (viaIndex, direct) = graft.core.Par.both(
        try {
          Span("build")(Similarity.buildIvfIndex(emb, "vec_id", "embedding",
            idxDir.toString, nCentroids = 16))
          Span("probe")(Similarity.queryIvfIndex(s, idxDir.toString, q,
              "vec_id", "embedding", k = 10, nProbe = 4)
            .localCheckpoint(true))
        } finally graft.core.Fs.deleteRecursively(idxDir),
        Similarity.ivfKnn(q, emb, "vec_id", "embedding",
            k = 10, nCentroids = 16, nProbe = 4)
          .localCheckpoint(true))
      val a = viaIndex.select(col("query_id"), col("neighbor_id"), col("rank"))
      val b = direct.select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank_d"))
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("n_results"),
          max(when(col("rank").isNull || col("rank_d").isNull ||
            col("rank") =!= col("rank_d"), 1).otherwise(0)).as("mm"))
        .select(col("query_id"), col("n_results"),
          (col("mm") === 0).as("index_parity_ok"))
        .orderBy("query_id")
    }),

    // sessionization over the events stream (30-min gap), batch form of the
    // mapGroupsWithState streaming operator
    "q46_sessionize" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gap = unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w))
      e.select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("new_s", when(gap.isNull || gap > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // BM25 ranked retrieval (inverted-index plan, broadcast query terms,
    // k-bounded rank). Scores are the quantised odds-idf form — every
    // arithmetic op IEEE-exact and spelled identically in the oracle SQL,
    // so score_u and hence ranks match bit-for-bit (see Retrieval's
    // Scaladoc for why libm ln is banned from the gate path). The fixed
    // query set spans the fixture's df spectrum: 'dup' is rare (df≈5% of
    // docs), the rest saturate — so ranking exercises both the idf and the
    // tf/length factors.
    "q91_bm25" -> ((s, dir) =>
      graft.text.Retrieval.bm25TopK(Tables.load(s, dir, "documents"),
          bm25QueryDf(s), "text", "doc_id", k = 5)
        .orderBy("query_id", "rank")),

    // duplicate-SPAN statistics (Lee et al. 2022 substring dedup, stride-1
    // 8-token windows, portable window hashes). Distinguishes within-doc
    // repetition (n_dup_windows) from cross-doc contamination
    // (n_xdoc_windows); the fixture's planted near-dup pairs and
    // repetition docs light up exactly these counters.
    "q92_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpanStats(Tables.load(s, dir, "documents"),
          "doc_id", "text", w = 8)
        .orderBy("doc_id")),

    // q91 routed through the PERSISTED inverted index (build → probe →
    // drop, the q83 pattern): the emission must reproduce the direct
    // bm25TopK ranking value-for-value, so the SAME oracle SQL verifies
    // the whole index round trip — postings layout, bucket partition
    // pruning, df/stats relations — externally. Bit-equality holds
    // because the quantised score algebra is identical on both paths.
    "q95_bm25_index" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idxDir = graft.core.Fs.scratchDir("graft_bm25_index")
      try {
        // buckets sized to the gate corpus (the 100 TB deployment knob is
        // vocabulary-hash fanout; 64 dirs for a <1 MB corpus is pure
        // small-file overhead — results are bucket-count-invariant, spec'd)
        Span("build")(graft.text.Retrieval.buildBm25Index(docs, "text", "doc_id",
          idxDir.toString, buckets = 8))
        Span("probe")(graft.text.Retrieval
          .queryBm25Index(s, idxDir.toString, bm25QueryDf(s), k = 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)) // materialise before the index dir dies
      } finally graft.core.Fs.deleteRecursively(idxDir)
    }),

    // the q91 corpus INGESTED AS TWO SHARDS — build on the first, append
    // the second (O(shard) df/stats merges, dynamic-overwrite postings) —
    // then probed. The emission must equal the full-corpus oracle
    // bit-for-bit, which externally certifies the whole incremental
    // maintenance path: per-shard postings partitions, exact long-sum
    // df/stats merge, derived avgdl, replay guard plumbing. Null-id docs
    // ride in shard 0 so the shard union is exactly the corpus. (Gate
    // sizing: one append exercises every merge code path; the N-append
    // decomposition invariance is spec'd bit-for-bit in RetrievalSpec, so
    // a second in-gate append bought only job-count overhead.)
    "q97_bm25_append" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def shard(i: Int) = docs.filter(
        col("doc_id").isNull && lit(i) === 0 || pmod(col("doc_id"), lit(2)) === i)
      val idxDir = graft.core.Fs.scratchDir("graft_bm25_append")
      try {
        // ingest pipelining: shard 1's tokenize+tf pass (a deterministic
        // pure function of the shard, lineage-preserving persist) runs
        // WHILE shard 0 builds — the append then derives postings/
        // impacts/df/sum_dl from the prepaid relation instead of paying
        // its own tokenize pass. Work stays per-shard; the append's
        // protocol order (meta read → postings → meta commit) unchanged.
        val tf1 = graft.text.Retrieval
          .shardTermFrequencies(shard(1), "text", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        try {
          graft.core.Par.both(
            Span("build")(graft.text.Retrieval.buildBm25Index(shard(0), "text",
              "doc_id", idxDir.toString, buckets = 8, shardId = "shard0")),
            tf1.count()) // materialise the persist ∥ the build
          Span("append")(graft.text.Retrieval.appendBm25Index(shard(1), "text",
            "doc_id", idxDir.toString, "shard1", preTf = tf1))
        } finally tf1.unpersist()
        Span("probe")(graft.text.Retrieval
          .queryBm25Index(s, idxDir.toString, bm25QueryDf(s), k = 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)) // materialise before the index dir dies
      } finally graft.core.Fs.deleteRecursively(idxDir)
    }),

    // q91 through the persisted index WITH block-max pruning (round-7
    // task #6): per-(term, block) score ceilings cut the posting blocks
    // that cannot reach the top-k, and the emission must STILL match the
    // exhaustive-scan oracle bit-for-bit — the pruning's exactness proof,
    // certified externally (same oracle SQL as q91/q95/q97).
    "q112_bm25_blockmax" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idxDir = graft.core.Fs.scratchDir("graft_bm25_blockmax")
      try {
        Span("build")(graft.text.Retrieval.buildBm25Index(docs, "text", "doc_id",
          idxDir.toString, buckets = 8))
        Span("probe")(graft.text.Retrieval
          .queryBm25Index(s, idxDir.toString, bm25QueryDf(s), k = 5, blockMax = true)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)) // materialise before the index dir dies
      } finally graft.core.Fs.deleteRecursively(idxDir)
    }),

    // SimHash near-dup pairs via Manku et al. 2007 §3 block-combination
    // banding: b=6 blocks of the 48-bit portable signature, one packed
    // 24-bit key per C(6,3)=20 combinations of 3 blocks — any pair within
    // hamming 3 agrees on some combination (100% recall BY CONSTRUCTION,
    // not probabilistically), exact popcount filter. The oracle recomputes
    // signatures from raw text and the FULL all-pairs ground truth —
    // quadratic only at gate SF; the Spark side stays candidate-bounded
    // with N²/2^24-per-table growth (vs N²/2^12 for minimal b=4 banding).
    "q94_simhash_pairs" -> ((s, dir) =>
      Dedup.portableSimhashPairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // the same banding machinery at a SECOND signature width: the full
    // 60-bit md5 prefix (uneven 6-block division of 60 bits, 30-bit
    // combination keys) — a different hamming geometry than q94's 48-bit
    // truncation, same all-pairs external ground truth. Together the two
    // widths pin the block/combination arithmetic the 64-bit production
    // path (DuckDB-unverifiable: no xxhash64) shares; its own gate is the
    // banded-vs-brute-force property spec in DedupSpec.
    "q96_simhash60_pairs" -> ((s, dir) =>
      Dedup.portableSimhash60Pairs(Tables.load(s, dir, "documents"),
          "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // duplicate-span REMOVAL (the transform half of q92 — Lee et al. 2022
    // applied, not just measured): tokens covered by a corpus-duplicated
    // 8-token window are cut and the survivors rejoined. The cleaned TEXT
    // itself is the emission, so the DuckDB gate verifies the actual
    // transform output string-for-string, not a summary of it.
    "q93_strip_dup_spans" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(Tables.load(s, dir, "documents"),
          "doc_id", "text", w = 8)
        .orderBy("doc_id")),

    // CCNet paragraph (LINE) deduplication — Wenzek et al. 2020 §3.1:
    // every line keeps its corpus-FIRST occurrence (min packed
    // (doc_id, pos)) and loses the rest; the cleaned text itself is the
    // emission (q93 discipline: the gate verifies the transform output
    // string-for-string). The fixture's docs are single-line, so the
    // operator degenerates to exact-text dedup THERE (later copies empty
    // out); the multi-line arms are spec'd on crafted docs (DedupSpec).
    "q117_strip_dup_lines" -> ((s, dir) =>
      Dedup.removeDuplicateLines(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // PII redaction with per-type counts. The fixture corpus carries no
    // PII (verified: zero regex hits at both gate SFs), so the query
    // derives a deterministic PII-bearing text from `customer` columns on
    // BOTH sides — only some rows get an email/ip/phone (custkey mod
    // classes) so the counts vary — then redacts with the production
    // [[TextAnalysis.redactPii]] staging (email → IPv4 → phone). Counts
    // come from the SAME staged intermediates the replacement uses, so
    // count and replacement semantics cannot drift apart. The full
    // redacted string is the emission: the gate hash-checks the actual
    // transform output (q93 discipline), and any Java-vs-RE2 semantic
    // divergence in the shared patterns would surface here as a hash
    // mismatch — this query IS the cross-engine regex-portability gate.
    // Product-quantisation ANN with exact re-rank (Jégou et al. 2011,
    // spherical per-block codebooks; the COMPRESSION leg of web-scale
    // ANN): 8 blocks x 32 codes = 40 bits/vector, ADC shortlist at 5% of
    // the corpus, true-vector exact cosine only on the shortlist.
    // Recall-invariant emission (q35/q54 discipline). Floor calibration
    // (PqCalibrate, 5% shortlist, m=8 k=32 lloyd=1): per-query hits
    // 8-10/10 at sf0.001, 9-10 at sf0.01, 10 at sf0.1 — floor 6 sits
    // strictly under the deterministic minimum. Raw ADC ranking alone
    // lands 2-4/10 on this near-uniform fixture (random data is PQ's
    // worst case); the rerank leg is therefore part of the operator's
    // production contract, not an embellishment.
    "q102_pq_knn" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val shortlist = math.max(100L, emb.count() / 20).toInt
      // codebook training collects eagerly at construction; the exact
      // baseline shares no state with it — overlapped, max not sum. The
      // probe itself is lazy and runs in the caller's action.
      val (approx, exact) = graft.core.Par.both(
        Span("train")(Similarity.pqKnnRerank(q, emb, "vec_id", "embedding",
          k = 10, shortlist = shortlist, m = 8, kCodes = 32, lloydIters = 1)),
        Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 10)
          .localCheckpoint(true))
      recallInvariant(approx, exact, minHits = 6)
    }),

    // Persisted PQ index round trip (the q83/q95 parity discipline for
    // the compression leg): build writes frozen codebooks + shard-
    // partitioned codes + atomic meta; the probe must reproduce the
    // direct pqKnn ADC ranking RANK-FOR-RANK. Exactness holds because
    // ADC scoring is a per-row LEFT-TO-RIGHT array fold (deterministic
    // FP order on both paths — see Similarity.adcScored) and codebooks
    // round-trip parquet floats bit-exactly. The direct path scores
    // against the INDEX's codebooks (the caller-supplied-codebook
    // production shape): training determinism is pinned separately by
    // PqSpec, so retraining in-gate proved nothing the spec doesn't,
    // and sharing isolates the parity to what this gate is FOR — the
    // encode → partitioned-store → probe round trip.
    "q105_pq_index" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val idxDir = graft.core.Fs.scratchDir("graft_pq_index")
      val (viaIndex, cb) = try {
        Span("build")(Similarity.buildPqIndex(emb, "vec_id", "embedding",
          idxDir.toString, m = 8, kCodes = 32, lloydIters = 1))
        // probe and stored-codebook read are independent materialisations
        // of the committed index — overlapped, max not sum
        graft.core.Par.both(
          Span("probe")(Similarity
            .queryPqIndex(s, idxDir.toString, q, "vec_id", "embedding", k = 10)
            .localCheckpoint(true)), // materialise before the index dir dies
          s.read.parquet(s"$idxDir/codebooks").localCheckpoint(true))
      } finally graft.core.Fs.deleteRecursively(idxDir)
      val direct = Similarity.pqKnn(q, emb, "vec_id", "embedding",
        k = 10, m = 8, kCodes = 32, lloydIters = 1, codebooks = Some(cb))
      val a = viaIndex.select(col("query_id"), col("neighbor_id"), col("rank"))
      val b = direct.select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank_d"))
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("n_results"),
          max(when(col("rank").isNull || col("rank_d").isNull ||
            col("rank") =!= col("rank_d"), 1).otherwise(0)).as("mm"))
        .select(col("query_id"), col("n_results"),
          (col("mm") === 0).as("index_parity_ok"))
        .orderBy("query_id")
    }),

    // The full web-scale ANN composition: IVF bounds WHICH docs score
    // (probed clusters only), PQ bounds WHAT is read to score them
    // (40-bit codes), exact re-rank touches true vectors only for the
    // ADC shortlist. Recall composes multiplicatively across the three
    // prunings, so the floor is calibrated for the COMPOSITION
    // (PqCalibrate, nProbe=8/16 clusters, 5% shortlist): per-query hits
    // 3-9/10 at sf0.001, 3-9 at sf0.01, 4-9 at sf0.1 — the IVF coverage
    // ceiling (~nProbe/nCentroids on this near-uniform fixture, q54's
    // own trade) dominates; floor 2 sits strictly under the minimum.
    "q104_ivfpq_knn" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val shortlist = math.max(100L, emb.count() / 20).toInt
      // centroid + codebook training collects eagerly at construction;
      // the exact baseline is independent — overlapped (q102 discipline)
      val (approx, exact) = graft.core.Par.both(
        Span("train")(Similarity.ivfPqKnn(q, emb, "vec_id", "embedding", k = 10,
          nCentroids = 16, nProbe = 8, shortlist = shortlist,
          m = 8, kCodes = 32, lloydIters = 1)),
        Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 10)
          .localCheckpoint(true))
      recallInvariant(approx, exact, minHits = 2)
    }),

    // IVF index INCREMENTAL MAINTENANCE (the q97 discipline for ANN): the
    // corpus ingested as three shards — build on the first (centroids
    // frozen there), append the rest — must probe BIT-IDENTICALLY to an
    // independent in-memory IVF scan of the full corpus against the SAME
    // frozen centroids (ivfKnnWith, a path that never touches the store
    // code). That subsumes the shard-decomposition invariance a
    // daily-ingest pipeline relies on (any two decompositions equal the
    // direct scan, hence each other — the N-append ≡ rebuild case stays
    // bit-for-bit in QuantizedSpec) and is strictly harder to pass than
    // the old append-vs-append comparison. Emitted as per-query parity
    // booleans (q83 discipline) the DuckDB gate asserts TRUE. n_results
    // pins the probe's result count, so a shrunken candidate pool (lost
    // shard, over-pruned scan) fails loudly.
    "q101_ivf_append" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      def shard(i: Int) = emb.filter(pmod(col("vec_id"), lit(3)) === i)
      val idxDir = graft.core.Fs.scratchDir("graft_ivf_append")
      val (manyShards, cents) = try {
        Span("build")(Similarity.buildIvfIndex(shard(0), "vec_id", "embedding",
          idxDir.toString, nCentroids = 16))
        Span("append") {
          Similarity.appendIvfIndex(shard(1), "vec_id", "embedding",
            idxDir.toString, "s1")
          Similarity.appendIvfIndex(shard(2), "vec_id", "embedding",
            idxDir.toString, "s2")
        }
        // probe and frozen-centroid read are independent materialisations
        // of the committed index (parquet floats round-trip bit-exactly,
        // so "same centroids" for the direct scan below is exact, not
        // approximate) — overlapped, max not sum
        graft.core.Par.both(
          Span("probe")(Similarity.queryIvfIndex(s, idxDir.toString, q,
              "vec_id", "embedding", k = 10, nProbe = 4)
            .localCheckpoint(true)), // materialise before the index dir dies
          s.read.parquet(s"$idxDir/centroids").localCheckpoint(true))
      } finally graft.core.Fs.deleteRecursively(idxDir)
      // independent verification path: an in-memory IVF scan of the FULL
      // corpus against the same frozen centroids. The appended index must
      // reproduce it rank-for-rank — this subsumes the old 3-shard vs
      // 2-write comparison (each decomposition must equal the direct scan,
      // hence each other) and catches append bugs against a path that
      // never touches the store code at all.
      val oneShard = Similarity.ivfKnnWith(q, emb, "vec_id", "embedding",
        k = 10, nProbe = 4, centroids = cents)
      val a = manyShards.select(col("query_id"), col("neighbor_id"), col("rank"))
      val b = oneShard.select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank_b"))
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("n_results"),
          max(when(col("rank").isNull || col("rank_b").isNull ||
            col("rank") =!= col("rank_b"), 1).otherwise(0)).as("mm"))
        .select(col("query_id"), col("n_results"),
          (col("mm") === 0).as("append_parity_ok"))
        .orderBy("query_id")
    }),

    // IVF index REBALANCE (round-7 task #4): build on one shard, append
    // the rest against the FROZEN centroids (the drift state), then
    // rebalance — retrain + full re-assignment committed through the
    // generation-pointer meta swap. The rebalanced index must probe
    // BIT-IDENTICALLY to the direct ivfKnn over the full corpus (same
    // seeding/Lloyd discipline over the same rows), which certifies the
    // whole maintenance path — retrain, re-encode, atomic generation
    // flip — externally (q83/q101 parity discipline). The drift-recall
    // restoration itself is spec'd on a planted drifted corpus
    // (RebalanceSpec).
    "q113_ivf_rebalance" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      def shard(i: Int) = emb.filter(pmod(col("vec_id"), lit(3)) === i)
      val idxDir = graft.core.Fs.scratchDir("graft_ivf_rebalance")
      // the store round trip (build→append→rebalance→probe, protocol-
      // sequential inside) and the DIRECT in-memory IVF scan share no
      // tree — and the direct leg's centroid training collects eagerly at
      // construction — so the two legs overlap, max not sum
      val (viaRebalanced, direct) = graft.core.Par.both(
        try {
          Span("ingest") {
            Similarity.buildIvfIndex(shard(0), "vec_id", "embedding",
              idxDir.toString, nCentroids = 16)
            // one append suffices here: the index must be MULTI-shard with
            // centroids trained on a strict subset (shard 0) so the rebalance
            // genuinely moves them; N-append decomposition is q101/QuantizedSpec
            Similarity.appendIvfIndex(shard(1).unionByName(shard(2)),
              "vec_id", "embedding", idxDir.toString, "rest")
          }
          Span("rebalance")(
            Similarity.rebalanceIvfIndex(s, idxDir.toString, nCentroids = 16))
          Span("probe")(Similarity.queryIvfIndex(s, idxDir.toString, q,
              "vec_id", "embedding", k = 10, nProbe = 4)
            .localCheckpoint(true)) // materialise before the index dir dies
        } finally graft.core.Fs.deleteRecursively(idxDir),
        Similarity.ivfKnn(q, emb, "vec_id", "embedding",
            k = 10, nCentroids = 16, nProbe = 4)
          .localCheckpoint(true))
      val a = viaRebalanced.select(col("query_id"), col("neighbor_id"), col("rank"))
      val b = direct.select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank_d"))
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("n_results"),
          max(when(col("rank").isNull || col("rank_d").isNull ||
            col("rank") =!= col("rank_d"), 1).otherwise(0)).as("mm"))
        .select(col("query_id"), col("n_results"),
          (col("mm") === 0).as("rebalance_parity_ok"))
        .orderBy("query_id")
    }),

    // INCREMENTAL near-dup dedup via the persisted NearDupStore (the
    // MinHash-LSH sibling of q88's exact seen-store): even-id docs are the
    // accepted history folded into the store, odd-id docs the incoming
    // shard, and the emission is the shard rows with no verified
    // (exact-Jaccard >= 0.8) near-dup in history. Banding parameters are
    // q31's, whose all-pairs oracle already certifies their recall on this
    // corpus; the NOT-EXISTS ground truth here is the same shingle CTE
    // restricted to cross-parity pairs, so the store round trip — subtree
    // write, meta gating, band-key probe, exact verification — is
    // externally certified end-to-end. maxBucket=0: the exact gate runs
    // unguarded (the production guard's recall trade is q31-documented).
    "q100_neardup_seen" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val storeDir = graft.core.Fs.scratchDir("graft_neardup_seen")
      try {
        graft.dedup.NearDupStore.update(s, storeDir.toString,
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", "history")
        graft.dedup.NearDupStore.filterNew(s, storeDir.toString,
            docs.filter(col("doc_id") % 2 === 1), "text", "doc_id",
            minJaccard = 0.8, maxBucket = 0)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
          .localCheckpoint(true) // materialise before the store dir dies
      } finally graft.core.Fs.deleteRecursively(storeDir)
    }),

    // Band-guard TRUNCATION counters (round-7 task #5): what the
    // maxBucket cap would silently remove, per combination table, over
    // the 48-bit portable simhash banding — n_buckets / overflow buckets
    // at cap 1 / rows dropped. maxBucket=1 flags every shared bucket, so
    // the fixture's planted duplicate cliques light the counters up. The
    // oracle's packed-key SQL is GENERATED from the same BandPlan the
    // miner bands with, so the two sides cannot drift.
    "q111_band_guard_counters" -> ((s, dir) =>
      Dedup.simhashBandOverflow(
        Tables.load(s, dir, "documents")
          .select(col("doc_id").as("id"),
            Dedup.portableSimhash(col("text")).as("sig")),
        bits = 48, maxHamming = 3, maxBucket = 1)
        .orderBy("blk")),

    "q98_pii_redact" -> ((s, dir) => {
      val key = col("c_custkey")
      val email = when(key % 3 === 0,
        concat(lit(" <user"), key.cast("string"), lit("@example.com>")))
        .otherwise(lit(""))
      val ip = when(key % 4 < 2,
        concat(lit(" ip 10."), (col("c_nationkey") % 256).cast("string"),
          lit("."), (key % 256).cast("string"), lit("."),
          (key % 100).cast("string")))
        .otherwise(lit(" ip none"))
      val phone = when(key % 5 < 3,
        concat(lit(" call +1 (555) "),
          lpad((key * 7919 % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((key * 104729 % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))
      val raw = concat(col("c_name"), email, ip, phone,
        lit(" segment "), col("c_mktsegment"))
      val t1 = regexp_replace(col("raw"), TextAnalysis.EmailRe, "<EMAIL>")
      val t2 = regexp_replace(col("t1"), TextAnalysis.Ipv4Re, "<IP>")
      Tables.load(s, dir, "customer")
        .select(key, raw.as("raw"))
        .select(col("c_custkey"), col("raw"),
          regexp_count(col("raw"), lit(TextAnalysis.EmailRe)).as("n_emails"),
          t1.as("t1"))
        .select(col("c_custkey"), col("n_emails"),
          regexp_count(col("t1"), lit(TextAnalysis.Ipv4Re)).as("n_ips"),
          t2.as("t2"))
        .select(col("c_custkey"), col("n_emails"), col("n_ips"),
          regexp_count(col("t2"), lit(TextAnalysis.PhoneRe)).as("n_phones"),
          regexp_replace(col("t2"), TextAnalysis.PhoneRe, "<PHONE>")
            .as("redacted"))
        .orderBy("c_custkey")
    }),

    // Corpus DEDUP REPORT — the one-row measurement summary a dedup run
    // ships before anything is dropped: how much exact duplication, how
    // many docs carry a verified near-dup, how many contain a
    // corpus-duplicated span. Composes the three dedup families' counting
    // sides (exact groups, verified LSH pairs, span-hash stats) into
    // 1-row aggregates cross-joined at the end (each build side is one
    // row — the bounded-crossJoin pattern). maxBucket=0 keeps the
    // near-dup count on the exact gate contract (q100's reasoning).
    "q109_dedup_report" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val totals = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"))
      val exactDup = Dedup.exactGroups(docs, "text", "doc_id")
        .filter(col("n_dups") >= 2)
        .agg(coalesce(sum("n_dups"), lit(0L)).as("n_exact_dup_docs"))
      val nearDocs = Dedup.verifiedNearDupPairs(docs, "text", "doc_id",
          minJaccard = 0.8, maxBucket = 0)
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .agg(countDistinct(col("id")).as("n_neardup_docs"))
      val spanDocs = Dedup.duplicateSpanStats(docs, "doc_id", "text", w = 8)
        .filter(col("n_dup_windows") > 0)
        .agg(count(lit(1)).as("n_span_dup_docs"))
      totals.crossJoin(exactDup).crossJoin(nearDocs).crossJoin(spanDocs)
        .select("n_docs", "n_distinct_texts", "n_exact_dup_docs",
          "n_neardup_docs", "n_span_dup_docs")
    }),

    // Per-source corpus DATA CARD — the dataset-documentation artifact a
    // curation run ships alongside the shards: volume (docs, chars,
    // tokens), language spread, quality mass (decisum = Σ round(q×10),
    // exact in integers — no FP mean crosses the gate), and the Gopher
    // keep-rate. One map-only scoring pass + one partial+final aggregate.
    "q107_data_card" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          round(TextAnalysis.qualityScore(col("text")) * 10).cast("long").as("q10"),
          TextAnalysis.gopherRules(col("text")).getField("keep").as("gk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars_total"),
          sum("nt").as("n_tokens_total"),
          countDistinct("lang").as("n_langs"),
          sum("q10").as("quality_decisum"),
          sum(when(col("gk"), 1L).otherwise(0L)).as("n_gopher_keep"))
        .orderBy("source")),

    // Gopher quality-rule battery (Rae et al. 2021 A1.1) — per-rule
    // booleans plus the keep conjunction, all integer-arithmetic
    // thresholds (no IEEE division) so every rule is hash-checked
    // externally. The fixture corpus is single-line lowercase prose, so
    // the line rules (bullet/ellipsis) and alpha rule are exercised for
    // the always-pass arm here and for their failure arms by the crafted
    // multi-line docs in TextAnalysisSpec; word-count / mean-length /
    // stopword rules vary across fixture docs.
    "q99_gopher_rules" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.ok_word_count").as("ok_word_count"),
          col("g.ok_mean_word_len").as("ok_mean_word_len"),
          col("g.ok_symbol_ratio").as("ok_symbol_ratio"),
          col("g.ok_bullet_lines").as("ok_bullet_lines"),
          col("g.ok_ellipsis_lines").as("ok_ellipsis_lines"),
          col("g.ok_alpha_words").as("ok_alpha_words"),
          col("g.ok_stopwords").as("ok_stopwords"),
          col("g.keep").as("keep"))
        .orderBy("doc_id")),

    // C4 cleaning battery (Raffel et al. 2020 §2.2) — the OTHER canonical
    // rule set next to Gopher's: line-level filtering (terminal
    // punctuation + >= 5 words + no javascript mention) with the
    // line-filtered TEXT itself as part of the emission (q93 discipline),
    // plus the page-level keep verdict (>= 3 sentences, no lorem ipsum,
    // no curly brace). The fixture's single-line prose exercises the
    // always-pass arms; the failure arms ride on crafted multi-line docs
    // in TextAnalysisSpec.
    "q118_c4_rules" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.c4Rules(col("text")).as("c"))
        .select(col("doc_id"), col("c.n_lines").as("n_lines"),
          col("c.n_kept_lines").as("n_kept_lines"),
          col("c.n_sentences").as("n_sentences"),
          col("c.has_lorem_ipsum").as("has_lorem_ipsum"),
          col("c.has_brace").as("has_brace"),
          col("c.keep").as("keep"),
          col("c.clean_text").as("clean_text"))
        .orderBy("doc_id")),

    // HYBRID retrieval — BM25 ⊕ dense-cosine fused by reciprocal-rank
    // fusion (Cormack et al. 2009), the production default for combining
    // an inverted-index probe with an ANN probe (incomparable score
    // scales ⇒ rank-only fusion). Both input lists are the engine's own
    // ranked paths (q91's direct BM25, q34's exact kNN — the fixture's
    // embeddings are the documents' embedding column, row-aligned ids);
    // contributions are quantised to longs so the fused ordering is
    // integer-exact, and the DuckDB oracle recomputes BOTH lists and the
    // fusion bit-for-bit. At index scale the same fuse runs over
    // queryBm25Index/queryIvfIndex emissions unchanged (k-bounded inputs;
    // the fusion never touches the corpus).
    "q151_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val sparse = graft.text.Retrieval.bm25TopK(docs, bm25QueryDf(s),
        "text", "doc_id", k = 10)
      val dense = Similarity.bruteForceKnn(
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), emb,
          "vec_id", "embedding", k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      graft.sim.Hybrid.rrfFuse(Seq(sparse, dense), k = 10)
        .orderBy("query_id", "rank")
    }),

    // BATCHED index retrieval (round-8 verdict task #1): the q95 index,
    // probed with a 1000-QUERY BATCH through the distributed path —
    // queries stay a DataFrame end to end, postings join them on the
    // (bucket, term) EQUI key, df joins from the persisted vocabulary
    // relation, and no term ever reaches the driver (the per-query path's
    // foldable-literal pruning is the wrong trade at 10⁴⁺ queries; see
    // queryBm25IndexBatched's scaladoc). The batch is GENERATED by pure
    // integer arithmetic over a fixed vocabulary spanning the corpus df
    // spectrum (rare 'dup' through ~80%-df stopword-likes), so the DuckDB
    // oracle reproduces the exact query set and gates all 1000 rankings
    // bit-for-bit — the same score algebra as q91/q95/q97/q112.
    //
    // The 10⁴-query point of the batch-scaling claim is recorded by a
    // DEDICATED JVM (graft.BatchStress; the round-9 record `runMain
    // graft.Bench q152` — 24.8 s at sf0.1/local[32] — is tracked in bench/,
    // and SCALING.md "round-9 continued-2" has the profile). It
    // deliberately does NOT run inside the full-catalog bench JVM: after
    // 160 queries × 4 passes the 4 GiB heap cannot also host 32 concurrent
    // ~2M-group aggregation tasks (UNABLE_TO_ACQUIRE_MEMORY even with the
    // SQL cache cleared and persistent RDDs dropped) — and the host's
    // >8 GiB-heap freeze pathology rules out just sizing the heap up. A
    // deployment sizes the batch stage's executors; this JVM is sized for
    // the gate.
    "q152_bm25_batch" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idxDir = graft.core.Fs.scratchDir("graft_bm25_batch")
      try {
        Span("build")(graft.text.Retrieval.buildBm25Index(docs, "text", "doc_id",
          idxDir.toString, buckets = 8))
        Span("probe_1k_batch")(graft.text.Retrieval
          .queryBm25IndexBatched(s, idxDir.toString, batchQueryDf(s), k = 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)) // materialise before the index dir dies
      } finally graft.core.Fs.deleteRecursively(idxDir)
    }),

    // BATCHED IVF probe parity (the q83 invariant shape): the same
    // persisted index answers the same query set through the per-query
    // path (broadcast probe relation) and the batched path (centroid_id
    // equi-join, no forced broadcast) — ranks must agree row-for-row.
    // The 10⁴-row batch stress and the no-BNLJ plan guard live in
    // SimilaritySpec; this gate pins the two paths' VALUE equality
    // externally.
    // HYBRID fusion AT BATCH SCALE — the q151 shape with the round-9
    // batched sparse leg: 1000 generated BM25 queries probe the persisted
    // index through the DISTRIBUTED path (q152's plan), the dense leg is
    // the exact cosine top-10 for the 500 queries that have vectors
    // (query ids 500–999 fuse a single list — the partial-coverage arm a
    // production fusion must handle), and RRF sums quantised-long
    // contributions. The DuckDB oracle regenerates the whole thing —
    // batch, both rankings, fusion — bit-for-bit, so this gate retires
    // the "retrieval probes assume a ≤8-row broadcast query set" watch
    // item across the fusion path too. (At true batch scale the dense leg
    // routes through queryIvfIndexBatched — q154 gates its parity; the
    // exact leg here is the oracle-reproducible stand-in, like q151's.)
    "q155_hybrid_batch" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val idxDir = graft.core.Fs.scratchDir("graft_hybrid_batch")
      // the sparse leg (scratch BM25 index round trip over documents) and
      // the dense leg (exact cosine top-10 over embeddings) share no input
      // or output tree — overlapped, max not sum; both legs materialise
      // before the fuse (the dense checkpoint is what makes it an ACTION
      // the overlap can run; row values are unchanged by it)
      val (sparse, dense) = graft.core.Par.both(
        try {
          graft.text.Retrieval.buildBm25Index(docs, "text", "doc_id",
            idxDir.toString, buckets = 8)
          graft.text.Retrieval.queryBm25IndexBatched(s, idxDir.toString,
              batchQueryDf(s), k = 10)
            .localCheckpoint(true) // materialise before the index dir dies
        } finally graft.core.Fs.deleteRecursively(idxDir),
        Similarity.bruteForceKnn(
            emb.filter(col("vec_id") < 500), emb, "vec_id", "embedding", k = 10)
          .withColumnRenamed("neighbor_id", "doc_id")
          .localCheckpoint(true))
      graft.sim.Hybrid.rrfFuse(Seq(sparse, dense), k = 10)
        .orderBy("query_id", "rank")
    }),

    "q154_ivf_batch" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val idxDir = graft.core.Fs.scratchDir("graft_ivf_batch")
      val (viaBatch, viaQuery) = try {
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", idxDir.toString,
          nCentroids = 16)
        // two independent read-only probes of the committed index —
        // overlapped, max not sum (the q101 probe∥read discipline)
        graft.core.Par.both(
          Similarity.queryIvfIndexBatched(s, idxDir.toString, q,
            "vec_id", "embedding", k = 10, nProbe = 4).localCheckpoint(true),
          Similarity.queryIvfIndex(s, idxDir.toString, q,
            "vec_id", "embedding", k = 10, nProbe = 4).localCheckpoint(true))
      } finally graft.core.Fs.deleteRecursively(idxDir)
      val a = viaBatch.select(col("query_id"), col("neighbor_id"), col("rank"))
      val b = viaQuery.select(col("query_id"), col("neighbor_id"),
        col("rank").as("rank_q"))
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy("query_id")
        .agg(sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("n_results"),
          max(when(col("rank").isNull || col("rank_q").isNull ||
            col("rank") =!= col("rank_q"), 1).otherwise(0)).as("mm"))
        .select(col("query_id"), col("n_results"),
          (col("mm") === 0).as("batch_parity_ok"))
        .orderBy("query_id")
    })
  )

  /** The q91 fixed query set — (query_id, term), mirrored verbatim by the
    * oracle's VALUES list. Terms must stay single whitespace-free tokens. */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "dup", 1L -> "merge",
    2L -> "vector", 2L -> "query", 2L -> "fast",
    3L -> "stream", 3L -> "filter")

  private def bm25QueryDf(s: SparkSession) =
    s.createDataFrame(Bm25Queries).toDF("query_id", "term")

  /** The q152 batch vocabulary: every token the documents fixture emits,
    * alphabetical — spans the full df spectrum (rare 'dup' ≈ 5% through
    * ~80%-df function words), so batched rankings exercise both idf
    * extremes. Must stay single whitespace-free tokens (they are inlined
    * into the oracle's list literal). */
  private[queries] val BatchVocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val BatchQueryCount = 1000

  /** 1000 generated (query_id, term) rows — 3 vocabulary picks per query
    * by pure integer arithmetic (i, 7i+3, 13i+5 mod |vocab|), so the
    * DuckDB oracle regenerates the identical batch with no hash function
    * in the loop. Within-query collisions are intentional (both engines
    * dedup at the contract boundary). */
  private[graft] def batchQueryDf(s: SparkSession, n: Int = BatchQueryCount): DataFrame = {
    val v = BatchVocab.length
    val vocabArr = array(BatchVocab.map(lit): _*)
    // 4 slices, not the session default (32): the batch is a few thousand
    // generated rows, and a 32-slice range turns every downstream
    // query-side aggregate's map side into a 32-task stage of sub-ms work
    // per task (round-11 measured ~0.2s of pure dispatch per such stage)
    s.range(0L, n.toLong, 1L, math.min(4, s.sparkContext.defaultParallelism)).select(
      col("id").as("query_id"),
      explode(array(
        element_at(vocabArr, (pmod(col("id"), lit(v)) + 1).cast("int")),
        element_at(vocabArr, (pmod(col("id") * 7 + 3, lit(v)) + 1).cast("int")),
        element_at(vocabArr, (pmod(col("id") * 13 + 5, lit(v)) + 1).cast("int"))
      )).as("term"))
  }

  /** The oracle-side regeneration of [[batchQueryDf]]: the same integer
    * arithmetic over the same vocabulary literal, deduped like the engine
    * dedups. Plugs into [[Bm25RankCtesWith]] as the `q` relation. */
  private def BatchQCtes: String = {
    val vocab = BatchVocab.map(t => s"'$t'").mkString("[", ", ", "]")
    val v = BatchVocab.length
    s"qraw AS (SELECT i AS query_id, unnest([" +
      s"($vocab)[CAST(i % $v AS INT) + 1], " +
      s"($vocab)[CAST((i * 7 + 3) % $v AS INT) + 1], " +
      s"($vocab)[CAST((i * 13 + 5) % $v AS INT) + 1]]) AS term " +
      s"FROM range($BatchQueryCount) r(i)), " +
      "q AS (SELECT DISTINCT query_id, term FROM qraw)"
  }

  private val Toks = "string_split_regex(trim(text), '\\s+')"
  private def listCount(list: String, markers: String) =
    s"len(list_filter($list, t -> list_contains([$markers], t)))"

  /** The q41 quality expression, reused inline by q57's and q67's oracles. */
  private[queries] def QualityExpr =
    "round((CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 0.4 ELSE 0.0 END) + " +
      "(CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) < 0.1 THEN 0.3 ELSE 0.0 END) + " +
      s"(CASE WHEN CAST(${listCount(Toks, "'the','a','and','of','to','in','is','it'")} AS DOUBLE) / len($Toks) > 0.01 THEN 0.3 ELSE 0.0 END), 1)"


  /** The BM25 ranking CTE chain (…, rk) shared by the q91/q95/q97/q112
    * oracle and q151's sparse leg. */
  private def Bm25RankCtes: String = Bm25RankCtesWith(
    s"q(query_id, term) AS (VALUES ${Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")})")

  /** [[Bm25RankCtes]] with a caller-supplied `q(query_id, term)` CTE —
    * the fixed VALUES set for the per-query gates, the generated
    * 1000-query batch ([[BatchQCtes]]) for q152. */
  private def Bm25RankCtesWith(qCte: String): String =
    (s"t AS (SELECT doc_id, unnest($Toks) AS tok FROM documents), " +
        s"$qCte, " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id), " +
        "st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, " +
        "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), " +
        "dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t " +
        "WHERE tok IN (SELECT term FROM q) GROUP BY tok), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM t " +
        "WHERE tok IN (SELECT term FROM q) GROUP BY doc_id, tok), " +
        "sc AS (SELECT query_id, doc_id, CAST(floor(" +
        "1e6 * ((n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) / " +
        "(tf + 1.2 * (0.25 + 0.75 * dl / avgdl))" +
        ") AS BIGINT) AS s " +
        "FROM tf JOIN q ON tf.tok = q.term JOIN dl USING (doc_id) " +
        "JOIN dfq ON dfq.tok = tf.tok CROSS JOIN st), " +
        "agg AS (SELECT query_id, doc_id, sum(s) AS score_u, count(*) AS n_hit_terms " +
        "FROM sc GROUP BY query_id, doc_id), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY score_u DESC, doc_id) AS rank FROM agg)")

  /** Shared q91/q95 oracle: the direct BM25 plan and the persisted-index
    * probe must land value-identical, so one SQL text gates both. */
  private def Bm25OracleSql: String =
    (s"WITH $Bm25RankCtes " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rank AS INT) AS rank, " +
        "CAST(score_u AS BIGINT) AS score_u, n_hit_terms " +
        "FROM rk WHERE rank <= 5 ORDER BY query_id, rank")

  /** q152 oracle: the SAME ranking algebra over the GENERATED 1000-query
    * batch — all 5000 ranked rows verified bit-for-bit. */
  private def Bm25BatchOracleSql: String =
    (s"WITH ${Bm25RankCtesWith(BatchQCtes)} " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rank AS INT) AS rank, " +
        "CAST(score_u AS BIGINT) AS score_u, n_hit_terms " +
        "FROM rk WHERE rank <= 5 ORDER BY query_id, rank")

  /** q155 oracle: the q151 fusion formula over the GENERATED 1000-query
    * batch — sparse CTEs from [[BatchQCtes]], dense queries = the 500
    * vector-bearing ids (ids 500–999 fuse a single list), all 10 000
    * fused rows bit-for-bit. */
  private def HybridBatchOracleSql: String =
    HybridRrfSqlWith(Bm25RankCtesWith(BatchQCtes),
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500")

  /** q151 oracle: recompute the sparse (BM25) and dense (exact cosine)
    * top-10 lists, quantise each rank's RRF contribution to a long, sum,
    * re-rank. Bit-for-bit with [[graft.sim.Hybrid.rrfFuse]]. */
  private def HybridRrfOracleSql: String = HybridRrfSqlWith(Bm25RankCtes,
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (1, 2, 3)")

  /** The shared RRF-fusion SQL: a BM25 rank-CTE chain (ending in `rk`)
    * plus a dense query relation, fused by the quantised-long formula. */
  private def HybridRrfSqlWith(bm25Ctes: String, dqSql: String): String =
    (s"WITH $bm25Ctes, " +
        s"dq AS ($dqSql), " +
        "dpairs AS (SELECT dq.vec_id AS query_id, c.vec_id AS doc_id, " +
        "list_sum(list_transform(range(1, len(dq.embedding)+1), i -> CAST(dq.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(dq.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos " +
        "FROM dq, embeddings c WHERE c.vec_id <> dq.vec_id), " +
        "drk AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos DESC, doc_id) AS rank FROM dpairs), " +
        "u AS (SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id, " +
        "CAST(floor(1000000000 / (60 + rank)) AS BIGINT) AS w FROM rk WHERE rank <= 10 " +
        "UNION ALL SELECT CAST(query_id AS BIGINT), CAST(doc_id AS BIGINT), " +
        "CAST(floor(1000000000 / (60 + rank)) AS BIGINT) FROM drk WHERE rank <= 10), " +
        "fagg AS (SELECT query_id, doc_id, sum(w) AS rrf_u, count(*) AS n_lists " +
        "FROM u GROUP BY query_id, doc_id), " +
        "frk AS (SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY rrf_u DESC, doc_id) AS rank FROM fagg) " +
        "SELECT query_id, doc_id, CAST(rank AS INT) AS rank, " +
        "CAST(rrf_u AS BIGINT) AS rrf_u, CAST(n_lists AS INT) AS n_lists " +
        "FROM frk WHERE rank <= 10 ORDER BY query_id, rank")

  val oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY text ORDER BY keep_id",
    "q88_incremental_dedup" ->
      ("SELECT d.doc_id, d.lang, d.source FROM documents d WHERE d.doc_id % 3 <> 0 " +
        "AND NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 AND s.text = d.text) " +
        "ORDER BY d.doc_id"),
    "q32_simhash" -> PortableSql.simhashOracle(),
    "q44_doc_fingerprint" -> PortableSql.simhashOracle(
      extraSelect = s"${PortableSql.hex15("md5(d.text)")} AS content_hash"),
    "q35_knn_lsh" -> knnInvariantOracle(),
    "q54_knn_ivf" -> knnInvariantOracle(),
    "q83_ivf_index" -> knnInvariantOracle(Seq("index_parity_ok")),
    // all-pairs exact SHINGLE Jaccard at the same 0.8 threshold; equals the
    // Spark emission because the corpus Jaccard gap makes LSH recall
    // deterministic there (see the q31 query comment)
    "q31_minhash_pairs" ->
      (s"WITH ${PortableSql.shingleNearDupCtes(0.8)} " +
        "SELECT id_a, id_b, n_common, n_union, " +
        "CAST(n_common AS DOUBLE) / n_union AS jaccard, TRUE AS est_ok " +
        "FROM ndpairs ORDER BY id_a, id_b"),
    "q33_jaccard_pairs" ->
      (s"WITH toks AS (SELECT doc_id, list_distinct($Toks) AS ts FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, len(list_intersect(a.ts, b.ts)) AS n_common, " +
        "len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS n_union, " +
        "CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard " +
        "FROM toks a JOIN toks b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3 ORDER BY id_a, id_b"),
    // the exact filtered top-k recomputed with the label predicate in
    // the join; the index-parity boolean asserts TRUE (the Spark side
    // emits false on any rank mismatch, failing the hash compare)
    "q129_filtered_knn" ->
      ("WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8), " +
        "samp AS (SELECT DISTINCT label FROM q ORDER BY label LIMIT 2), " +
        "pairs AS (SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id, " +
        "list_sum(list_transform(range(1, len(q.embedding)+1), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos " +
        "FROM q JOIN embeddings c ON c.label IS NOT DISTINCT FROM q.label AND c.vec_id <> q.vec_id), " +
        "ranked AS (SELECT query_id, label, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank, round(cos, 6) AS cos_r FROM pairs) " +
        "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_r, " +
        "(label IN (SELECT label FROM samp)) AS in_parity_sample, TRUE AS shard_parity_ok " +
        "FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"),

    "q34_knn_bruteforce" ->
      ("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8), " +
        "pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "list_sum(list_transform(range(1, len(q.embedding)+1), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos " +
        "FROM q, embeddings c WHERE c.vec_id <> q.vec_id), " +
        "ranked AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank, round(cos, 6) AS cos_r FROM pairs) " +
        "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_r FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"),
    "q36_embedding_neardup" ->
      ("WITH pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.label = b.label AND b.vec_id > a.vec_id) " +
        "SELECT id_a, id_b, round(cos, 6) AS cos_r FROM pairs WHERE cos >= 0.25 ORDER BY id_a, id_b"),
    "q40_langid" -> {
      val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        lang -> listCount(Toks, ms.map(m => s"'$m'").mkString(","))
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (lang, sc) =>
        s"WHEN $sc = best AND best > 0 THEN '$lang'"
      }.mkString(" ")
      s"SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM (SELECT doc_id, text, $best AS best FROM documents) ORDER BY doc_id"
    },
    "q41_quality" ->
      ("SELECT doc_id, round((CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 0.4 ELSE 0.0 END) + " +
        "(CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) < 0.1 THEN 0.3 ELSE 0.0 END) + " +
        s"(CASE WHEN CAST(${listCount(Toks, "'the','a','and','of','to','in','is','it'")} AS DOUBLE) / len($Toks) > 0.01 THEN 0.3 ELSE 0.0 END), 1) AS quality " +
        "FROM documents ORDER BY doc_id"),
    "q42_token_stats" ->
      (s"SELECT doc_id, len($Toks) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_bpe, " +
        "length(text) AS n_chars, " +
        "CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio, " +
        s"CAST(${listCount(Toks, "'the','a','and','of','to','in','is','it'")} AS DOUBLE) / len($Toks) AS stopword_ratio " +
        "FROM documents ORDER BY doc_id"),
    "q43_text_stats" ->
      "SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents GROUP BY lang, source ORDER BY lang, source",
    "q45_multimodal_features" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, ascii(substr(text, 1, 1)) AS head_cp, " +
        "CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width, CAST(ascii(substr(text, 1, 1)) % 480 AS INTEGER) AS height " +
        "FROM documents ORDER BY doc_id"),
    // recomputes the q89 features from the SAME integer formula, never
    // touching WAV bytes — an independent check of the encode+decode path
    "q89_audio_pcm" ->
      ("WITH s AS (SELECT doc_id, " +
        "list_transform(range(0, 64), i -> ((doc_id*31 + i*17) % 65536 - 32768) / 32768.0) AS xs " +
        "FROM documents) " +
        "SELECT doc_id, CAST(64 AS BIGINT) AS n_frames, " +
        "CAST(floor(1e6 * sqrt(list_sum(list_transform(xs, x -> x*x)) / 64)) AS BIGINT) AS rms_u, " +
        "CAST(floor(1e6 * list_max(list_transform(xs, x -> abs(x)))) AS BIGINT) AS peak_u, " +
        "CAST(floor(1e6 * (len(list_filter(xs, x -> abs(x) < 0.01)) / 64.0)) AS BIGINT) AS silence_u " +
        "FROM s ORDER BY doc_id"),
    "q56_dup_clusters" ->
      (s"WITH RECURSIVE toks AS (SELECT doc_id, list_distinct($Toks) AS ts FROM documents), " +
        "edges0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM toks a " +
        "JOIN toks b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3 " +
        "WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.5), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM edges0 UNION SELECT id_b, id_a FROM edges0), " +
        "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
        "reach(id, label) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id) " +
        "SELECT id, min(label) AS cluster_id FROM reach GROUP BY id ORDER BY id"),
    "q106_cluster_keeper" ->
      (s"WITH RECURSIVE toks AS (SELECT doc_id, list_distinct($Toks) AS ts FROM documents), " +
        "edges0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM toks a " +
        "JOIN toks b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3 " +
        "WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.5), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM edges0 UNION SELECT id_b, id_a FROM edges0), " +
        "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
        "reach(id, label) AS (SELECT id, id FROM nodes " +
        "UNION SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id), " +
        "memb AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id), " +
        s"q AS (SELECT doc_id, $QualityExpr AS quality FROM documents), " +
        "j AS (SELECT m.id, m.cluster_id, q.quality FROM memb m JOIN q ON q.doc_id = m.id), " +
        "keeper AS (SELECT cluster_id, id AS keeper_id FROM " +
        "(SELECT cluster_id, id, row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, id) AS rn FROM j) WHERE rn = 1) " +
        "SELECT j.id AS doc_id, j.cluster_id, j.quality, (j.id = k.keeper_id) AS is_keeper " +
        "FROM j JOIN keeper k USING (cluster_id) ORDER BY doc_id"),

    "q57_quality_topk" ->
      (s"WITH scored AS (SELECT lang, doc_id, $QualityExpr AS quality FROM documents), " +
        "ranked AS (SELECT lang, doc_id, quality, row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rank FROM scored) " +
        "SELECT lang, doc_id, quality, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 5 ORDER BY lang, rank"),
    "q55_streaming_window" ->
      "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value FROM events GROUP BY 1, 2 ORDER BY hour, event_type",
    "q79_stream_join" ->
      ("SELECT a.event_type, count(*) AS n_attributed FROM events a JOIN events s " +
        "ON a.user_id = s.user_id AND s.event_type = 'signup' AND a.event_type <> 'signup' " +
        "AND epoch_us(CAST(a.ts AS TIMESTAMP)) >= epoch_us(CAST(s.ts AS TIMESTAMP)) " +
        "AND epoch_us(CAST(a.ts AS TIMESTAMP)) <= epoch_us(CAST(s.ts AS TIMESTAMP)) + 3600000000 " +
        "GROUP BY a.event_type ORDER BY a.event_type"),
    "q63_embed_pool" ->
      ("WITH d AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
        "n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM d), " +
        "q AS (SELECT vec_id, label, list_transform(e, x -> CAST(round(x / nrm * 1e9) AS BIGINT)) AS qv FROM n WHERE nrm > 0), " +
        "u AS (SELECT label, vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS i FROM q) " +
        "SELECT label, count(DISTINCT vec_id) AS n_vecs, " +
        "CAST(sum(CASE WHEN i = 1 THEN v ELSE 0 END) AS BIGINT) AS c0, " +
        "CAST(sum(CASE WHEN i = 2 THEN v ELSE 0 END) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN i = 3 THEN v ELSE 0 END) AS BIGINT) AS c2, " +
        "CAST(sum(CASE WHEN i = 4 THEN v ELSE 0 END) AS BIGINT) AS c3 " +
        "FROM u GROUP BY label ORDER BY label"),
    "q64_corpus_freq" ->
      (s"WITH t AS (SELECT doc_id, unnest($Toks) AS tok FROM documents), " +
        "tf AS (SELECT tok, count(*) AS cf FROM t GROUP BY tok), " +
        "dt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok) " +
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct, " +
        "CAST(sum(c * cf) AS BIGINT) AS sum_cf " +
        "FROM dt JOIN tf USING (tok) GROUP BY doc_id ORDER BY doc_id"),
    "q65_streaming_dedup" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type ORDER BY event_type",
    // the streamed shard = odd docs + history texts redelivered under new
    // ids; the store drops every redelivery, so kept ≡ the odd docs
    "q103_streaming_seen" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id",
    // parallel unnests of equal-length lists zip in DuckDB, recovering the
    // (bigram, left-token) pair stream the Spark side builds with zip_with
    "q90_bigram_lm" ->
      (s"WITH t AS (SELECT doc_id, $Toks AS ts FROM documents), " +
        "bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg, " +
        "unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS la FROM t), " +
        "bf AS (SELECT bg, count(*) AS cab FROM bgl GROUP BY bg), " +
        "tf AS (SELECT tok, count(*) AS cf FROM (SELECT unnest(ts) AS tok FROM t) GROUP BY tok), " +
        "inst AS (SELECT doc_id, bg, la, count(*) AS c FROM bgl GROUP BY doc_id, bg, la) " +
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(c*cab) AS BIGINT) AS sum_cab, CAST(sum(c*cf) AS BIGINT) AS sum_ca, " +
        "CAST(floor(1e6 * sum(c*cab) / CAST(sum(c*cf) AS DOUBLE)) AS BIGINT) AS score_u " +
        "FROM inst JOIN bf USING (bg) JOIN tf ON tf.tok = inst.la " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "q46_sessionize" ->
      ("WITH o AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "g AS (SELECT user_id, CASE WHEN lag(ts) OVER w IS NULL OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_s " +
        "FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id ORDER BY user_id"),
    // the score expression is SPELLED IDENTICALLY to Retrieval.scoreU —
    // every op is IEEE-exact (+ - * / floor; no libm), so the quantised
    // per-term scores, their integer sums, and the ranks match bit-for-bit
    "q91_bm25" -> Bm25OracleSql,
    // same oracle text: the index probe must land value-identical to q91
    "q95_bm25_index" -> Bm25OracleSql,
    // and so must the three-shard incremental build — one oracle, three
    // access paths (direct scan, one-shot index, appended index)
    "q97_bm25_append" -> Bm25OracleSql,
    // …and the block-max-pruned probe: a fourth access path, same answer
    "q112_bm25_blockmax" -> Bm25OracleSql,

    // stride-1 8-token windows; slice bounds are INCLUSIVE in DuckDB, so
    // tk[i:i+7] is the 8-token window starting at i (1-based)
    "q92_dup_spans" ->
      (s"WITH t AS (SELECT doc_id, $Toks AS tk FROM documents WHERE doc_id IS NOT NULL), " +
        "w AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 8 THEN " +
        "list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' ')) " +
        "ELSE [] END) AS win FROM t), " +
        s"h AS (SELECT doc_id, ${PortableSql.hex15("md5(win)")} AS h FROM w), " +
        "pd AS (SELECT doc_id, h, count(*) AS c FROM h GROUP BY doc_id, h), " +
        "hs AS (SELECT h, sum(c) AS n_occ, count(*) AS n_docs FROM pd GROUP BY h), " +
        "agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows, " +
        "CAST(sum(CASE WHEN n_occ >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_windows, " +
        "CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_xdoc_windows " +
        "FROM pd JOIN hs USING (h) GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows, " +
        "coalesce(n_dup_windows, 0) AS n_dup_windows, " +
        "coalesce(n_xdoc_windows, 0) AS n_xdoc_windows, " +
        "CASE WHEN coalesce(n_windows, 0) > 0 THEN " +
        "CAST(floor(1e6 * n_dup_windows / n_windows) AS BIGINT) ELSE 0 END AS dup_frac_u " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d " +
        "LEFT JOIN agg USING (doc_id) ORDER BY doc_id"),
    // all-pairs hamming ground truth over DuckDB-recomputed signatures;
    // the banded Spark candidates are a provable superset (pigeonhole)
    "q94_simhash_pairs" ->
      (s"WITH sh AS (${PortableSql.simhashOracle()}) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.simhash_p, b.simhash_p)) AS INT) AS hamming " +
        "FROM sh a JOIN sh b ON b.doc_id > a.doc_id " +
        "WHERE bit_count(xor(a.simhash_p, b.simhash_p)) <= 3 " +
        "ORDER BY id_a, id_b"),
    // q94's ground-truth apparatus at the 60-bit width
    "q96_simhash60_pairs" ->
      (s"WITH sh AS (${PortableSql.simhashOracle(bits = 60)}) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(xor(a.simhash_p, b.simhash_p)) AS INT) AS hamming " +
        "FROM sh a JOIN sh b ON b.doc_id > a.doc_id " +
        "WHERE bit_count(xor(a.simhash_p, b.simhash_p)) <= 3 " +
        "ORDER BY id_a, id_b"),
    // parallel unnests zip (q90 trick): window text and its 1-based start
    // come from the same two equal-length lists; DISTINCT applies AFTER
    // the unnest expansion, mirroring Spark's explode->distinct
    "q93_strip_dup_spans" ->
      (s"WITH d0 AS (SELECT doc_id, text, $Toks AS tk FROM documents WHERE doc_id IS NOT NULL), " +
        "w AS (SELECT doc_id, " +
        "unnest(CASE WHEN len(tk) >= 8 THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' ')) ELSE [] END) AS win, " +
        "unnest(CASE WHEN len(tk) >= 8 THEN range(1, len(tk) - 6) ELSE [] END) AS i FROM d0), " +
        s"h AS (SELECT doc_id, i, ${PortableSql.hex15("md5(win)")} AS h FROM w), " +
        "hs AS (SELECT h, count(*) AS n_occ FROM h GROUP BY h), " +
        "dup AS (SELECT doc_id, i FROM h JOIN hs USING (h) WHERE n_occ >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS pos FROM dup), " +
        "tok AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos FROM d0), " +
        "kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t WHERE NOT EXISTS " +
        "(SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)), " +
        "clean AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id) " +
        "SELECT d0.doc_id, " +
        "CASE WHEN d0.text IS NULL THEN NULL ELSE coalesce(clean_text, '') END AS clean_text, " +
        "CAST(coalesce(len(tk), 0) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(len(tk), 0) - coalesce(n_kept, 0) AS BIGINT) AS n_tokens_removed, " +
        // the maxDocTokens skip flag: no fixture doc approaches the default
        // ceiling, so the oracle recomputes the same always-false predicate
        s"(coalesce(len(tk), 0) > ${Dedup.DefaultMaxDocTokens}) AS span_skipped " +
        "FROM d0 LEFT JOIN clean USING (doc_id) ORDER BY doc_id"),

    "q101_ivf_append" -> knnInvariantOracle(Seq("append_parity_ok")),
    "q113_ivf_rebalance" -> knnInvariantOracle(Seq("rebalance_parity_ok")),

    // packed (doc_id·2³² + pos) min = the corpus-first occurrence; the
    // 1-based generate_subscripts offset shifts every packed key
    // uniformly, so the argmin — and hence the kept set — is identical
    "q117_strip_dup_lines" ->
      ("WITH d0 AS (SELECT doc_id, text, string_split(text, chr(10)) AS ln FROM documents WHERE doc_id IS NOT NULL), " +
        "l AS (SELECT doc_id, unnest(ln) AS line, generate_subscripts(ln, 1) AS pos FROM d0), " +
        s"hh AS (SELECT doc_id, pos, line, ${PortableSql.hex15("md5(line)")} AS h FROM l), " +
        "f AS (SELECT h, min(doc_id * 4294967296 + pos) AS first FROM hh GROUP BY h), " +
        "kept AS (SELECT doc_id, pos, line FROM hh JOIN f USING (h) " +
        "WHERE doc_id * 4294967296 + pos = first), " +
        "clean AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id) " +
        "SELECT d0.doc_id, " +
        "CASE WHEN d0.text IS NULL THEN NULL ELSE coalesce(clean_text, '') END AS clean_text, " +
        "CAST(coalesce(len(ln), 0) AS BIGINT) AS n_lines, " +
        "CAST(coalesce(len(ln), 0) - coalesce(n_kept, 0) AS BIGINT) AS n_lines_removed " +
        "FROM d0 LEFT JOIN clean USING (doc_id) ORDER BY doc_id"),
    "q102_pq_knn" -> knnInvariantOracle(),
    "q104_ivfpq_knn" -> knnInvariantOracle(),
    "q105_pq_index" -> knnInvariantOracle(Seq("index_parity_ok")),

    // the streamed near-dup ingest: inc = odd docs + redelivered history
    // under shifted odd ids; survival is the SEQUENTIAL fold — batch 0
    // checks history only, batch k checks history plus every earlier
    // batch's survivors (within-batch pairs never drop, per the
    // NearDupStore.filterNew contract); batch = pure doc_id % 4
    // arithmetic, mirrored bit-for-bit by the Spark side's file split
    "q110_streaming_neardup" -> {
      val sh = "list_distinct(CASE WHEN len(tk) >= 3 THEN " +
        "list_transform(range(1, len(tk)-1), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])) " +
        "ELSE [] END)"
      def jacc(a: String, b: String) =
        s"len($a.ts) + len($b.ts) - len(list_intersect($a.ts, $b.ts)) > 0 AND " +
          s"CAST(len(list_intersect($a.ts, $b.ts)) AS DOUBLE) / " +
          s"(len($a.ts) + len($b.ts) - len(list_intersect($a.ts, $b.ts))) >= 0.8"
      "WITH inc AS (SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 2 = 1 " +
        "UNION ALL SELECT doc_id + 1000001, text, lang, n_chars FROM documents WHERE doc_id % 2 = 0), " +
        s"sh_i AS (SELECT doc_id, $sh AS ts FROM " +
        "(SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM inc)), " +
        s"sh_h AS (SELECT doc_id, $sh AS ts FROM " +
        "(SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents WHERE doc_id % 2 = 0)), " +
        s"p_ih AS (SELECT DISTINCT a.doc_id AS i FROM sh_i a JOIN sh_h h ON ${jacc("a", "h")}), " +
        s"p_ii AS (SELECT a.doc_id AS i, b.doc_id AS j FROM sh_i a JOIN sh_i b ON a.doc_id <> b.doc_id AND ${jacc("a", "b")}), " +
        "bk AS (SELECT doc_id, CASE doc_id % 4 WHEN 1 THEN 0 ELSE 1 END AS b FROM inc), " +
        "s0 AS (SELECT bk.doc_id FROM bk WHERE b = 0 AND NOT EXISTS (SELECT 1 FROM p_ih WHERE p_ih.i = bk.doc_id)), " +
        "s1 AS (SELECT bk.doc_id FROM bk WHERE b = 1 AND NOT EXISTS (SELECT 1 FROM p_ih WHERE p_ih.i = bk.doc_id) " +
        "AND NOT EXISTS (SELECT 1 FROM p_ii JOIN s0 ON p_ii.j = s0.doc_id WHERE p_ii.i = bk.doc_id)), " +
        "keep AS (SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1) " +
        "SELECT inc.doc_id, lang, n_chars FROM inc JOIN keep USING (doc_id) ORDER BY doc_id"
    },

    // packed combination keys regenerated from the SAME BandPlan the
    // Spark side bands with (block shifts, widths, combination order)
    "q111_band_guard_counters" -> {
      val plan = Dedup.bandPlan(48, 3)
      val mask = (1L << math.min(plan.width, 62)) - 1
      val arms = plan.combos.zipWithIndex.map { case (blkIdxs, c) =>
        val packed = blkIdxs.zipWithIndex.map { case (j, pos) =>
          s"(((simhash_p >> ${j * plan.width}) & $mask) << ${pos * plan.width})"
        }.mkString(" | ")
        s"SELECT doc_id, $c AS blk, $packed AS v FROM sh WHERE simhash_p IS NOT NULL"
      }.mkString(" UNION ALL ")
      s"WITH sh AS (${PortableSql.simhashOracle()}), " +
        s"kx AS ($arms), " +
        "b AS (SELECT blk, v, count(*) AS c FROM kx GROUP BY blk, v) " +
        "SELECT blk, count(*) AS n_buckets, " +
        "CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_buckets, " +
        "CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_rows_dropped " +
        "FROM b GROUP BY blk ORDER BY blk"
    },

    "q100_neardup_seen" ->
      (s"WITH ${PortableSql.shingleNearDupCtes(0.8)} " +
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d " +
        "WHERE d.doc_id % 2 = 1 AND NOT EXISTS (SELECT 1 FROM ndpairs p " +
        "WHERE (p.id_a = d.doc_id AND p.id_b % 2 = 0) " +
        "OR (p.id_b = d.doc_id AND p.id_a % 2 = 0)) " +
        "ORDER BY d.doc_id"),

    "q98_pii_redact" -> {
      // mirrors of TextAnalysis.{EmailRe, Ipv4Re, PhoneRe} — RE2-safe by
      // construction, so the pattern TEXT is byte-identical on both sides
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
      val phone = "\\+?\\d[\\d\\s().-]{6,}\\d"
      "WITH r AS (SELECT c_custkey, c_name || " +
        "CASE WHEN c_custkey % 3 = 0 THEN ' <user' || CAST(c_custkey AS VARCHAR) || '@example.com>' ELSE '' END || " +
        "CASE WHEN c_custkey % 4 < 2 THEN ' ip 10.' || CAST(c_nationkey % 256 AS VARCHAR) || '.' || " +
        "CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_custkey % 100 AS VARCHAR) ELSE ' ip none' END || " +
        "CASE WHEN c_custkey % 5 < 3 THEN ' call +1 (555) ' || lpad(CAST(c_custkey * 7919 % 1000 AS VARCHAR), 3, '0') || " +
        "'-' || lpad(CAST(c_custkey * 104729 % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "' segment ' || c_mktsegment AS raw FROM customer), " +
        s"e AS (SELECT c_custkey, CAST(len(regexp_extract_all(raw, '$email')) AS INTEGER) AS n_emails, " +
        s"regexp_replace(raw, '$email', '<EMAIL>', 'g') AS t1 FROM r), " +
        s"i AS (SELECT c_custkey, n_emails, CAST(len(regexp_extract_all(t1, '$ip')) AS INTEGER) AS n_ips, " +
        s"regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM e) " +
        s"SELECT c_custkey, n_emails, n_ips, CAST(len(regexp_extract_all(t2, '$phone')) AS INTEGER) AS n_phones, " +
        s"regexp_replace(t2, '$phone', '<PHONE>', 'g') AS redacted FROM i ORDER BY c_custkey"
    },

    "q109_dedup_report" ->
      (s"WITH ${PortableSql.shingleNearDupCtes(0.8)}, " +
        "tot AS (SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct_texts FROM documents), " +
        "ex AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_exact_dup_docs FROM " +
        "(SELECT count(*) AS c FROM documents GROUP BY text HAVING count(*) >= 2)), " +
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_neardup_docs FROM " +
        "(SELECT DISTINCT id FROM (SELECT id_a AS id FROM ndpairs UNION ALL SELECT id_b FROM ndpairs))), " +
        s"d0 AS (SELECT doc_id, $Toks AS tk FROM documents WHERE doc_id IS NOT NULL), " +
        "w AS (SELECT doc_id, " +
        "unnest(CASE WHEN len(tk) >= 8 THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' ')) ELSE [] END) AS win FROM d0), " +
        s"h AS (SELECT doc_id, ${PortableSql.hex15("md5(win)")} AS h FROM w), " +
        "hs AS (SELECT h FROM (SELECT h, count(*) AS c FROM h GROUP BY h) WHERE c >= 2), " +
        "sp AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_span_dup_docs FROM h JOIN hs USING (h)) " +
        "SELECT n_docs, n_distinct_texts, n_exact_dup_docs, n_neardup_docs, n_span_dup_docs " +
        "FROM tot, ex, nd, sp"),

    // the Gopher keep CTE mirrors q99's rule arithmetic verbatim
    "q107_data_card" ->
      (s"WITH t AS (SELECT doc_id, source, lang, n_chars, $Toks AS tk, " +
        "string_split(text, chr(10)) AS ln, text FROM documents), " +
        "g AS (SELECT doc_id, source, lang, n_chars, CAST(len(tk) AS BIGINT) AS nw, " +
        "CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS sl, " +
        "CAST(length(text) - length(regexp_replace(text, '#', '', 'g')) AS BIGINT) AS nh, " +
        "CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS ne, " +
        "CAST(len(ln) AS BIGINT) AS nl, " +
        "CAST(len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS nb, " +
        "CAST(len(list_filter(ln, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS BIGINT) AS nel, " +
        "CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS na, " +
        "CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(tk, s))) AS BIGINT) AS ns, " +
        s"CAST(round($QualityExpr * 10) AS BIGINT) AS q10 FROM t) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_total, " +
        "CAST(sum(nw) AS BIGINT) AS n_tokens_total, " +
        "count(DISTINCT lang) AS n_langs, " +
        "CAST(sum(q10) AS BIGINT) AS quality_decisum, " +
        "CAST(sum(CASE WHEN ((nw >= 50 AND nw <= 100000) AND (sl >= 3 * nw AND sl <= 10 * nw) AND " +
        "(10 * (nh + ne) < nw) AND (10 * nb < 9 * nl) AND (10 * nel < 3 * nl) AND " +
        "(5 * na >= 4 * nw) AND (ns >= 2)) THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep " +
        "FROM g GROUP BY source ORDER BY source"),

    "q99_gopher_rules" ->
      (s"WITH t AS (SELECT doc_id, text, $Toks AS tk, string_split(text, chr(10)) AS ln FROM documents), " +
        "g AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS nw, " +
        "CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS sl, " +
        "CAST(length(text) - length(regexp_replace(text, '#', '', 'g')) AS BIGINT) AS nh, " +
        "CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS ne, " +
        "CAST(len(ln) AS BIGINT) AS nl, " +
        "CAST(len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS nb, " +
        "CAST(len(list_filter(ln, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS BIGINT) AS nel, " +
        "CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS na, " +
        "CAST(len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(tk, s))) AS BIGINT) AS ns " +
        "FROM t) " +
        "SELECT doc_id, nw AS n_words, " +
        "(nw >= 50 AND nw <= 100000) AS ok_word_count, " +
        "(sl >= 3 * nw AND sl <= 10 * nw) AS ok_mean_word_len, " +
        "(10 * (nh + ne) < nw) AS ok_symbol_ratio, " +
        "(10 * nb < 9 * nl) AS ok_bullet_lines, " +
        "(10 * nel < 3 * nl) AS ok_ellipsis_lines, " +
        "(5 * na >= 4 * nw) AS ok_alpha_words, " +
        "(ns >= 2) AS ok_stopwords, " +
        "((nw >= 50 AND nw <= 100000) AND (sl >= 3 * nw AND sl <= 10 * nw) AND " +
        "(10 * (nh + ne) < nw) AND (10 * nb < 9 * nl) AND (10 * nel < 3 * nl) AND " +
        "(5 * na >= 4 * nw) AND (ns >= 2)) AS keep " +
        "FROM g ORDER BY doc_id"),

    "q118_c4_rules" ->
      ("WITH t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ln FROM documents), " +
        "c AS (SELECT doc_id, text, ln, " +
        "list_filter(ln, l -> regexp_matches(rtrim(l), '[.!?\"]$') AND " +
        "len(string_split_regex(trim(l), '\\s+')) >= 5 AND " +
        "NOT contains(lower(l), 'javascript')) AS kept, " +
        "CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS nsent, " +
        "contains(lower(text), 'lorem ipsum') AS lorem, " +
        "contains(text, '{') AS brace FROM t) " +
        "SELECT doc_id, CAST(len(ln) AS BIGINT) AS n_lines, " +
        "CAST(len(kept) AS BIGINT) AS n_kept_lines, " +
        "nsent AS n_sentences, lorem AS has_lorem_ipsum, brace AS has_brace, " +
        "(nsent >= 3 AND NOT lorem AND NOT brace) AS keep, " +
        // array_to_string([]) is NULL in DuckDB where concat_ws of an
        // empty array is '' in Spark — spell the empty case explicitly
        "CASE WHEN text IS NULL THEN NULL WHEN len(kept) = 0 THEN '' " +
        "ELSE array_to_string(kept, chr(10)) END AS clean_text " +
        "FROM c ORDER BY doc_id"),

    "q151_hybrid_rrf" -> HybridRrfOracleSql,
    "q152_bm25_batch" -> Bm25BatchOracleSql,
    "q154_ivf_batch" -> knnInvariantOracle(Seq("batch_parity_ok")),
    "q155_hybrid_batch" -> HybridBatchOracleSql
  )
}

