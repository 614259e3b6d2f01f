package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.ShardStore.Compacted
import graft.functions.expressions.TopKAggregate

/** BM25 ranked retrieval over the documents corpus (north-star extension;
  * keyword search is the retrieval counterpart of the embedding ANN in
  * [[graft.sim.Similarity]] — a training-data pipeline uses it for targeted
  * corpus probes, contamination triage, and boolean-ish filtering where no
  * embedding model is in the loop).
  *
  * Scale shape (the inverted-index plan, expressed relationally):
  *
  *  1. one explode pass over `text` builds the postings stream
  *     (doc_id, dl, tok), with the doc length computed MAP-SIDE as the
  *     token-array size — no corpus-wide doc-length aggregate or join
  *  2. the query relation is tiny by construction (a handful of terms) and
  *     is BROADCAST into that stream BEFORE any aggregation: the only rows
  *     that ever reach an exchange are the postings of the query terms
  *     themselves — the classic inverted-index access-path cost — never
  *     the full vocabulary
  *  3. document frequencies derive from the term-restricted tf relation
  *     (distinct doc–term pairs), ≤ |query terms| rows, broadcast back
  *  4. per-(query, doc) scores sum ≤ |query terms| values; the final top-k
  *     uses the k-bounded [[TopKAggregate]] partial aggregate, so the rank
  *     shuffle carries O(tasks × k) rows, independent of corpus size
  *
  * Cross-engine determinism: the standard BM25 idf is `ln((N-df+0.5)/
  * (df+0.5))`, but `ln` is a libm call with no cross-engine rounding
  * guarantee, while `+ - * /` and comparisons on doubles are IEEE-exact —
  * bit-identical wherever evaluated in the same order. The gate-portable
  * score therefore uses the raw Robertson–Spärck-Jones odds `(N-df+0.5)/
  * (df+0.5)` (the log's argument) as the idf factor, PER-TERM-quantised to
  * `floor(1e6·s)` before the (order-free, exact) integer sum across terms.
  * The DuckDB oracle spells the identical expression tree, so scores and
  * hence ranks match bit-for-bit. The log-idf variant ranks per-term hits
  * identically (log is monotone); it is kept as [[bm25LogIdf]] for callers
  * that want textbook weights and is spec-compared for per-term rank
  * agreement.
  */
object Retrieval {

  /** Per-term quantised BM25 partial score — see the object doc for why
    * the idf is the raw odds ratio and the result is a quantised long.
    * All inputs are exact integers in double space; every op is IEEE-exact
    * and ordered left-to-right, mirroring the oracle SQL text. */
  private def scoreU(
      tf: Column, df: Column, dl: Column, nDocs: Column, avgdl: Column,
      k1: Double, b: Double): Column = {
    val idf = (nDocs - df + lit(0.5)) / (df + lit(0.5))
    val num = tf * lit(k1 + 1)
    val den = tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl)
    floor(lit(1e6) * idf * num / den).cast("long")
  }

  /** Textbook BM25 per-term score (log idf, double) — NOT oracle-portable
    * (libm ln); spec'd against [[scoreU]] for per-term rank agreement. */
  def bm25LogIdf(
      tf: Column, df: Column, dl: Column, nDocs: Column, avgdl: Column,
      k1: Double = 1.2, b: Double = 0.75): Column = {
    val idf = log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    idf * (tf * lit(k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))
  }

  /** Persisted inverted index: build once, probe many, APPEND per ingest
    * shard — the retrieval analogue of [[graft.sim.Similarity.buildIvfIndex]].
    * At 100 TB the postings explode is the dominant cost; amortising it
    * across query batches is the difference between a search index and a
    * rescan, and re-exploding the WHOLE corpus because one day's shard
    * arrived is the difference between an index and a nightly rebuild —
    * [[appendBm25Index]] folds a new shard in at O(shard) cost.
    *
    * Layout under `path`:
    *  - `postings/` — (doc_id, dl, tf, tok, block) PARTITIONED BY
    *    (`shard`, `bucket`) where `bucket` = pmod(xxhash64(tok), buckets):
    *    a probe prunes to its terms' bucket directories before reading a
    *    byte (same partition-pruning play as the IVF index's centroid
    *    directories), and an append lands as its own `shard=` subtree via
    *    dynamic partition overwrite — idempotent under replay
    *  - `impacts/` — per (tok, block) of each shard: max tf, min dl and
    *    `n`, the shard's postings rows in that block; same partitioning
    *  - `meta.json` — [[graft.core.AtomicStore.writeMetaJson]]:
    *    `shard_ids` (the committed shards; committing the document is what
    *    makes a shard visible), `n_docs`, `n_text_docs`, `sum_dl` (exact
    *    longs: avgdl is DERIVED as sum_dl/n_text_docs, so appends add
    *    longs and never round twice) and `buckets`. Read strictly: a
    *    damaged or incomplete document throws naming the file.
    *
    * Document frequencies are not stored. Postings are unique per
    * (doc, tok), so df(tok) is tok's postings-row count, which is Σ `n`
    * over tok's impacts rows of the committed shards — an exact long sum
    * whatever the shard and block split, and compaction keeps it by
    * summing `n`. A probe derives df for its own terms only, from the
    * impacts rows of their bucket directories.
    *
    * Append: postings and impacts first (both settle before the meta
    * commit), meta last. A crash before the commit leaves orphan shard
    * subtrees, which probes ignore (every read filters to committed
    * shards) and the replayed append overwrites; a crash after it makes
    * the replay a guarded no-op. Precondition: an appended shard's doc
    * ids are new to the index (standard ingest contract — a re-shipped
    * doc would double its postings and df contributions).
    *
    * Build: under the lease, unpublish first — delete `meta.json`, then
    * the index's other entries (the `postings`/`impacts` trees with their
    * stale shard subtrees, their torn-compact tmps and an old-layout
    * `meta/` relation; nothing else under `path`) — then write the trees and
    * commit the meta. A torn rebuild therefore reads as no index, never
    * as new trees under the old stats, and replaying it rebuilds.
    *
    * Indexes written before the `meta.json` layout (a `meta/` relation)
    * cannot be read or appended to; every call that needs the meta says
    * so naming the path, and a build over the path migrates it. */
  def buildBm25Index(
      docs: DataFrame, textCol: String, idCol: String, path: String,
      buckets: Int = 64, shardId: String = "base"): Unit = {
    require(shardId != Compacted, s"shard id $Compacted is reserved")
    val spark = docs.sparkSession
    graft.core.WriterLease.withLease(spark, path) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the meta tmp first: a meta read adopts a complete tmp when the file
      // is missing, which would re-publish the old index over the new
      // trees. Only the index's own entries go: the trees, their compact
      // tmps and an old-layout `meta/` relation
      for (entry <- Seq("meta.json_tmp", "meta.json") ++
          Seq("postings", "impacts", "meta").flatMap(e => Seq(e, s"${e}_tmp")))
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$entry"), true)
      val tf = writeShardPostings(docs, textCol, idCol, path, buckets, shardId)
      try writeMeta(spark, path,
        IndexMeta(shardStats(docs, textCol, tf), buckets, Set(shardId)))
      finally tf.unpersist()
    }
  }

  /** Fold one new shard into an existing index at O(shard) cost: postings
    * and impacts land as the shard's own partition subtrees; the stats add
    * as exact longs in the meta (which is why a probe after N appends is
    * bit-identical to a probe of a single full rebuild, spec'd and
    * oracle-gated by q97). Returns false (no-op) when `shardId` is already
    * folded — the replay guard. See [[buildBm25Index]] for the layout and
    * the crash-safety protocol.
    *
    * `preTf` (optional): the shard's [[shardTermFrequencies]] relation,
    * precomputed (and typically persisted) by the caller — the
    * ingest-pipelining overlap: shard k+1 tokenizes while shard k's
    * build/append commits. MUST be exactly
    * `shardTermFrequencies(docs, textCol, idCol)` for the same rows;
    * everything downstream (postings, impacts, sum_dl) derives from it.
    * n_docs/n_text_docs still count `docs` directly (null-text rows never
    * reach the tf relation). */
  def appendBm25Index(
      docs: DataFrame, textCol: String, idCol: String, path: String,
      shardId: String, preTf: DataFrame = null): Boolean = {
    require(shardId != Compacted, s"shard id $Compacted is reserved")
    val spark = docs.sparkSession
    graft.core.WriterLease.withLease(spark, path) {
      val meta = requireMeta(spark, path)
      if (meta.shards.contains(shardId)) {
        System.err.println(s"[bm25] shard $shardId already in index at $path — skipping")
        false
      } else {
        val tf = writeShardPostings(docs, textCol, idCol, path, meta.buckets,
          shardId, preTf)
        try writeMeta(spark, path, IndexMeta(meta.stats + shardStats(docs, textCol, tf),
          meta.buckets, meta.shards + shardId))
        finally tf.unpersist()
        true
      }
    }
  }

  /** Small-file maintenance: rewrite the postings and impacts trees
    * (shards × buckets directories after repeated appends) as ONE shard
    * with one file per bucket. Probe results are identical before/after
    * (spec'd). Protocol: the compacted-shard id enters the meta guard
    * FIRST, then each tree swaps through the tmp/delete/rename discipline
    * ([[graft.core.AtomicStore.replaceVia]]). Every state in between reads
    * the same index: a tree not yet swapped still holds the committed
    * shards' subtrees, a swapped one holds their fold under the compacted
    * id, and both are filtered to the guard — impacts rows fold under
    * max/min/sum, so ceilings and df are unchanged. A torn swap self-heals
    * on the next read or append. Historical shard ids STAY in the guard,
    * so replays of long-gone shards still short-circuit. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    graft.core.WriterLease.withLease(spark, path) {
      val meta = requireMeta(spark, path)
      if (!meta.shards.contains(Compacted))
        writeMeta(spark, path, meta.copy(shards = meta.shards + Compacted))
      val live = graft.core.AtomicStore.readRequired(spark, s"$path/postings")
        .filter(col("shard").isin(meta.shards.toSeq: _*))
        .drop("shard")
        .withColumn("shard", lit(Compacted))
      graft.core.AtomicStore.replaceVia(spark, s"$path/postings") { tmp =>
        live.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("shard", "bucket").parquet(tmp)
      }
      val liveImp = committedImpacts(spark, path, meta)
        .groupBy("tok", "block", "bucket")
        .agg(max("max_tf").as("max_tf"), min("min_dl").as("min_dl"),
          sum("n").as("n"))
        .withColumn("shard", lit(Compacted))
      graft.core.AtomicStore.replaceVia(spark, s"$path/impacts") { tmp =>
        liveImp.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("shard", "bucket").parquet(tmp)
      }
    }

  /** Whether a BM25 index is committed at `path` (its meta landed). The
    * pipeline's append-vs-build decision keys on this. An index in the
    * old layout throws. */
  def indexExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    readMeta(spark, path).isDefined

  private final case class IndexStats(nDocs: Long, nTextDocs: Long, sumDl: Long) {
    /** Derived EXACTLY as the one-shot aggregate would: long→double cast,
      * one IEEE division — so merged longs reproduce the rebuild's double. */
    def avgdl: Double = sumDl.toDouble / nTextDocs
    def +(o: IndexStats): IndexStats =
      IndexStats(nDocs + o.nDocs, nTextDocs + o.nTextDocs, sumDl + o.sumDl)
  }
  private final case class IndexMeta(stats: IndexStats, buckets: Int, shards: Set[String])

  private def metaPath(path: String) = s"$path/meta.json"

  /** The committed meta, None when no index is committed at `path`. */
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[IndexMeta] =
    graft.core.AtomicStore.readMetaJson(spark, metaPath(path)) { m =>
      IndexMeta(
        IndexStats(m.required("n_docs").asLong(), m.required("n_text_docs").asLong(),
          m.required("sum_dl").asLong()),
        m.required("buckets").asInt(), graft.core.AtomicStore.shardIds(m))
    }.orElse {
      if (graft.core.Fs.exists(spark, s"$path/meta"))
        throw new IllegalStateException(s"BM25 index at $path is in the old layout " +
          "(a meta/ relation, no meta.json) — rebuild it with buildBm25Index")
      None
    }

  private def requireMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexMeta =
    readMeta(spark, path).getOrElse(
      throw new IllegalStateException(s"no BM25 index at $path"))

  private def writeMeta(spark: org.apache.spark.sql.SparkSession, path: String,
      meta: IndexMeta): Unit =
    graft.core.AtomicStore.writeMetaJson(spark, metaPath(path)) { root =>
      graft.core.AtomicStore.putShardIds(root, meta.shards)
      root.put("n_docs", meta.stats.nDocs)
      root.put("n_text_docs", meta.stats.nTextDocs)
      root.put("sum_dl", meta.stats.sumDl)
      root.put("buckets", meta.buckets)
    }

  /** Hash-blocks per term's posting space: `block = xxhash64(doc_id) %
    * PostingBlocks`. The SAME block id for a doc across all terms — the
    * property the block-max pruning's soundness proof needs (a doc's
    * total-score upper bound is the sum of its one block's per-term
    * ceilings). */
  private[text] val PostingBlocks = 16

  /** The shard's (doc_id, tok, dl, tf) term-frequency relation — the
    * expensive tokenize+aggregate pass of an ingest, WITHOUT the
    * index-layout columns (bucket/block/shard are cheap projections the
    * writer adds from the INDEX's own meta). Exposed so a caller can
    * PRE-PAY this pass for the next shard while the current shard's
    * build/append commits (the ingest-pipelining overlap): pass the
    * result to [[appendBm25Index]]'s `preTf` — the append then skips its
    * own tokenize pass. The relation is a deterministic pure function of
    * the shard (tokenize → hash-aggregate), so a precomputed instance is
    * bit-identical to the one the append would derive (spec'd).
    *
    * The tokenizer runs ONCE into a materialised array column, and the
    * explode reads that ATTRIBUTE: spelling `size(tokens(text))` beside
    * `explode(tokens(text))` lets Catalyst collapse the projections so
    * the sibling column's regex split re-runs per EXPLODED row — 12x
    * measured at sf0.1 (2.3 s vs 0.2 s for the explode stage; the split
    * runs |tokens| times per doc instead of once). */
  def shardTermFrequencies(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull)
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        size(col("__toks")).as("dl"),
        explode(col("__toks")).as("tok"))
    toks.groupBy("doc_id", "tok", "dl").agg(count(lit(1)).as("tf"))
  }

  /** Write one shard's postings + impacts trees and return the PERSISTED
    * (doc_id, tok, dl, tf, bucket, block, shard) relation both were
    * written from: one tokenize+aggregate pass serves the postings write,
    * the impacts derivation, and sum_dl — the old shape paid a second
    * full regex pass (stats) plus a disk re-read with a footer-inference
    * job (impacts).
    *
    * Both trees are clustered by bucket before the partitioned write
    * ([[graft.core.ClusteredWrite]]: one writer task per core, one file
    * per (shard, bucket) directory). Dynamic partition overwrite: only
    * THIS shard's (shard, bucket) partitions are replaced, so a replayed
    * torn write self-heals and other shards are never touched.
    *
    * Beside the postings, an `impacts/` relation lands per shard: per
    * (tok, block) the max tf and min dl — the block-max metadata
    * ([[queryBm25Index]]'s `blockMax` pruning derives exact per-block
    * score CEILINGS from it at query time, since scoreU is monotone up
    * in tf and down in dl and df/N/avgdl are per-term constants). Shard
    * merge is a query-time max/min — appends stay O(shard). Its `n` (the
    * postings rows per block) is where every probe's df comes from.
    *
    * Materialisation is a MEMORY_AND_DISK_SER persist, not a
    * localCheckpoint: a localCheckpoint truncates lineage, making an
    * executor loss mid-build unrecoverable. Persist keeps the
    * (deterministic: tokenize → hash-aggregate) lineage, so a lost block
    * recomputes, and every consumer is an order-free aggregate (write /
    * max / min / count / sum), so recomputation cannot change any derived
    * value. CALLERS must unpersist after the meta commit. */
  private[text] def writeShardPostings(
      docs: DataFrame, textCol: String, idCol: String, path: String,
      buckets: Int, shardId: String, preTf: DataFrame = null): DataFrame = {
    // adopt a torn compact FIRST: this write (re-)creates the tree dirs,
    // after which the read-side recovery would orphan a completed tmp
    // holding all pre-compact postings (AtomicStore.heal scaladoc)
    graft.core.AtomicStore.heal(spark(docs), s"$path/postings")
    graft.core.AtomicStore.heal(spark(docs), s"$path/impacts")
    val base =
      if (preTf != null) preTf
      else shardTermFrequencies(docs, textCol, idCol)
    val tf = base
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(buckets)))
      .withColumn("block", pmod(xxhash64(col("doc_id")), lit(PostingBlocks)))
      .withColumn("shard", lit(shardId))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the two writes are INDEPENDENT actions over the same persisted tf
    // (disjoint trees; block-manager locks dedup a racing tf partition
    // materialisation) — overlapped, the pair costs max not sum
    // (guide: "overlap independent jobs"). A failed write unpersists:
    // the caller never receives tf to release it
    try graft.core.Par.both(
      graft.core.ClusteredWrite(tf, buckets, col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard", "bucket")
        .parquet(s"$path/postings"),
      // impacts: vocabulary × PostingBlocks rows, bucket-partitioned so a
      // probe prunes them exactly like postings; `n` (postings rows per
      // block) keeps the shard's df derivable from this far smaller tree
      graft.core.ClusteredWrite(
        tf.groupBy("tok", "block")
          .agg(max("tf").as("max_tf"), min("dl").as("min_dl"),
            count(lit(1)).as("n"))
          .withColumn("bucket", pmod(xxhash64(col("tok")), lit(buckets)))
          .withColumn("shard", lit(shardId)),
        buckets, col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard", "bucket")
        .parquet(s"$path/impacts"))
    catch { case e: Throwable => tf.unpersist(); throw e }
    tf
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** Shard ingest stats WITHOUT a second tokenize pass: a doc's token
    * count is recoverable from its postings exactly — `dl = Σ_tok tf`, so
    * `sum_dl = Σ tf` over the shard's persisted postings relation
    * (map-only fold, no shuffle, no doc grouping; empty-token docs
    * contribute 0 on both derivations). n_docs / n_text_docs come from one
    * column-pruned pass over the input relation (count only — the
    * tokenizer never runs here). At 100 TB this turns ingest from two full
    * regex passes over the shard text into one. */
  private def shardStats(docs: DataFrame, textCol: String,
      tf: DataFrame): IndexStats = {
    // two independent bounded actions (doc counts over the input, Σtf
    // over the persisted postings) — overlapped, max not sum
    val (r, sumDl) = graft.core.Par.both(
      docs.agg(count(lit(1)).as("n_docs"),
          count(col(textCol)).as("n_text_docs"))
        .head(),
      tf.agg(coalesce(sum("tf"), lit(0L))).head().getLong(0))
    IndexStats(r.getLong(0), r.getLong(1), sumDl)
  }

  /** Impacts-tree read schema (partition cols as strings — inference is
    * off session-wide), for footer-job-free reads. */
  private val ImpactsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("tok", StringType), StructField("block", LongType),
      StructField("max_tf", LongType), StructField("min_dl", IntegerType),
      StructField("n", LongType),
      StructField("shard", StringType), StructField("bucket", StringType)))
  }

  /** The committed shards' impacts rows. */
  private def committedImpacts(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexMeta): DataFrame =
    graft.core.AtomicStore.readRequired(spark, s"$path/impacts", ImpactsSchema)
      .filter(col("shard").isin(meta.shards.toSeq: _*))

  /** df per term of `impacts` (committed rows): Σ n — see
    * [[buildBm25Index]] for why that is exact. */
  private def dfOf(impacts: DataFrame): DataFrame =
    impacts.groupBy("tok").agg(sum("n").as("df"))

  /** Every committed term's df (the spec observable of the rule the
    * probes apply to their own terms). */
  private[text] def documentFrequencies(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    dfOf(committedImpacts(spark, path, requireMeta(spark, path)))

  /** Probe a persisted BM25 index: bit-identical to [[bm25TopK]] on the
    * same corpus (spec'd, and q95 routes the q91 gate query through the
    * index against the SAME oracle SQL). The query terms are collected
    * driver-side to build LITERAL bucket/term filters — bounded by the
    * query's own size (a handful of terms, never corpus data), and the
    * literal predicate is what lets Spark prune non-probed bucket
    * directories at the scan.
    *
    * `blockMax = true` enables EXACT block-max pruning (round-7 task #6
    * — the general-top-k complement of the df-ceiling): without it every
    * posting of every query term is scored; with it the probe
    *
    *  1. derives per-(term, block) score CEILINGS from the stored
    *     impacts (scoreU(max_tf, df, min_dl, …) — monotone up in tf,
    *     down in dl, so a valid upper bound for every posting in the
    *     block; shard maxima merge under max/min);
    *  2. pass 1: scores ONLY each term's single highest-ceiling block
    *     and takes the k-th best PARTIAL total as threshold T — partial ≤
    *     true, so T lower-bounds the true k-th best score;
    *  3. pass 2: a block survives iff Σ_terms ceiling(term, block) ≥ T.
    *     `block = hash(doc_id) % B` is the same for a doc under every
    *     term, so a skipped block's docs have true score ≤ the skipped
    *     ceiling sum < T ≤ the final k-th score — they cannot place, and
    *     surviving docs keep ALL their postings, so emitted scores,
    *     ranks and tie-breaks are BIT-IDENTICAL to the exhaustive scan
    *     (q112 gates that against the same oracle as q91/q95).
    *
    * The win is posting-row reduction (logged per probe): high-idf terms
    * concentrate their mass in few blocks and the long tail of
    * low-impact blocks is never scored. */
  def queryBm25Index(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: DataFrame, k: Int = 5,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0, blockMax: Boolean = false,
      blockMaxStats: Boolean = false): DataFrame = {
    val meta = requireMeta(spark, path)
    // distinct: a duplicated (query_id, term) row would otherwise duplicate
    // scored rows (doubling score_u/n_hit_terms) and break the documented
    // bit-equality with bm25TopK — which dedups the same way
    val q = queryTerms.select(col("query_id"), col("term")).distinct()
    // bounded driver collect: |terms| rows by construction (the query
    // itself, never corpus data)
    val allTerms = q.select("term").distinct().collect().map(_.getString(0)).toSeq
    require(allTerms.nonEmpty, "queryTerms is empty")
    // the terms' df: one bounded collect of their impacts rows (|terms| ×
    // blocks × shards, in the terms' bucket directories), summed in one
    // task — a single input partition already satisfies the aggregate's
    // clustering, so no shuffle stage runs
    val df = dfOf(committedImpacts(spark, path, meta)
        .filter(inBuckets(allTerms, meta.buckets) && col("tok").isin(allTerms: _*))
        .coalesce(1))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // df-ceiling (stopword guard): df is known before the postings scan,
    // so the ceiling is enforceable there — a stopword-like term ("the")
    // has postings ≈ the whole corpus, and without the guard one hot term
    // degrades the index probe to a corpus-sized read. Dropping a term is
    // only APPROXIMATELY rank-safe: its near-zero odds-idf still
    // contributes to score_u and n_hit_terms (default 1.0 = off, which is
    // what the bit-exact gate queries use). Dropped terms are named on
    // stderr.
    val terms =
      if (maxDfFrac >= 1.0) allTerms
      else {
        val (hot, kept) = allTerms.partition(t =>
          df.getOrElse(t, 0L) > maxDfFrac * meta.stats.nDocs)
        if (hot.nonEmpty) System.err.println(
          s"[bm25] dropping ${hot.size} term(s) over df ceiling " +
            s"($maxDfFrac of ${meta.stats.nDocs} docs): ${hot.mkString(", ")}")
        kept
      }
    if (terms.isEmpty) // keep query_id's own type; everything else is fixed
      return q.select(col("query_id")).limit(0)
        .withColumn("doc_id", lit(null).cast("long"))
        .withColumn("rank", lit(null).cast("int"))
        .withColumn("score_u", lit(null).cast("long"))
        .withColumn("n_hit_terms", lit(null).cast("long"))
    // bucket predicate from FOLDABLE expressions (see inBuckets); the
    // exact term filter then lands on the parquet footer. The shard filter
    // restricts the scan to COMMITTED shards: orphan postings of a torn
    // (crashed-before-meta) append stay invisible until their replay
    // completes.
    val bucketPred = inBuckets(terms, meta.buckets)
    // postings are corpus-scale (register for the broadcast demotion
    // rule); readRequired heals a torn compact swap on the next probe
    graft.plans.CorpusScale.register(s"$path/postings")
    val postings = graft.core.AtomicStore.readRequired(spark, s"$path/postings")
      .filter(col("shard").isin(meta.shards.toSeq: _*) &&
        bucketPred && col("tok").isin(terms: _*))
    // df and the corpus stats enter as literals; avgdl derives from the
    // exact stored longs with the same single long→double-cast division
    // the one-shot aggregate performs (bit-identical, see IndexStats.avgdl)
    val dfLit = typedLit(terms.map(t => t -> df.getOrElse(t, 0L)).toMap)
    def score(tf: Column, dl: Column): Column =
      scoreU(tf, dfLit(col("tok")), dl, lit(meta.stats.nDocs),
        lit(meta.stats.avgdl), k1, b)
    val tfAll = postings.join(broadcast(q), postings("tok") === q("term"))
      .select(col("query_id"), col("doc_id"), col("tok"), col("dl"), col("tf"),
        col("block"))
    val tf =
      if (!blockMax) tfAll
      else blockMaxPrune(spark, path, meta, q, terms, bucketPred, tfAll, score,
        k, blockMaxStats)
    val scored = tf.select(col("query_id"), col("doc_id"),
      score(col("tf"), col("dl")).as("s"))
    val agg = scored.groupBy("query_id", "doc_id")
      .agg(sum("s").as("score_u"), count(lit(1)).as("n_hit_terms"))
    rankTopK(agg, k)
  }

  /** `bucket` is one of the directories `terms` hash to. Built from
    * FOLDABLE expressions — pmod(xxhash64(lit(t))) constant-folds to the
    * literal the writer computed, so Catalyst prunes the other bucket
    * directories at the scan (plan-guarded). Partition values round-trip
    * as STRINGS (type inference is off session-wide), so the comparison
    * is string = string — a cast on the partition column would defeat
    * pruning. */
  private def inBuckets(terms: Seq[String], buckets: Int): Column =
    terms.map(t => col("bucket") === pmod(xxhash64(lit(t)), lit(buckets)).cast("string"))
      .reduce(_ || _)

  /** The block-max pruning pass — see [[queryBm25Index]]'s scaladoc for
    * the soundness argument. Returns the surviving tf rows (a doc's
    * block survives → ALL its tf rows survive, so downstream scores are
    * exact). Every relation here is bounded by |terms| × PostingBlocks
    * or |queries| — broadcast-scale by construction. `score(tf, dl)` is
    * the probe's per-term scorer over a row carrying `tok`. */
  private def blockMaxPrune(
      spark: org.apache.spark.sql.SparkSession, path: String,
      meta: IndexMeta, q: DataFrame, terms: Seq[String],
      bucketPred: Column, tfAll: DataFrame,
      score: (Column, Column) => Column, k: Int,
      collectStats: Boolean): DataFrame = {
    val ub = committedImpacts(spark, path, meta)
      .filter(bucketPred && col("tok").isin(terms: _*))
      .groupBy("tok", "block") // shard ceilings merge under max/min
      .agg(max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
      .join(broadcast(q), col("tok") === col("term"))
      .select(col("query_id"), col("tok"), col("block"),
        score(col("max_tf"), col("min_dl")).as("ub"))
      // |terms| × blocks rows; read twice below — one partition keeps the
      // checkpoint (and every consumer stage) from paying 32-task overhead
      // for a few hundred rows
      .coalesce(1).localCheckpoint(true)
    // pass 1: each term's single highest-ceiling block, scored exactly
    val probe = ub.groupBy("query_id", "tok")
      .agg(max(struct(col("ub"), col("block"))).as("m"))
      .select(col("query_id"), col("tok"), col("m.block").as("block"))
    val partial = tfAll.join(broadcast(probe), Seq("query_id", "tok", "block"))
      .select(col("query_id"), col("doc_id"), score(col("tf"), col("dl")).as("s"))
      .groupBy("query_id", "doc_id").agg(sum("s").as("ps"))
    // threshold T = k-th best PARTIAL total (valid lower bound on the
    // true k-th best); fewer than k partials → no pruning for that query
    val thresh = partial.groupBy("query_id")
      .agg(TopKAggregate.topK(struct(col("ps"), col("doc_id")), k).as("tk"))
      .select(col("query_id"),
        when(size(col("tk")) >= k, element_at(col("tk"), k).getField("ps"))
          .otherwise(lit(Long.MinValue)).as("__t"))
    val surviving = ub.groupBy("query_id", "block")
      .agg(sum("ub").as("__ub_total"))
      .join(thresh, Seq("query_id"), "left")
      .filter(col("__ub_total") >= coalesce(col("__t"), lit(Long.MinValue)))
      .select(col("query_id"), col("block"))
      // |queries| × blocks bound; maybe-counted + joined (1 partition:
      // same rationale as the ceilings checkpoint)
      .coalesce(1).localCheckpoint(true)
    // the reduction counters are OBSERVABILITY, not semantics (the cut is
    // exact either way) — two extra count jobs per probe is a real tax on
    // the latency-facing path, so they run only when asked (specs do)
    if (collectStats) {
      val nBlocks = ub.select("query_id", "block").distinct().count()
      val nSurvive = surviving.count()
      lastBlockMaxStats = Some((nSurvive, nBlocks))
      System.err.println(s"[bm25] block-max: $nSurvive of $nBlocks " +
        "(query, block) cells survive the ceiling cut")
    }
    tfAll.join(broadcast(surviving), Seq("query_id", "block"))
  }

  /** (surviving, total) (query, block) cells of the LAST block-max probe
    * on this JVM — the measured-reduction observable (spec/ops aid; the
    * same numbers go to stderr per probe). */
  @volatile private[text] var lastBlockMaxStats: Option[(Long, Long)] = None

  /** BATCHED probe of a persisted BM25 index — the 10⁴–10⁶-query
    * production shape [[queryBm25Index]] is wrong for. The per-query path
    * collects the term set driver-side to build FOLDABLE bucket/term
    * literals (a pruning win for a handful of terms); at batch scale that
    * collect is a driver OOM, the broadcast query relation explodes, and
    * with thousands of distinct terms the literal bucket predicate stops
    * pruning anything. This path keeps the queries DISTRIBUTED end to
    * end:
    *
    *  1. the query relation computes its own `bucket` map-side with the
    *     SAME `pmod(xxhash64(term), buckets)` expression the writer used;
    *  2. postings join the query relation on the pure EQUI key
    *     (bucket, term) — a shuffle hash/sort-merge join at batch scale
    *     (AQE still broadcasts a genuinely small batch adaptively), never
    *     a BroadcastNestedLoopJoin, with no driver-side term collect
    *     anywhere on the path (plan-guarded in RetrievalSpec);
    *  3. document frequencies derive from the impacts rows of the
    *     batch's own (bucket, term) pairs — a semi-join on the same equi
    *     key, summed per term — and join back on `tok` (distributed); the
    *     batch's term rows are materialised once for all their readers;
    *  4. corpus stats enter as LITERALS (the meta is read driver-side,
    *     no Spark job);
    *  5. the per-query top-k is the k-bounded [[TopKAggregate]] partial,
    *     so the rank shuffle carries O(tasks × k) rows per query;
    *  6. identical term PROFILES are ranked once and fanned back out
    *     (round-11): every cost above scales with the batch's distinct
    *     profile count, not its query count.
    *
    * Scores are bit-identical to [[queryBm25Index]] / [[bm25TopK]] for
    * any query set (same quantised algebra, same literal stats — spec'd,
    * and q152 gates a 1000-query batch against the q91-family oracle).
    * `maxDfFrac` drops over-ceiling terms at the df relation (the direct
    * path's approximate-rank-safety caveat applies). `blockMax = true`
    * adds the EXACT per-query block-max cut in batch shape (see the
    * in-body comment): bit-identical results, scored-row shuffle cut to
    * the over-ceiling survivors. */
  def queryBm25IndexBatched(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: DataFrame, k: Int = 5,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0, blockMax: Boolean = false): DataFrame = {
    val meta = requireMeta(spark, path)
    // distinct at the contract boundary — the queryBm25Index rationale
    val q0 = queryTerms.select(col("query_id"), col("term")).distinct()
    // BATCH PROFILE DEDUP (round-11 optimization): a ranking depends ONLY
    // on the query's term SET — scores, ranks, tie-breaks and n_hit_terms
    // never read query_id — so queries sharing a profile are computed
    // ONCE. Production batches repeat profiles heavily (query logs are
    // Zipfian; the generated gate batch has 31 distinct profiles over
    // 1000 queries), and every scored-posting row downstream multiplies
    // by the batch's profile count, not its query count: the exhaustive
    // scoring shuffle — THE batch-probe cost (measured 10.9M rows at the
    // 1k gate) — shrinks by the duplication factor. Each profile elects
    // its minimum query_id as representative; the k result rows per
    // profile fan back out by a tiny equi-join at the end. A batch of
    // all-unique profiles pays only two query-sized aggregates and a
    // |results|-sized join — noise beside the postings work they bound.
    val profiles = q0.groupBy("query_id")
      .agg(sort_array(collect_set(col("term"))).as("__terms"))
    val rep = profiles.groupBy("__terms").agg(min(col("query_id")).as("__rep"))
    val qmap = profiles.join(rep, Seq("__terms"))
      .select(col("query_id").as("__qid"), col("__rep"))
    val q = rep
      .select(col("__rep").as("query_id"), explode(col("__terms")).as("term"))
      .withColumn("__qbucket",
        // partition values round-trip as strings (inference off
        // session-wide) — compare string = string, the writer's layout
        pmod(xxhash64(col("term")), lit(meta.buckets)).cast("string"))
      // derived ONCE: the postings join, the df semi-join and the ceilings
      // all read it, and each would otherwise re-run the profile dedup's
      // aggregates (without this the BatchStress 1k and 10k probes ran
      // ~10% slower at sf0.1 on a 4-core host). Bounded by |profiles| ×
      // terms, so ubQ's localCheckpoint caveat (below) applies
      .localCheckpoint(true)
    graft.plans.CorpusScale.register(s"$path/postings")
    val postings = graft.core.AtomicStore.readRequired(spark, s"$path/postings")
      // orphan subtrees of torn appends stay invisible until replayed
      .filter(col("shard").isin(meta.shards.toSeq: _*))
    // (bucket, term) equi-join: bucket is functional on term, but keeping
    // it in the key gives dynamic partition pruning a handle on the
    // postings tree's partition column when the batch's term set is small
    val tfAll = postings.join(q,
        postings("bucket") === q("__qbucket") && postings("tok") === q("term"))
      .select(col("query_id"), col("doc_id"), col("tok"), col("dl"), col("tf"),
        col("block"))
    // the batch's committed impacts rows, semi-joined on the same key; df
    // per term sums their `n` (terms over the ceiling drop here)
    val impacts = committedImpacts(spark, path, meta)
      .join(q.select(col("__qbucket").as("bucket"), col("term").as("tok")),
        Seq("bucket", "tok"), "left_semi")
    val dfs =
      if (maxDfFrac >= 1.0) dfOf(impacts)
      else dfOf(impacts).filter(col("df") <= lit(maxDfFrac * meta.stats.nDocs))
    def score(tf: Column, dl: Column): Column =
      scoreU(tf, col("df"), dl, lit(meta.stats.nDocs), lit(meta.stats.avgdl), k1, b)
    // BATCHED block-max pruning (the q112 soundness argument, batch
    // shape): the exhaustive batch's wall-clock is dominated NOT by the
    // postings join (linear, measured 7.0M → 70.0M rows at 1k → 10k
    // queries) but by shuffling all Σ_q Σ_t df(t) scored rows into the
    // per-(query, doc) sum — the classic exhaustive-scoring cost that
    // WAND/block-max exists to cut (Broder 2003; Ding & Suel 2011).
    // Everything stays an equi-join on distributed relations: ceilings
    // come from the batch's impacts rows, pass-1 probes one block per
    // (query, term), thresholds are per-query k-bounded partials, and
    // the survivors relation (≤ |queries| × blocks rows) joins back on
    // (query_id, block) — no driver term collect, no broadcast query set.
    // Postings are scanned twice (pass 1 + final), which buys skipping
    // the scored-row shuffle for every under-ceiling block.
    val tf =
      if (!blockMax) tfAll
      else {
        val ubBase = impacts
          .groupBy("tok", "block") // shard ceilings merge under max/min
          .agg(max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
          .join(dfs, "tok")
          .select(col("tok"), col("block"),
            score(col("max_tf"), col("min_dl")).as("ub"))
        // per-(query, term, block) ceilings: bounded by |batch term pairs|
        // × blocks; eagerly materialised (read twice below) — bounded, so
        // the localCheckpoint fault-tolerance caveat is acceptable here
        val ubQ = ubBase.join(q, col("tok") === col("term"))
          .select(col("query_id"), col("tok"), col("block"), col("ub"))
          .localCheckpoint(true)
        // pass 1: each (query, term)'s single highest-ceiling block,
        // scored exactly → the k-th best partial total lower-bounds the
        // true k-th best score
        val probe = ubQ.groupBy("query_id", "tok")
          .agg(max(struct(col("ub"), col("block"))).as("m"))
          .select(col("query_id"), col("tok"), col("m.block").as("block"))
        val partial = tfAll.join(probe, Seq("query_id", "tok", "block"))
          .join(dfs, "tok")
          .select(col("query_id"), col("doc_id"), score(col("tf"), col("dl")).as("s"))
          .groupBy("query_id", "doc_id").agg(sum("s").as("ps"))
        val thresh = partial.groupBy("query_id")
          .agg(TopKAggregate.topK(struct(col("ps"), col("doc_id")), k).as("tk"))
          .select(col("query_id"),
            when(size(col("tk")) >= k, element_at(col("tk"), k).getField("ps"))
              .otherwise(lit(Long.MinValue)).as("__t"))
        // pass 2: a (query, block) cell survives iff its ceiling sum can
        // reach the query's threshold — block = hash(doc_id) is
        // term-independent, so a skipped cell's docs provably cannot
        // place (the q112 argument, verbatim)
        val surviving = ubQ.groupBy("query_id", "block")
          .agg(sum("ub").as("__ub_total"))
          .join(thresh, Seq("query_id"), "left")
          .filter(col("__ub_total") >= coalesce(col("__t"), lit(Long.MinValue)))
          .select(col("query_id"), col("block"))
          .localCheckpoint(true) // ≤ |queries| × blocks rows, read once but
          // recomputing it would re-run pass 1's postings scan
        tfAll.join(surviving, Seq("query_id", "block"))
      }
    // tok equi-join (the tf side is already term-restricted, so this is
    // |hit postings| rows against the batch's terms)
    val scored = tf.drop("block").join(dfs, "tok")
      .select(col("query_id"), col("doc_id"), score(col("tf"), col("dl")).as("s"))
    // pre-partition by the grouping keys: the default partial+final
    // aggregate is the WRONG plan for this shape — each (query, doc)
    // group holds ≤ |query terms| rows scattered across input partitions,
    // so the map-side combine reduces ~nothing while its per-task hash
    // map grows with |batch| × df and degenerates to the sort-based
    // fallback (measured at a 10k-query × 70M-posting probe: 53 s
    // default vs 18 s pre-partitioned; the 1k gate also improves,
    // 2.6 → 1.7 s). The explicit exchange replaces the aggregate's own,
    // so no extra shuffle is paid at any batch size.
    val agg = scored.repartition(col("query_id"), col("doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum("s").as("score_u"), count(lit(1)).as("n_hit_terms"))
    // fan the per-profile rankings back out to every query sharing the
    // profile (see the dedup comment above) — a |queries|-row equi-join,
    // inner so a zero-hit profile stays silent for all its queries
    val ranked = rankTopK(agg, k)
    ranked.join(qmap, col("query_id") === col("__rep"))
      .select(col("__qid").as("query_id"), col("doc_id"), col("rank"),
        col("score_u"), col("n_hit_terms"))
  }

  /** Top-`k` documents per query by quantised-BM25 score.
    *
    * @param docs       corpus with `idCol` and `textCol`
    * @param queryTerms (query_id, term) relation — small, broadcast
    * @return (query_id, doc_id, rank, score_u, n_hit_terms), rank 1..k by
    *         score DESC then doc_id ASC
    */
  def bm25TopK(
      docs: DataFrame, queryTerms: DataFrame, textCol: String, idCol: String,
      k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    // distinct: a duplicated (query_id, term) row would inflate that term's
    // tf (explode-join counts each copy), a NONLINEAR score change — and
    // would break bit-equality with the index probe. Dedup at the contract
    // boundary so both paths agree for any input relation.
    val q = queryTerms.select(col("query_id"), col("term")).distinct()
    // doc length rides along MAP-SIDE (size of the token array) — never a
    // corpus-wide (doc, tok) aggregate or a doc-length join: the only rows
    // that ever shuffle are the postings of the query terms themselves
    // (the inverted-index access-path cost), everything else is broadcast
    // tokenise ONCE into an attribute before exploding: sibling
    // expressions of a generator land in the Project ABOVE the Generate,
    // so size(tokens(text)) beside explode(tokens(text)) re-runs the
    // regex split per EXPLODED row — |tokens| times per doc (12x measured
    // on the writeShardPostings twin of this shape)
    val toks = docs
      .filter(col(textCol).isNotNull)
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        size(col("__toks")).as("dl"),
        explode(col("__toks")).as("tok"))
    val matched = toks.join(broadcast(q), toks("tok") === q("term"))
    // tf per (query, doc, term); dl is functional on doc_id so grouping by
    // it adds no cardinality
    val tf = matched.groupBy("query_id", "doc_id", "tok", "dl")
      .agg(count(lit(1)).as("tf"))
    // df over ALL docs containing the term, derived from the already
    // term-restricted postings (distinct collapses multi-query terms);
    // <= |terms| rows -> broadcast
    val dfq = tf.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // corpus stats as a 1-row broadcast relation (no driver-side action):
    // N counts every corpus row; avgdl averages over docs that tokenize —
    // one column-pruned pass, map-side partial aggregate
    val stats = docs.agg(count(lit(1)).as("n_docs")).crossJoin(
      docs.filter(col(textCol).isNotNull)
        .select(size(TextAnalysis.tokens(col(textCol))).as("dl"))
        .agg((sum("dl").cast("double") / count(lit(1))).as("avgdl")))
    // df-ceiling in the DIRECT path bounds the score aggregate, not the
    // scan (df is only known after the term-restricted postings exist —
    // the I/O-pruning form of this guard lives in [[queryBm25Index]],
    // where the index's impacts give df BEFORE the postings scan).
    // Same approximate-rank-safety caveat; default 1.0 = off.
    val limited =
      if (maxDfFrac >= 1.0) tf.join(broadcast(dfq), "tok")
      else tf.join(broadcast(dfq), "tok").crossJoin(broadcast(stats.select(
          col("n_docs").as("__n"))))
        .filter(col("df") <= lit(maxDfFrac) * col("__n")).drop("__n")
    val scored = limited
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        scoreU(col("tf"), col("df"), col("dl"), col("n_docs"), col("avgdl"),
          k1, b).as("s"))
    val agg = scored.groupBy("query_id", "doc_id")
      .agg(sum("s").as("score_u"), count(lit(1)).as("n_hit_terms"))
    rankTopK(agg, k)
  }

  /** k-bounded rank over (query_id, doc_id, score_u, n_hit_terms). The
    * sort key is the quantised LONG itself — never a double: a df=1 term's
    * quantised odds-idf is ~2.2e6·N, which crosses 2^53 near N≈4e9 docs
    * (inside the 100 TB envelope), where a double key would collapse
    * distinct scores and tie-break by doc_id differently than an
    * integer-ordered oracle. [[TopKAggregate]] compares a leading long
    * score with Long.compare, so ranking stays exact at any corpus size. */
  private def rankTopK(agg: DataFrame, k: Int): DataFrame =
    agg.groupBy("query_id")
      .agg(TopKAggregate.topK(
        struct(col("score_u"), col("doc_id"), col("n_hit_terms")), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("hit.score_u").as("score_u"), col("hit.n_hit_terms").as("n_hit_terms"))
}
