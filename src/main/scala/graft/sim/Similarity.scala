package graft.sim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.TopKAggregate

/** Similarity search over embedding columns (Array[Float]) — north-star
  * extension.
  *
  *  - [[cosine]]: HOF dot product / norms, double accumulation in index
  *    order (deterministic; mirrorable in the DuckDB oracle).
  *  - [[bruteForceKnn]]: broadcast the (small) query set against the full
  *    corpus — the exact baseline. At 100 TB corpus scale this is one
  *    map-only pass: the join is broadcast and the rank is a k-bounded
  *    partial aggregate, so only O(tasks × k) rows shuffle.
  *  - [[lshKnn]]: random-hyperplane LSH — sign-bit signature, bucket join,
  *    exact re-rank inside buckets. The scale path: candidate set per query
  *    is a bucket, not the corpus.
  *  - [[ivfKnn]]: inverted-file index — centroid assignment is a map-side
  *    fold over a broadcast centroid array (zero corpus shuffle).
  */
object Similarity {

  /** Elementwise double products in index order. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Production path: native fused expression (one codegen pass for dot +
    * norms), bit-identical to [[cosineHof]] including its null semantics
    * (ragged lengths / null elements / zero norms → null). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosine(a, b)

  /** Builtin-HOF reference formulation of [[cosine]]. `try_divide` makes the
    * zero-norm case null under ANSI mode too (cosine against a zero vector
    * is undefined — null, not an error or an IEEE Inf/NaN). */
  def cosineHof(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Native norm for the hoisted-cosine form ([[cosineHoisted]]). */
  def vecNorm(a: Column): Column =
    graft.functions.expressions.VectorExpressions.vecNorm(a)

  /** Norm-hoisted pairwise cosine (round-11 optimization): every scored
    * KNN pair reuses its two rows' norms, so the norms hoist OUT of the
    * pair loop as per-ROW columns computed once before the join
    * ([[vecNorm]]) and only the dot product stays per-PAIR — one fused
    * multiply-add pass per pair instead of three (the fused [[cosine]]
    * recomputes both norms for every pair). Bit-identical to [[cosine]]
    * for every input, including the edge semantics (ragged lengths / null
    * elements → null via the dot and norm nulls; zero denominator → null
    * via the explicit guard; NaN/Inf flow through the same IEEE ops in
    * the same order) — property-tested in VectorExpressionsSpec. */
  private[graft] def cosineHoisted(
      qv: Column, cv: Column, qn: Column, cn: Column): Column = {
    val den = qn * cn
    when(den === lit(0.0), lit(null).cast("double"))
      .otherwise(graft.functions.expressions.VectorExpressions.dot(qv, cv) / den)
  }

  /** Exact `row_number()`-equivalent top-k per query, as a k-bounded partial
    * aggregate: each task keeps a k-heap per query (ObjectHashAggregate
    * partial mode), so the shuffle carries ≤ k rows per (task × query)
    * instead of every scored pair. Output: (query_id, neighbor_id, cos,
    * rank), rank 1..k by cos DESC then neighbor_id ASC. */
  private def topKRank(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKAggregate.topK(struct(col("cos"), col("neighbor_id")), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.neighbor_id").as("neighbor_id"),
        col("hit.cos").as("cos"), (col("pos") + 1).cast("int").as("rank"))

  /** Exact top-k by cosine for each query vector. `queries` must be small
    * enough to broadcast (driver enforces nothing; Spark picks broadcast
    * from size). Ties broken by corpus id for determinism. */
  def bruteForceKnn(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 10): DataFrame = {
    // norms hoist out of the |queries| × |corpus| pair loop (cosineHoisted)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      vecNorm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      vecNorm(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
    topKRank(scored, k)
  }

  /** FILTERED exact top-k — the "search within a tenant / category /
    * language" shape every production vector store ships: neighbours are
    * restricted to rows sharing the query's `filterCol` value (null-safe:
    * a null-attribute query searches the null-attribute slice). The
    * filter rides the broadcast-join KEY, so candidate generation never
    * scores a cross-slice pair — pre-filtering, not post-filter-and-
    * hope-k-survive (post-filtering a plain top-k under-fills k whenever
    * the slice is a minority of the corpus). Same k-bounded TopK
    * aggregate as [[bruteForceKnn]]; at index scale the label-SHARDED
    * IVF form ([[queryIvfIndex]] with `shardFilter`) prunes the scan to
    * the slice's partition directories instead. */
  def filteredBruteForceKnn(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      filterCol: String, k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(filterCol).as("__qf"), vecNorm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(filterCol).as("__cf"), vecNorm(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q),
        col("__cf") <=> col("__qf") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
    topKRank(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * hash of (p, j) mapped to [-1, 1). No RNG — reproducible across runs
    * and engines. */
  private def planeComponent(p: Column, j: Column): Column =
    xxhash64(p, j).cast("double") / lit(Long.MaxValue.toDouble)

  /** Sign-bit LSH signature of `planes` random hyperplanes — native
    * imperative expression (one pass per row, vs planes × dim interpreted
    * lambda calls in [[lshSignatureHof]], which it is bit-parity-tested
    * against). */
  def lshSignature(vec: Column, planes: Int = 16): Column =
    graft.functions.expressions.VectorExpressions.lshSignature(vec, planes)

  /** Builtin-HOF reference formulation of [[lshSignature]] (spec oracle). */
  def lshSignatureHof(vec: Column, planes: Int = 16): Column = {
    val projections = transform(sequence(lit(0), lit(planes - 1)), p => {
      // dot(vec, plane_p) via index zip: component j weight = planeComponent
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") * planeComponent(p, j)),
        lit(0.0), (acc, x) => acc + x)
    })
    val masks = array((0 until planes).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(projections, masks,
        (proj, mask) => when(proj >= 0, mask).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Approximate top-k: candidates share the LSH bucket, re-ranked by exact
    * cosine. Recall grows with fewer planes (bigger buckets) and with
    * `probes` (multi-probe LSH, Lv et al. 2007, VLDB): each QUERY also
    * visits the buckets whose signatures differ by one sign bit — a true
    * near neighbour's most likely miss is a single plane voting the other
    * way, so probing the `probes`-1 nearest-by-Hamming buckets recovers
    * most of the recall a single-bucket lookup loses, while the CORPUS
    * side still indexes each vector exactly once (the fan-out multiplies
    * only the tiny broadcast query relation, never the corpus). */
  def lshKnn(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, planes: Int = 8, probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= planes + 1,
      s"probes must be in [1, planes+1], got $probes (planes=$planes)")
    val sig = lshSignature(col(vecCol), planes)
    // probe buckets: the query's own signature, then 1-bit flips of the
    // lowest-index planes (deterministic probe order)
    val flips = array((lit(0L) +: (0 until probes - 1).map(i => lit(1L << i))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      vecNorm(col(vecCol)).as("__qn"),
      explode(transform(flips, f => sig.bitwiseXOR(f))).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshSignature(col(vecCol), planes).as("bucket"),
      vecNorm(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
      // a (query, neighbour) pair can meet in more than one probed bucket
      .dropDuplicates("query_id", "neighbor_id")
    topKRank(scored, k)
  }

  /** IVF-style approximate top-k: an inverted-file index with
    * hash-sampled centroids.
    *
    *  1. centroids = `nCentroids` corpus vectors chosen by lowest
    *     xxhash64(id) — deterministic pseudo-random, no RNG, no kmeans
    *     iteration (at 100 TB a couple of Lloyd iterations over a sample
    *     would refine these; the plumbing is identical)
    *  2. the centroid set is collapsed into ONE array row and broadcast;
    *     every corpus vector picks its nearest centroid with a map-side
    *     sort-and-slice over that array — the corpus never shuffles for
    *     assignment (round-1 verdict flagged the old crossJoin+window form)
    *  3. each query probes its `nProbe` nearest centroids and scores only
    *     those clusters' members; the probe join broadcasts the (tiny)
    *     query side, so scoring is map-side too
    *
    * Recall grows with nProbe; identical/near-identical vectors always
    * share a top-1 centroid, so exact duplicates are found at nProbe=1. */
  def ivfKnn(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 0, lloydSamplePct: Int = 100): DataFrame =
    ivfKnnWith(queries, corpus, idCol, vecCol, k, nProbe,
      trainIvfCentroids(corpus, idCol, vecCol, nCentroids, lloydIters,
        lloydSamplePct))

  /** [[ivfKnn]] against a CALLER-SUPPLIED (frozen) centroid relation
    * (`centroid_id`, `centroid_vec: array<float>`) — the batch-over-batch
    * production shape (assign new batches against yesterday's centroids),
    * and what lets the q101 gate compare an appended on-disk index against
    * an independent in-memory scan sharing the same centroids. */
  def ivfKnnWith(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, centroids: DataFrame): DataFrame = {
    // all centroids as a single-row array relation (bytes ~ nCentroids × dim)
    val centArr = centArrLiteral(centroids)

    val corpusAssigned = assignProbes(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        vecNorm(col(vecCol)).as("__cn")), centArr, "cv", 1)
    val queryProbes = assignProbes(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        vecNorm(col(vecCol)).as("__qn")), centArr, "qv", nProbe)

    val scored = corpusAssigned.join(broadcast(queryProbes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
    topKRank(scored, k)
  }

  /** Persisted IVF index: build once, probe many, APPEND shards forward.
    * At 100 TB the corpus assignment pass (one map-only scan) dominates
    * ANN cost, so amortising it across query batches is the difference
    * between an index and a rescan. `buildIvfIndex` writes three
    * relations — `<path>/centroids` (nCentroids rows, FROZEN after
    * build), `<path>/assigned` (corpus rows partitioned by
    * shard + centroid_id, so a probe prunes to its clusters'
    * directories at the scan) and `<path>/meta` (committed shard ids,
    * the [[graft.dedup.SeenStore]] atomic-visibility discipline) — and
    * [[queryIvfIndex]] reproduces [[ivfKnn]]'s probe/score/top-k exactly
    * (spec'd). [[appendIvfIndex]] folds a new shard in at O(shard):
    * assign against the frozen centroids, land the shard's own subtree,
    * swap the tiny meta — shard-decomposition invariant (spec'd:
    * build+append+append probes bit-identically to build+append-rest). */
  /** The deterministic centroid-training pass shared by build and
    * rebalance: hash-min seeds + optional Lloyd refinement. */
  private def trainIvfCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, lloydIters: Int,
      lloydSamplePct: Int): DataFrame = {
    val seeds = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).cast("array<float>").as("centroid_vec"))
    val cents = (1 to lloydIters).foldLeft(seeds)((c, _) =>
      refineCentroids(corpus, c, idCol, vecCol, lloydSamplePct))
    // bounded collect (nCentroids rows): a LOCAL literal result means the
    // centroids write, the assignment's one-row broadcast, and every
    // count derived from it cost zero extra Spark jobs (LocalTableScan
    // collects driver-side) — and the float bits ride through unchanged
    localRelation(cents)
  }

  /** Bounded-relation literalizer: collect + re-emit as a LocalRelation
    * with the same schema. Only for relations bounded by construction
    * (centroids, codebooks, meta rows — never corpus data). */
  private def localRelation(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toList.asJava, df.schema)

  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCentroids: Int = 16, lloydIters: Int = 0,
      lloydSamplePct: Int = 100, shardId: String = "shard0"): Unit =
    graft.core.WriterLease.withLease(corpus.sparkSession, path) {
    val cents = trainIvfCentroids(corpus, idCol, vecCol, nCentroids,
      lloydIters, lloydSamplePct) // LOCAL literal — see trainIvfCentroids
    // the centroids write and the assigned-tree (re)build are independent
    // actions on disjoint trees — both from the SAME literal cents rows,
    // so on-disk ≡ assignment stays by construction (re-evaluating the
    // lazy training plan would re-run every Lloyd pass); overlapped per
    // the guide's "overlap independent jobs". Both settle before the meta
    // commit publishes anything.
    graft.core.Par.both(
      cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids"),
      {
        // a REBUILD over a previously-used path must not inherit stale
        // partitions: the shard write below uses dynamic partition
        // overwrite (replaces only (shard, centroid) dirs present in the
        // NEW assignment), so a centroid that catches no new rows would
        // keep its old subtree visible under the same shard id — probes
        // would silently return rows of the previous build (round-6
        // advice #2). Stale rebalance generations die with the rebuild.
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/assigned"), true)
        deleteGenDirs(corpus.sparkSession, path, keep = "")
        writeAssignedShard(corpus, idCol, vecCol, path, shardId, cents)
      })
    writeIvfMeta(corpus.sparkSession, path, Set(shardId))
  }

  /** Delete every `gen-*` generation dir under `path` except `keep` —
    * build resets to the base layout; rebalance clears superseded
    * generations after its meta commit. */
  private def deleteGenDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, keep: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath).filter(p =>
        p.getName.startsWith("gen-") && p.getName != keep)
        .foreach(fs.delete(_, true))
  }

  /** Fold a new shard of vectors into a built index — O(shard): one
    * map-side assignment pass against the FROZEN centroids, the shard's
    * own `assigned` subtree via dynamic partition overwrite (idempotent
    * replay), then the meta swap that makes it visible. Crash before the
    * meta commit leaves an invisible orphan subtree the replay
    * overwrites. Centroids are never refreshed here — IVF quality decays
    * if the data distribution drifts far from the build corpus; rebuild
    * (or re-Lloyd + reassign) is the maintenance answer, as in any
    * production IVF deployment. */
  def appendIvfIndex(newRows: DataFrame, idCol: String, vecCol: String,
      path: String, shardId: String): Unit = {
    require(shardId != IvfCompactedShard, s"shard id $IvfCompactedShard is reserved")
    val spark = newRows.sparkSession
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readIvfMeta(spark, path)
    require(meta.shards.nonEmpty, s"no IVF index at $path — build before append")
    if (meta.shards.contains(shardId)) return
    writeAssignedShard(newRows, idCol, vecCol, genRoot(path, meta.gen), shardId)
    writeIvfMeta(spark, path, meta.shards + shardId, meta.gen)
    }
  }

  private val IvfCompactedShard = "__compacted"

  /** Committed shard ids + the GENERATION the index's data trees live
    * under. `gen` is the [[rebalanceIvfIndex]] indirection: "" (the
    * pre-rebalance layout, trees directly under `path`) or "gen-<n>"
    * (trees under `path/gen-<n>`). The meta swap — already atomic — is
    * thereby the commit point for a WHOLE-INDEX swap: centroids and
    * assignment flip together or not at all, and the old generation
    * stays readable until the flip. */
  private final case class IvfMeta(shards: Set[String], gen: String)

  /** Whether a persisted IVF/PQ index exists at `path` — its meta commit
    * landed. The pipeline's append-vs-build decision keys on this. */
  def indexExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    readIvfMeta(spark, path).shards.nonEmpty

  /** Meta read is DRIVER-SIDE (round-11 optimization — the
    * [[graft.agg.AggStore]] rationale: a driver-bounded guard relation
    * cost one Spark job per probe/append). Strict: a damaged meta throws;
    * an absent one reads as no index. */
  private def readIvfMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfMeta =
    graft.core.AtomicStore.readMetaJson(spark, s"$path/meta.json") { m =>
      IvfMeta(graft.core.AtomicStore.shardIds(m), m.required("gen").asText())
    }.getOrElse(IvfMeta(Set.empty, ""))

  /** The directory the index's data trees (centroids/assigned resp.
    * codebooks/codes) live under for a generation. */
  private def genRoot(path: String, gen: String): String =
    if (gen.isEmpty) path else s"$path/$gen"

  /** Meta commit is DRIVER-SIDE (see [[readIvfMeta]]). */
  private def writeIvfMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Set[String], gen: String = ""): Unit =
    graft.core.AtomicStore.writeMetaJson(spark, s"$path/meta.json") { root =>
      graft.core.AtomicStore.putShardIds(root, ids)
      root.put("gen", gen)
    }

  /** `centroids = null` (the append path) reads the FROZEN relation from
    * the index; the build path passes the literal it just wrote. */
  private def writeAssignedShard(rows: DataFrame, idCol: String,
      vecCol: String, path: String, shardId: String,
      centroids: DataFrame = null): Unit = {
    // adopt a torn compact before (re-)creating the tree (AtomicStore.heal)
    graft.core.AtomicStore.heal(rows.sparkSession, s"$path/assigned")
    val (centArr, nCents) = centArrLiteralN(
      if (centroids != null) centroids
      else rows.sparkSession.read.parquet(s"$path/centroids"))
    // cluster rows by centroid before the partitioned write (the BM25
    // postings lesson, measured there at 2.5x build cost): without the
    // repartition every shuffle task writes a sliver into every centroid
    // directory — tasks × centroids small files, the metadata bomb at
    // cluster scale. One file per centroid per shard instead — the
    // explicit count PINS the writer-task count regardless of AQE and
    // shuffle.partitions (a count-less repartition(col) carries the
    // REPARTITION_BY_COL shuffle origin, which AQE's coalescing MAY
    // resize).
    assignProbes(
        rows.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), centArr, "cv", 1)
      .withColumn("shard", lit(shardId))
      .repartition(math.max(nCents, 1), col("centroid_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "centroid_id")
      .parquet(s"$path/assigned")
  }

  /** Small-file maintenance for a persisted IVF index: rewrite the
    * assigned relation as one file per centroid directory (crash-safe
    * tmp/delete/rename — [[graft.core.AtomicStore.replaceVia]]) and
    * coalesce the centroids relation. Probe results identical
    * before/after (spec'd); partition pruning on `centroid_id` is
    * untouched because the directory layout is. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readIvfMeta(spark, path)
    val root = genRoot(path, meta.gen)
    graft.core.AtomicStore.compact(spark, s"$root/centroids")
    if (meta.shards.isEmpty) return
    // meta first (the SeenStore.compact discipline): a crash before the
    // swap leaves reads on the old subtrees — still correct; historical
    // shard ids stay recorded so append's replay guard survives
    if (!meta.shards.contains(IvfCompactedShard))
      writeIvfMeta(spark, path, meta.shards + IvfCompactedShard, meta.gen)
    val live = graft.core.AtomicStore.readRequired(spark, s"$root/assigned")
      .filter(col("shard").isin(meta.shards.toSeq: _*))
      .drop("shard").withColumn("shard", lit(IvfCompactedShard))
    graft.core.AtomicStore.replaceVia(spark, s"$root/assigned") { tmp =>
      live.repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("shard", "centroid_id").parquet(tmp)
    }
  }

  /** Probe a persisted IVF index. The probe filter lands on the
    * `centroid_id` PARTITION column of the assigned relation, so Spark
    * prunes non-probed clusters' files before reading a byte.
    *
    * `shardFilter` (non-empty) restricts the probe to those committed
    * shards — the FILTERED-ANN path: an index sharded by a metadata
    * attribute (one shard per tenant / label / language) answers "top-k
    * within slice X" by pruning every other slice's partition
    * directories at the scan, the same mechanism as centroid pruning.
    * Unknown shard ids simply match nothing (the intersection with the
    * committed set is what scans). [[compactIvfIndex]] collapses shard
    * identity into one merged shard — keep a slice-sharded index
    * UNCOMPACTED (its shards ARE its filter structure). */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nProbe: Int = 4,
      shardFilter: Set[String] = Set.empty): DataFrame = {
    val meta = readIvfMeta(spark, path)
    val root = genRoot(path, meta.gen)
    val cents = spark.read.parquet(s"$root/centroids")
    val centArr = centArrLiteral(cents)
    val queryProbes = assignProbes(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        vecNorm(col(vecCol)).as("__qn")), centArr, "qv", nProbe)
    // partition values round-trip as strings (type inference is disabled
    // session-wide); restore whatever id type the centroids relation
    // carries — ids are generic (long, string, …), not always long
    val idType = cents.schema("centroid_id").dataType
    val committed =
      if (shardFilter.isEmpty) meta.shards else meta.shards.intersect(shardFilter)
    // corpus-scale assigned tree: register for the broadcast demotion
    // rule; readRequired heals a torn compact swap on the next probe
    graft.plans.CorpusScale.register(s"$root/assigned")
    val corpusAssigned = graft.core.AtomicStore.readRequired(spark, s"$root/assigned")
      // orphan subtrees of torn appends stay invisible until replayed
      .filter(col("shard").isin(committed.toSeq: _*))
      .withColumn("centroid_id", col("centroid_id").cast(idType))
      .withColumn("__cn", vecNorm(col("cv")))
    val scored = corpusAssigned.join(broadcast(queryProbes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
    topKRank(scored, k)
  }

  /** BATCHED probe of a persisted IVF index — [[queryIvfIndex]] for a
    * 10⁴–10⁶-row query relation. The per-query path broadcasts the probe
    * relation into the corpus join (right for a handful of queries; a
    * broadcast explosion for a production batch). Here:
    *
    *  1. query→centroid assignment stays the map-side
    *     [[graft.functions.expressions.NearestCentroids]] pass against
    *     the one-row centroid-array literal (bounded by nCentroids, never
    *     by the batch — the only broadcast on the path);
    *  2. the probe join corpus ⋈ queries is a plain `centroid_id`
    *     EQUI-join with NO forced broadcast: at batch scale Spark plans a
    *     shuffle hash/sort-merge join keyed on centroid_id (AQE still
    *     broadcasts a genuinely small batch adaptively, converging on the
    *     per-query plan) — never a BroadcastNestedLoopJoin over the
    *     corpus (plan-guarded in SimilaritySpec);
    *  3. the self-match filter rides the join as a post-condition and the
    *     per-query top-k is the k-bounded [[TopKAggregate]] partial.
    *
    * Results are bit-identical to [[queryIvfIndex]] for any query set
    * (same assignment, same cosine kernel, same rank algebra — spec'd).
    * At cluster scale, a skew guard worth knowing: the shuffle key is
    * centroid_id (cardinality = nCentroids), so size nCentroids ≳ the
    * executor count for this path — the standard IVF deployment rule
    * (√N centroids), not a new constraint. */
  def queryIvfIndexBatched(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nProbe: Int = 4,
      shardFilter: Set[String] = Set.empty): DataFrame = {
    val meta = readIvfMeta(spark, path)
    val root = genRoot(path, meta.gen)
    val cents = spark.read.parquet(s"$root/centroids")
    val centArr = centArrLiteral(cents)
    val queryProbes = assignProbes(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        vecNorm(col(vecCol)).as("__qn")), centArr, "qv", nProbe)
    val idType = cents.schema("centroid_id").dataType
    val committed =
      if (shardFilter.isEmpty) meta.shards else meta.shards.intersect(shardFilter)
    graft.plans.CorpusScale.register(s"$root/assigned")
    val corpusAssigned = graft.core.AtomicStore.readRequired(spark, s"$root/assigned")
      .filter(col("shard").isin(committed.toSeq: _*))
      .withColumn("centroid_id", col("centroid_id").cast(idType))
      .withColumn("__cn", vecNorm(col("cv")))
    // the one line that differs from queryIvfIndex: no broadcast() on the
    // query side — the planner (and AQE at runtime) picks the join
    // strategy from actual sizes
    val scored = corpusAssigned.join(queryProbes, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
    topKRank(scored, k)
  }

  /** Index-drift maintenance (round-7 task #4): RETRAIN the centroids on
    * the index's own committed vectors and re-assign everything — the
    * remedy for the recall decay a FROZEN-centroid index suffers when the
    * corpus drifts away from its build distribution (appends assign
    * against build-time centroids by design, for q101's append parity;
    * after enough drift, probed clusters stop containing the true
    * neighbours).
    *
    * Atomicity via the GENERATION pointer in the meta document: the new
    * centroids + full re-assignment land COMPLETELY under
    * `path/gen-<n+1>/` while probes keep reading the old generation; the
    * (already-atomic) meta swap then flips both trees at once — there is
    * no window where new centroids pair with the old assignment (the
    * silent-wrong-results torn state a two-relation swap would allow).
    * A crash before the swap leaves the old index intact and the replay
    * rewrites the half-built generation; superseded generation dirs are
    * deleted after the commit (and by the next build/rebalance if that
    * cleanup itself crashed).
    *
    * Shard ids stay in meta (append replays still short-circuit); the
    * re-assignment lands as one `__compacted` subtree. Training follows
    * the exact [[buildIvfIndex]] seeding/Lloyd discipline over the union
    * corpus, so a rebalanced index probes BIT-IDENTICALLY to a fresh
    * build over the same rows — q113 gates that equivalence externally. */
  def rebalanceIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, nCentroids: Int = 16, lloydIters: Int = 0,
      lloydSamplePct: Int = 100): Unit =
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readIvfMeta(spark, path)
    require(meta.shards.nonEmpty, s"no IVF index at $path — nothing to rebalance")
    val oldRoot = genRoot(path, meta.gen)
    val vectors = graft.core.AtomicStore.readRequired(spark, s"$oldRoot/assigned")
      .filter(col("shard").isin(meta.shards.toSeq: _*))
      .select(col("neighbor_id").as("__rid"), col("cv").as("__rv"))
    val nextGen = "gen-" + (meta.gen match {
      case "" => 1
      case g => g.stripPrefix("gen-").toInt + 1
    })
    val newRoot = s"$path/$nextGen"
    val fs = new org.apache.hadoop.fs.Path(newRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(newRoot), true) // torn prior attempt
    val cents = trainIvfCentroids(vectors, "__rid", "__rv", nCentroids,
      lloydIters, lloydSamplePct)
    // same literal-centroids + overlapped-writes discipline as build
    graft.core.Par.both(
      cents.coalesce(1).write.mode("overwrite").parquet(s"$newRoot/centroids"),
      writeAssignedShard(vectors, "__rid", "__rv", newRoot,
        IvfCompactedShard, cents))
    // COMMIT: probes flip to the new generation here, atomically
    writeIvfMeta(spark, path, meta.shards + IvfCompactedShard, nextGen)
    // post-commit cleanup of the superseded generation (base-layout trees
    // when gen was ""); failure here is garbage, not corruption
    if (meta.gen.isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/centroids"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/assigned"), true)
    }
    deleteGenDirs(spark, path, keep = nextGen)
  }

  /** Nearest `topN` centroids per row, computed entirely map-side against
    * the broadcast one-row centroid-array relation: the
    * [[graft.functions.expressions.NearestCentroids]] native expression
    * does one fused C × dim pass with a topN-bounded selection per row —
    * no per-centroid struct allocation, no O(C log C) sort (the HOF
    * `transform`+`array_sort` form it replaced is kept below as the parity
    * oracle). The input never shuffles — the join is a
    * BroadcastNestedLoopJoin against a single row. */
  /** The (centroid_id, centroid_vec) relation collapsed into the one-row
    * `cents` array via a BOUNDED collect (nCentroids rows — tiny by
    * definition) and re-emitted as a literal local relation: broadcasting
    * it costs one trivial job instead of an aggregate over the centroid
    * relation's plan (a parquet scan + exchange under AQE at every
    * assignment site). Field types (generic centroid id) and float bits
    * ride through the collect unchanged; element order is irrelevant —
    * [[graft.functions.expressions.NearestCentroids]] breaks ties by
    * centroid id, never array position. */
  private[sim] def centArrLiteral(cents: DataFrame): DataFrame =
    centArrLiteralN(cents)._1

  /** [[centArrLiteral]] plus the centroid count (free from the same
    * bounded collect — callers sizing a repartition need it). */
  private[sim] def centArrLiteralN(cents: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.{Row, types => T}
    val spark = cents.sparkSession
    val idF = cents.schema("centroid_id")
    val vecF = cents.schema("centroid_vec")
    val rows = cents.select("centroid_id", "centroid_vec").collect()
    val elem = T.StructType(Seq(
      T.StructField("centroid_id", idF.dataType, idF.nullable),
      T.StructField("centroid_vec", vecF.dataType, vecF.nullable)))
    import scala.jdk.CollectionConverters._
    (spark.createDataFrame(
      Seq(Row(rows.map(r => Row(r.get(0), r.get(1))).toSeq): Row).asJava,
      T.StructType(Seq(
        T.StructField("cents", T.ArrayType(elem, containsNull = false))))),
      rows.length)
  }

  private[sim] def assignProbes(
      df: DataFrame, centArr: DataFrame, vec: String, topN: Int): DataFrame =
    df.crossJoin(broadcast(centArr)) // 1-row build side: map-side append
      .select(df.columns.map(col) :+
        explode(graft.functions.expressions.NearestCentroids(
          col(vec), col("cents"), topN)).as("__probe"): _*)
      .withColumn("centroid_id", col("__probe.centroid_id"))
      .drop("__probe")

  /** HOF reference formulation of [[assignProbes]] (spec oracle; also the
    * pre-round-5 production form): score every centroid into a struct,
    * full-sort with an interpreted comparator, slice. O(C log C) + C struct
    * allocations per row — correct, but the wrong shape for large C. */
  private[sim] def assignProbesSortHof(
      df: DataFrame, centArr: DataFrame, vec: String, topN: Int): DataFrame = {
    val scoredArr = transform(col("cents"), c =>
      struct(cosine(col(vec), c("centroid_vec")).as("sim"),
        c("centroid_id").as("centroid_id")))
    val ordered = array_sort(scoredArr, (l, r) =>
      when(l("sim") > r("sim"), -1).when(l("sim") < r("sim"), 1)
        .otherwise(when(l("centroid_id") < r("centroid_id"), -1)
          .when(l("centroid_id") > r("centroid_id"), 1).otherwise(0)))
    df.crossJoin(broadcast(centArr))
      .select(df.columns.map(col) :+
        explode(slice(ordered, 1, topN)).as("__probe"): _*)
      .withColumn("centroid_id", col("__probe.centroid_id"))
      .drop("__probe")
  }

  /** One Lloyd (k-means) refinement pass over a deterministic hash-sample
    * of the corpus: assign each sampled vector to its nearest centroid
    * (map-side, via [[assignProbes]]) and move each centroid to its
    * cluster's element-wise mean. Clusters that catch no sample keep their
    * previous centroid. Cost at scale: one map-only pass over the sample +
    * a (nCentroids × dim)-row aggregate — no corpus shuffle, no RNG
    * (sampling is `xxhash64(id) % 100 < pct`, reproducible anywhere). */
  def refineCentroids(
      corpus: DataFrame, cents: DataFrame, idCol: String, vecCol: String,
      samplePct: Int = 100): DataFrame = {
    val centArr = centArrLiteral(cents)
    val sample = corpus
      .filter(pmod(xxhash64(col(idCol)), lit(100)) < samplePct)
      .select(col(idCol).as("__sid"), col(vecCol).as("__v"))
    val assigned = assignProbes(sample, centArr, "__v", 1)
    val means = assigned
      .select(col("centroid_id"), posexplode(col("__v")).as(Seq("pos", "x")))
      .groupBy("centroid_id", "pos").agg(avg("x").as("m"))
      .groupBy("centroid_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s("m").cast("float")).as("__new_vec"))
    cents.join(means, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("__new_vec"), col("centroid_vec")).as("centroid_vec"))
  }

  /** Symmetric per-vector int8 quantization: `q[i] = round(x[i] / scale)`
    * with `scale = max|x| / 127`. Returns `struct(scale float, q
    * array<tinyint>)` — 1 byte per component + one float, i.e. ~4× less
    * scan/shuffle/cache volume than float32 embeddings. At 100 TB of
    * vectors this is the difference between an ANN index that fits the
    * cluster's memory and one that doesn't. Deterministic (no calibration
    * sample), and cosine is scale-invariant, so similarity is computed on
    * the int arrays directly — the per-vector scale never even needs to be
    * read back for ranking (it is kept for dequantisation/debug). */
  /** Product-quantisation codebooks (Jégou et al. 2011, the angular
    * "spherical" variant): the vector splits into `m` equal blocks and
    * each block gets `kCodes` centroids over the corpus's subvectors.
    * Assignment reuses the engine's cosine kernel
    * ([[graft.functions.expressions.NearestCentroids]] /
    * [[refineCentroids]]) — per-block spherical k-means, the natural
    * choice when the engine's retrieval metric is cosine; the stored
    * centroid norms keep the ADC reconstruction coherent. Deterministic:
    * seeds are the `kCodes` corpus rows minimising (xxhash64(id), id)
    * (the [[buildIvfIndex]] discipline) with code ids assigned in seed
    * order; optional Lloyd iterations refine per block. Output rows:
    * (block, centroid_id ∈ [0, kCodes), centroid_vec: array<float> of
    * dim d/m). Only the k×m codebook ever reaches the driver (bounded
    * collect: kCodes rows per block). */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, kCodes: Int = 16, lloydIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.sql.{Row, types => T}
    // ONE seed job for all m blocks: the per-block seed sets are the same
    // kCodes corpus rows (minimising (xxhash64(id), id)) sliced per
    // block, so sorting the corpus once and slicing the collected FULL
    // vectors driver-side replaces m identical corpus sorts (bounded
    // collect: kCodes rows). Bit-identical seeds to the per-block form —
    // same rows, same slice, same float values.
    val seedVecs = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(kCodes)
      .select(col(vecCol).cast("array<float>").as("__v"))
      .collect().map(_.getSeq[Float](0))
    require(seedVecs.nonEmpty, "PQ training needs a non-empty corpus")
    val d = seedVecs.head.length // dim from the seeds — no extra 1-row job
    require(d % m == 0, s"embedding dim $d not divisible by m=$m blocks")
    val sub = d / m
    // The codebook is m × kCodes rows BY CONSTRUCTION (PQ's whole point is
    // that this table is tiny), so the centroids live driver-side between
    // Lloyd iterations: each iteration is ONE two-shuffle job over ALL m
    // blocks — explode each corpus row into its m (block, subvector)
    // rows, assign against the block's centroid set (broadcast m-row
    // relation), one (block, centroid, pos) mean aggregate — instead of
    // the m-subplan union the per-block formulation paid (m × ~3 AQE
    // stage-jobs per iteration, the dominant cost of the PQ gate family
    // at gate scale). Assignment and mean arithmetic are row-for-row
    // identical to the per-block form, so the trained floats don't move.
    var cents: Array[Array[(Long, Seq[Float])]] = Array.tabulate(m)(b =>
      seedVecs.map { case v => v.slice(b * sub, (b + 1) * sub) }
        .zipWithIndex.map { case (v, i) => (i.toLong, v) })
    val centsSchema = T.StructType(Seq(
      T.StructField("block", T.IntegerType, nullable = false),
      T.StructField("cents", T.ArrayType(T.StructType(Seq(
        T.StructField("centroid_id", T.LongType, nullable = false),
        T.StructField("centroid_vec", T.ArrayType(T.FloatType)))),
        containsNull = false), nullable = false)))
    for (_ <- 1 to lloydIters) {
      val centsByBlock = spark.createDataFrame(
        (0 until m).map(b =>
          Row(b, cents(b).map { case (i, v) => Row(i, v) }.toSeq): Row).asJava,
        centsSchema)
      val exploded = corpus.select(
        posexplode(array((0 until m).map(b =>
          slice(col(vecCol), b * sub + 1, sub).cast("array<float>")): _*))
          .as(Seq("block", "__v")))
      val assigned = exploded.join(broadcast(centsByBlock), Seq("block"))
        .select(col("block"), col("__v"),
          element_at(graft.functions.expressions.NearestCentroids(
            col("__v"), col("cents"), 1), 1)
            .getField("centroid_id").as("centroid_id"))
      // bounded collect: ≤ m × kCodes rows; empty clusters keep their
      // previous centroid (the refineCentroids left-join semantics)
      val means = assigned
        .select(col("block"), col("centroid_id"),
          posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("block", "centroid_id", "pos").agg(avg("x").as("mn"))
        .groupBy("block", "centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s("mn").cast("float")).as("__new_vec"))
        .collect()
      val updated = means.map(r =>
        (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
      cents = Array.tabulate(m)(b => cents(b).map { case (i, v) =>
        (i, updated.getOrElse((b, i), v)) })
    }
    // literal local relation: consuming it (write / encode / LUT) costs
    // zero extra corpus jobs
    spark.createDataFrame(
      (for (b <- 0 until m; (i, v) <- cents(b)) yield Row(b, i, v): Row).toList.asJava,
      T.StructType(Seq(
        T.StructField("block", T.IntegerType, nullable = false),
        T.StructField("centroid_id", T.LongType, nullable = false),
        T.StructField("centroid_vec", T.ArrayType(T.FloatType)))))
  }

  /** PQ codes per row: for each block, the id of its nearest block
    * centroid — m small ints per doc instead of d floats, the 16-64x
    * compression that lets a 100 TB embedding corpus's ANN working set
    * live in RAM-class storage. One crossJoin against a broadcast 1-ROW
    * relation carrying all m codebook arrays (map-side append, the
    * [[assignProbes]] shape), each code a fused NearestCentroids argmax —
    * the corpus never shuffles. Output: (id, codes: array<long>). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.{Row, types => T}
    // ONE bounded collect (m × kCodes rows — the codebook is tiny by
    // construction) replaces two metadata 1-row jobs plus m
    // filter+aggregate subplans per encode; the literal 1-row build side
    // carries float bits unchanged, so codes are identical.
    val cb = collectCodebook(codebooks)
    val m = cb.length
    val sub = cb.head.head._2.length
    val centsType = T.ArrayType(T.StructType(Seq(
      T.StructField("centroid_id", T.LongType, nullable = false),
      T.StructField("centroid_vec", T.ArrayType(T.FloatType)))),
      containsNull = false)
    import scala.jdk.CollectionConverters._
    val oneRow = spark.createDataFrame(
      Seq(Row(cb.map(block =>
        block.map { case (i, v) => Row(i, v) }.toSeq): _*): Row).asJava,
      T.StructType((0 until m).map(b =>
        T.StructField(s"__cents_$b", centsType, nullable = false))))
    val codes = array((0 until m).map { b =>
      element_at(graft.functions.expressions.NearestCentroids(
        slice(col(vecCol), b * sub + 1, sub).cast("array<float>"),
        col(s"__cents_$b"), 1), 1).getField("centroid_id")
    }: _*)
    df.crossJoin(broadcast(oneRow))
      .select(col(idCol).as("id"), codes.as("codes"))
  }

  /** Driver-side codebook image: per block (ascending), the (centroid_id,
    * centroid_vec) pairs sorted by id. Bounded by m × kCodes — the
    * codebook's defining property. */
  private def collectCodebook(codebooks: DataFrame): Array[Array[(Long, Seq[Float])]] = {
    val rows = codebooks.select(col("block").cast("int"),
        col("centroid_id").cast("long"),
        col("centroid_vec").cast("array<float>"))
      .collect()
    require(rows.nonEmpty, "empty PQ codebook")
    val m = rows.map(_.getInt(0)).max + 1
    val byBlock = rows.groupBy(_.getInt(0))
    // shape validation (codebooks are a PUBLIC API input to pqEncode /
    // pqTopK): downstream pqLut slices the flattened table positionally
    // and adcScored indexes lut[block][code+1], so a missing block, a
    // ragged block, or non-dense code ids would mis-rank SILENTLY — fail
    // loudly here instead
    val missing = (0 until m).filterNot(byBlock.contains)
    require(missing.isEmpty,
      s"malformed PQ codebook: missing block(s) ${missing.mkString(", ")} of $m")
    val out = Array.tabulate(m)(b => byBlock(b).sortBy(_.getLong(1))
      .map(r => (r.getLong(1), r.getSeq[Float](2))))
    val kCodes = out.head.length
    out.zipWithIndex.foreach { case (blk, b) =>
      require(blk.length == kCodes,
        s"malformed PQ codebook: block $b has ${blk.length} codes, block 0 has $kCodes")
      require(blk.map(_._1).sameElements(0L until kCodes.toLong),
        s"malformed PQ codebook: block $b code ids are not dense 0..${kCodes - 1}")
    }
    out
  }

  /** PQ top-k by asymmetric-distance computation (ADC): the query stays
    * exact, the corpus is its codes. Per (query, block, code) the partial
    * dot query-subvector · centroid lands in a lookup table of Q×m×kCodes
    * rows (broadcast — the classic ADC distance table, relationally); the
    * exploded corpus codes (m 16-byte rows per doc) equi-join it and the
    * per-doc sum approximates the dot, normalised by the query norm and
    * the RECONSTRUCTED corpus norm (sqrt Σ_b ‖centroid‖² — coherent with
    * the codes, so approx-cos ≈ cos within quantisation error).
    *
    * Scale shape: codebook training is kCodes-bounded; encoding is
    * map-only; scoring shuffles N×m LUT-joined rows into a k-bounded
    * TopK — no all-pairs relation, but ADC is inherently a full-corpus
    * scan per query batch (it is the COMPRESSION leg of web-scale ANN;
    * compose with IVF pruning for the candidate-bounded leg). */
  def pqKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, m: Int = 4, kCodes: Int = 16,
      lloydIters: Int = 0, codebooks: Option[DataFrame] = None): DataFrame = {
    // m*kCodes rows, re-read by encode + LUT: materialise the (possibly
    // Lloyd-refined) codebook once. A caller-supplied codebook skips the
    // training pass — the batch-over-batch production shape (and what
    // lets Bench time train and probe apart).
    val cb = codebooks.getOrElse(
      trainPqCodebooks(corpus, idCol, vecCol, m, kCodes, lloydIters)
        .localCheckpoint(true))
    val codes = pqEncode(corpus, idCol, vecCol, cb)
      .withColumnRenamed("id", "neighbor_id")
    val lutArr = pqLut(cb, queries, idCol, vecCol)
    // broadcast Q-row LUT side: every corpus row scores against every
    // query MAP-SIDE (per-row array fold, no N×m shuffle); only k-bounded
    // TopK partials reach the exchange
    val pairs = codes.crossJoin(broadcast(lutArr))
      .filter(col("neighbor_id") =!= col("query_id"))
    topKRank(adcScored(pairs), k)
  }

  /** Per-query ADC lookup table as ONE nested array column:
    * `lut[block][code] = (pdot, n2)` with pdot = query-subvector ·
    * centroid and n2 = ‖centroid‖² — the classic ADC distance table,
    * here a broadcastable Q-row relation. Construction sorts by code and
    * block so positional `element_at` indexing is exact. */
  private def pqLut(cb: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import org.apache.spark.sql.{Row, types => T}
    // literal codebook build side (bounded collect, float bits unchanged)
    // + ONE per-query aggregate building the nested [block][code] table
    // positionally — replaces a metadata job, a codebook-relation scan,
    // and a second shuffle per LUT. Each (block, code) pair is unique, so
    // the ascending struct sort orders by (block, code) exactly as the
    // two-level form did and never consults the float fields.
    val cbl = collectCodebook(cb)
    val m = cbl.length
    val kCodes = cbl.head.length
    val sub = cbl.head.head._2.length
    import scala.jdk.CollectionConverters._
    val cbLit = spark.createDataFrame(
      (for (b <- 0 until m; (i, v) <- cbl(b)) yield Row(b, i, v): Row).toList.asJava,
      T.StructType(Seq(
        T.StructField("block", T.IntegerType, nullable = false),
        T.StructField("code", T.LongType, nullable = false),
        T.StructField("centroid_vec", T.ArrayType(T.FloatType)))))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    q.crossJoin(broadcast(cbLit))
      .select(col("query_id"), col("qn"), col("block"), col("code"),
        dot(slice(col("qv"), (col("block") * sub + 1).cast("int"), lit(sub)),
          col("centroid_vec")).as("pdot"),
        dot(col("centroid_vec"), col("centroid_vec")).as("n2"))
      .groupBy("query_id", "qn")
      .agg(array_sort(collect_list(
        struct(col("block"), col("code"), col("pdot"), col("n2")))).as("flat"))
      .select(col("query_id"), col("qn"),
        transform(sequence(lit(0), lit(m - 1)), b =>
          transform(slice(col("flat"), b * lit(kCodes) + 1, lit(kCodes)), s =>
            struct(s("pdot").as("pdot"), s("n2").as("n2")))).as("lut"))
  }

  /** ADC score for rows carrying (codes, lut, qn): a LEFT-TO-RIGHT array
    * fold over the m blocks — fully deterministic FP order, identical on
    * every path (in-memory scan, candidate join, persisted index), which
    * is what lets q105 assert index-probe ≡ direct BIT-FOR-BIT. Null cos
    * rows (zero-norm query) are dropped like the exact kernel's. */
  private def adcScored(pairs: DataFrame): DataFrame = {
    val picked = zip_with(col("codes"),
      sequence(lit(0), size(col("codes")) - 1),
      (c, b) => element_at(element_at(col("lut"), b + 1), (c + 1).cast("int")))
    pairs
      .withColumn("__p", picked)
      .select(col("query_id"), col("neighbor_id"),
        (aggregate(col("__p"), lit(0.0), (acc, s) => acc + s("pdot")) /
          (col("qn") *
            sqrt(aggregate(col("__p"), lit(0.0), (acc, s) => acc + s("n2")))))
          .as("cos"))
      .filter(col("cos").isNotNull)
  }

  /** PQ with exact re-ranking — the standard two-leg production shape:
    * ADC over the compressed codes builds a `shortlist`-sized candidate
    * set per query (the cheap full-scan leg, working set = codes), then
    * ONLY the shortlisted ids fetch their true vectors for exact cosine
    * (the expensive leg, candidate-bounded: shortlist × Q rows, never the
    * corpus). Recall is set by the shortlist size; ranking among
    * surfaced candidates is EXACT by construction. */
  def pqKnnRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, shortlist: Int = 100, m: Int = 4,
      kCodes: Int = 16, lloydIters: Int = 0,
      codebooks: Option[DataFrame] = None): DataFrame = {
    val cands = pqKnn(queries, corpus, idCol, vecCol,
      k = shortlist, m = m, kCodes = kCodes, lloydIters = lloydIters,
      codebooks = codebooks)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      vecNorm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      vecNorm(col(vecCol)).as("__cn"))
    val scored = cands.join(c, "neighbor_id").join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
      .filter(col("cos").isNotNull)
    topKRank(scored, k)
  }

  /** IVF-PQ with exact re-rank — the full web-scale ANN composition
    * (Jégou et al. 2011 as deployed): IVF bounds WHICH docs are scored
    * (only the nProbe probed clusters' members), PQ bounds WHAT is read
    * to score them (m-code rows, not d-float vectors), and the exact
    * re-rank touches true vectors only for the ADC shortlist. Per query
    * the scored set is ~N·nProbe/C rows of m codes; the true-vector
    * fetch is shortlist-bounded. Centroids and codebooks share the
    * deterministic seeding discipline, so the whole path is
    * reproducible run-over-run.
    *
    * All three stages are prunings of the SAME relation, so recall
    * composes multiplicatively: IVF loses neighbors outside probed
    * clusters (q54's trade), ADC mis-shortlists near-ties (q102's), and
    * the re-rank is lossless on what survives. The gate floor is
    * calibrated for the composition, not inherited from the parts. */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
      shortlist: Int = 100, m: Int = 4, kCodes: Int = 16,
      lloydIters: Int = 0, codebooks: Option[DataFrame] = None): DataFrame = {
    val seeds = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nCentroids)
      .select(col(idCol).as("centroid_id"),
        col(vecCol).cast("array<float>").as("centroid_vec"))
    val centArr = centArrLiteral(seeds)
    val assigned = assignProbes(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      centArr, "cv", 1).select("neighbor_id", "centroid_id")
    val queryProbes = assignProbes(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      centArr, "qv", nProbe).select("query_id", "centroid_id")
    // candidate set: (query, doc) pairs sharing a probed cluster
    val cands = assigned.join(broadcast(queryProbes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    // PQ codebooks + codes over the corpus; ADC-score ONLY the candidates
    val cb = codebooks.getOrElse(
      trainPqCodebooks(corpus, idCol, vecCol, m, kCodes, lloydIters)
        .localCheckpoint(true))
    val codes = pqEncode(corpus, idCol, vecCol, cb)
      .withColumnRenamed("id", "neighbor_id")
    val lutArr = pqLut(cb, queries, idCol, vecCol)
    val pairs = cands
      .join(codes, "neighbor_id")
      .join(broadcast(lutArr), "query_id")
    val short = topKRank(adcScored(pairs), shortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank of the shortlist only
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      vecNorm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      vecNorm(col(vecCol)).as("__cn"))
    val rescored = short.join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
      .filter(col("cos").isNotNull)
    topKRank(rescored, k)
  }

  /** Persisted PQ index: codebooks (FROZEN at build, like the IVF
    * centroids) + (shard)-partitioned code relation + atomic meta of
    * committed shard ids. Codes are computed against frozen codebooks,
    * so APPEND is exact by construction — a shard's codes are identical
    * whether encoded at build time or folded in later (spec'd
    * bit-for-bit), the property that makes daily ingest into a
    * compressed ANN working set an O(shard) maintenance operation.
    * Layout mirrors [[buildIvfIndex]]; the same replay/orphan guards. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 8, kCodes: Int = 32, lloydIters: Int = 1,
      shardId: String = "shard0"): Unit = {
    val spark = corpus.sparkSession
    graft.core.WriterLease.withLease(spark, path) {
    val cb = trainPqCodebooks(corpus, idCol, vecCol, m, kCodes, lloydIters)
    // codebooks write and the codes (re)build are independent actions on
    // disjoint trees, both from the SAME literal codebook rows (on-disk ≡
    // encoding by construction, no re-read of the tree — the
    // buildIvfIndex centroid discipline); overlapped per the guide's
    // "overlap independent jobs". Both settle before the meta commit.
    graft.core.Par.both(
      cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks"),
      {
        // a rebuild must not inherit stale code partitions or generations
        // (the buildIvfIndex reasoning, round-6 advice #2)
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes"), true)
        deleteGenDirs(spark, path, keep = "")
        writePqShard(corpus, idCol, vecCol, path, shardId, codebooks = Some(cb))
      })
    writeIvfMeta(spark, path, Set(shardId))
    }
  }

  /** Fold a new shard's codes in at O(shard) against the frozen
    * codebooks. Idempotent per shard id; torn appends stay invisible
    * until replayed (meta gating). */
  def appendPqIndex(newRows: DataFrame, idCol: String, vecCol: String,
      path: String, shardId: String): Unit = {
    require(shardId != IvfCompactedShard, s"shard id $IvfCompactedShard is reserved")
    val spark = newRows.sparkSession
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readIvfMeta(spark, path)
    require(meta.shards.nonEmpty, s"no PQ index at $path — build before append")
    if (meta.shards.contains(shardId)) return
    writePqShard(newRows, idCol, vecCol, genRoot(path, meta.gen), shardId)
    writeIvfMeta(spark, path, meta.shards + shardId, meta.gen)
    }
  }

  /** PQ drift maintenance — [[rebalanceIvfIndex]]'s contract for the
    * compression leg: retrain the per-block codebooks and re-encode,
    * committing through the same generation-pointer meta swap (old codes
    * readable until the flip, no torn codebook/codes pairing). Unlike
    * IVF, the index stores only CODES — the compression is the point —
    * so the caller supplies the corpus (the vectors) to retrain over;
    * it must cover exactly the indexed rows. Shard ids stay recorded
    * (append replays still short-circuit); the re-encoding lands as one
    * `__compacted` subtree. Same training discipline as a fresh build,
    * so the rebalanced index probes like one. */
  def rebalancePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 8, kCodes: Int = 32,
      lloydIters: Int = 1): Unit = {
    val spark = corpus.sparkSession
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readIvfMeta(spark, path)
    require(meta.shards.nonEmpty, s"no PQ index at $path — nothing to rebalance")
    val nextGen = "gen-" + (meta.gen match {
      case "" => 1
      case g => g.stripPrefix("gen-").toInt + 1
    })
    val newRoot = s"$path/$nextGen"
    val fs = new org.apache.hadoop.fs.Path(newRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(newRoot), true) // torn prior attempt
    val cb = trainPqCodebooks(corpus, idCol, vecCol, m, kCodes, lloydIters)
    // same literal-codebook + overlapped-writes discipline as buildPqIndex
    graft.core.Par.both(
      cb.coalesce(1).write.mode("overwrite").parquet(s"$newRoot/codebooks"),
      writePqShard(corpus, idCol, vecCol, newRoot, IvfCompactedShard,
        codebooks = Some(cb)))
    writeIvfMeta(spark, path, meta.shards + IvfCompactedShard, nextGen) // COMMIT
    if (meta.gen.isEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/codebooks"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes"), true)
    }
    deleteGenDirs(spark, path, keep = nextGen)
    }
  }

  /** `codebooks`: build/rebalance pass their just-trained LOCAL literal
    * (zero-job encode source, identical float rows to the tree they just
    * wrote); append reads the frozen tree — the only copy it has. */
  private def writePqShard(rows: DataFrame, idCol: String, vecCol: String,
      path: String, shardId: String,
      codebooks: Option[DataFrame] = None): Unit = {
    // adopt a torn compact before (re-)creating the tree (AtomicStore.heal)
    graft.core.AtomicStore.heal(rows.sparkSession, s"$path/codes")
    val cb = codebooks.getOrElse(
      rows.sparkSession.read.parquet(s"$path/codebooks"))
    pqEncode(rows, idCol, vecCol, cb)
      .withColumn("shard", lit(shardId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .parquet(s"$path/codes")
  }

  /** ADC top-k against the persisted codes — identical score algebra to
    * [[pqKnn]]'s scan leg, reading codes (not vectors) from disk; only
    * meta-committed shards are visible. Exact re-rank stays the caller's
    * composition (it needs the true-vector relation, which the index
    * deliberately does not store — the codes ARE the compression). */
  def queryPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10): DataFrame = {
    val meta = readIvfMeta(spark, path)
    val root = genRoot(path, meta.gen)
    val cb = spark.read.parquet(s"$root/codebooks")
    val committed = meta.shards
    graft.plans.CorpusScale.register(s"$root/codes")
    val codes = graft.core.AtomicStore.readRequired(spark, s"$root/codes")
      .filter(col("shard").isin(committed.toSeq: _*))
      .select(col("id").as("neighbor_id"), col("codes"))
    val lutArr = pqLut(cb, queries, idCol, vecCol)
    val pairs = codes.crossJoin(broadcast(lutArr))
      .filter(col("neighbor_id") =!= col("query_id"))
    topKRank(adcScored(pairs), k)
  }

  /** Small-file maintenance for the codes tree; [[compactIvfIndex]]
    * discipline (meta first, atomic swap, historical ids kept). */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      nFiles: Int = 1): Unit =
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readIvfMeta(spark, path)
    val root = genRoot(path, meta.gen)
    graft.core.AtomicStore.compact(spark, s"$root/codebooks")
    if (meta.shards.isEmpty) return
    if (!meta.shards.contains(IvfCompactedShard))
      writeIvfMeta(spark, path, meta.shards + IvfCompactedShard, meta.gen)
    val live = graft.core.AtomicStore.readRequired(spark, s"$root/codes")
      .filter(col("shard").isin(meta.shards.toSeq: _*))
      .select("id", "codes").withColumn("shard", lit(IvfCompactedShard))
    graft.core.AtomicStore.replaceVia(spark, s"$root/codes") { tmp =>
      live.coalesce(nFiles)
        .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    }
  }

  def quantizeInt8(vec: Column): Column = {
    val scale = greatest(
      aggregate(vec, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))),
      lit(java.lang.Double.MIN_NORMAL)) / 127.0
    struct(scale.cast("float").as("scale"),
      transform(vec, x => round(x.cast("double") / scale).cast("tinyint")).as("q"))
  }

  /** Brute-force top-k over int8-quantised vectors: same broadcast +
    * k-bounded-partial-aggregate shape as [[bruteForceKnn]], but the
    * corpus pass reads 1-byte components. Scores are approximate (≤ ~1%
    * cosine error at int8 — bounded in SimilaritySpec); rank ties broken
    * by neighbor id as everywhere else. */
  def quantizedKnn(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 10): DataFrame = {
    def qz(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id),
        quantizeInt8(col(vecCol))("q").cast("array<float>").as(v))
    val scored = qz(corpus, "neighbor_id", "cv")
      .withColumn("__cn", vecNorm(col("cv")))
      .join(broadcast(qz(queries, "query_id", "qv")
          .withColumn("__qn", vecNorm(col("qv")))),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineHoisted(col("qv"), col("cv"), col("__qn"), col("__cn")).as("cos"))
    topKRank(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings, then within each cluster drop
    * every vector that has a smaller-id neighbour above the cosine
    * threshold — one deterministic representative per semantic
    * near-duplicate set survives.
    *
    * Scale shape: centroids are hash-seeded (+ optional Lloyd passes, all
    * map-side over a sample), corpus→cluster assignment is the map-side
    * argmin of [[ivfKnn]] — the corpus never shuffles for clustering. The
    * pairwise stage is bounded to same-cluster pairs (the whole point of
    * clustering first: |cluster|² ≪ |corpus|²) and reuses
    * [[cosineNearDupPairs]]'s equi-join on the cluster id.
    *
    * `maxCluster` is the fat-cluster guard (the same spam-cluster failure
    * mode [[graft.dedup.Dedup.minhashPairs]] guards with maxBucket): one
    * dense semantic cluster of B rows contributes B²/2 pairs and can
    * dominate the whole join at corpus scale. Clusters above the bound are
    * SUB-BUCKETED by the sign-bit LSH signature of the vector, so the pair
    * join runs within (cluster, signature-bucket) — near-identical vectors
    * share every sign bit and stay comparable (an exact duplicate is ALWAYS
    * caught), while far-apart members of an over-merged cluster are pruned.
    * ON by default; pass 0 to disable.
    *
    * `nCentroids <= 0` selects AUTO cluster count: ~corpus/1024, clamped to
    * [16, 65536]. Fixed cluster COUNT makes the within-cluster pair stage
    * quadratic in corpus size (10x data → 10x fatter clusters → 100x
    * pairs); the SemDeDup recipe holds cluster SIZE roughly constant as the
    * corpus grows, keeping pair work linear. Costs one count() pass, so
    * callers that know their corpus (or need a deterministic clustering for
    * an oracle) should pin the count explicitly.
    *
    * Returns every corpus row: (id, centroid_id, is_kept). */
  /** The cluster-assignment pass shared by [[semanticDedup]] and its
    * guard-counter report — one construction, so the counters describe
    * exactly the clustering the dedup runs on. */
  private def semanticAssigned(corpus: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, lloydIters: Int,
      lloydSamplePct: Int): DataFrame = {
    val k =
      if (nCentroids > 0) nCentroids
      else math.min(65536L, math.max(16L, corpus.count() / 1024L)).toInt
    val seeds = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k)
      .select(col(idCol).as("centroid_id"), col(vecCol).cast("array<float>").as("centroid_vec"))
    val cents = (1 to lloydIters).foldLeft(seeds)((c, _) =>
      refineCentroids(corpus, c, idCol, vecCol, lloydSamplePct))
    val centArr = centArrLiteral(cents)
    assignProbes(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")), centArr, "__v", 1)
  }

  /** Guard-truncation counters for [[semanticDedup]]'s `maxCluster` (the
    * "no silent caps" rule, round-7 task #5): ONE row of (n_clusters,
    * n_fat_clusters, n_rows_subbucketed) — how many clusters exceeded the
    * cap and how many rows therefore compare only within their (cluster,
    * LSH sub-bucket) instead of the whole cluster. Unlike the band
    * guards, the fat-cluster guard loses no EXACT duplicates (identical
    * vectors share every sign bit), so the counters quantify where the
    * NEAR-dup scope narrowed. Same assignment pass as the dedup itself. */
  def fatClusterStats(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, lloydIters: Int = 0, lloydSamplePct: Int = 100,
      maxCluster: Int = 100000): DataFrame = {
    require(maxCluster > 0, "counters are about an ENABLED guard: maxCluster > 0")
    semanticAssigned(corpus, idCol, vecCol, nCentroids, lloydIters, lloydSamplePct)
      .groupBy("centroid_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("c") > maxCluster, 1L).otherwise(0L)).as("n_fat_clusters"),
        sum(when(col("c") > maxCluster, col("c")).otherwise(0L)).as("n_rows_subbucketed"))
  }

  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, threshold: Double = 0.9,
      lloydIters: Int = 0, lloydSamplePct: Int = 100,
      maxCluster: Int = 100000, guardPlanes: Int = 8): DataFrame = {
    val assigned = semanticAssigned(corpus, idCol, vecCol, nCentroids,
      lloydIters, lloydSamplePct)
    // fat-cluster guard: cluster sizes are an nCentroids-row broadcast; only
    // oversized clusters pay the extra LSH signature projection
    val grouped =
      if (maxCluster <= 0) assigned.withColumn("__grp", col("centroid_id"))
      else {
        val sizes = assigned.groupBy("centroid_id").count()
        assigned.join(broadcast(sizes), Seq("centroid_id"))
          .withColumn("__grp", concat_ws("#",
            col("centroid_id"),
            when(col("count") > maxCluster,
              lshSignature(col("__v"), guardPlanes)).otherwise(lit(0L))))
          .drop("count")
      }
    // a row is dropped iff SOME smaller-id same-group row is >= threshold
    // similar: left-semi on the pair relation, then anti-project
    val dropIds = cosineNearDupPairs(grouped, "__id", "__v", "__grp", threshold)
      .select(col("id_b").as("__id")).distinct()
    assigned.join(dropIds.withColumn("__dropped", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("centroid_id"),
        not(coalesce(col("__dropped"), lit(false))).as("is_kept"))
  }

  /** Near-duplicate pairs by embedding cosine above a threshold, bounded to
    * same-`groupCol` pairs (e.g. label or LSH bucket) to avoid the full
    * cross product. */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, groupCol: String,
      threshold: Double): DataFrame = {
    // each row meets every same-group row: hoist its norm out of the pair
    // loop (cosineHoisted — one dot pass per pair instead of three)
    val a = df.select(col(groupCol).as("g"), col(idCol).as("id_a"), col(vecCol).as("va"),
      vecNorm(col(vecCol)).as("__na"))
    val b = df.select(col(groupCol).as("g"), col(idCol).as("id_b"), col(vecCol).as("vb"),
      vecNorm(col(vecCol)).as("__nb"))
    a.join(b, Seq("g")).filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"),
        cosineHoisted(col("va"), col("vb"), col("__na"), col("__nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
