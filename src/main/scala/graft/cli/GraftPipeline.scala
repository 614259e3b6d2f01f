package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.queries.CurationQueries
import graft.text.TextAnalysis

/** Config-driven corpus-curation pipeline: the end-to-end form of the
  * operators the query catalog exercises one at a time. A YAML file (read
  * by [[YamlConfig.parse]] and decoded strictly, each key once, through
  * the reconciler CLI's [[YamlConfig.Reader]]) names an input documents
  * table, an ordered step list, and an output root; the runner composes
  * ONE lazy DataFrame chain and writes split-partitioned parquet shards —
  * Catalyst sees the whole pipeline as a single plan, so column pruning /
  * filter ordering apply across steps and nothing materialises between
  * them. A worked example, with comments on each key, is the test
  * resource `graft/cli/pipeline-example.yaml`.
  *
  * Steps (any order, any subset):
  *  - `strip_html` — crude tag/script removal for web-crawl input
  *  - `normalize` / `redact` — map-only text canonicalisation / PII masking
  *  - `dedup_exact` — keep the smallest id per exact content (8-byte hash
  *    shuffle key)
  *  - `dedup_seen` — incremental exact dedup against the persisted
  *    seen-hash store at `seen_store.path` (q88 primitive); survivors are
  *    folded into the store after the output commits
  *  - `dedup_neardup` — incremental NEAR-dup dedup against the persisted
  *    MinHash store at `neardup_store.path` (q100 primitive): drop docs
  *    with a verified shingle-Jaccard >= `neardup_min_jaccard` match in
  *    any prior shard; survivors fold in after the output commits. Same
  *    text-mutating ordering guard and replay protocol as `dedup_seen`
  *  - `fingerprint_store` — post-write maintenance of a per-source
  *    (rows, fp) store at `fingerprint_store.path` (mergeDelta — O(delta)
  *    reconcile inventory of everything shipped)
  *  - `dedup_minhash` — MinHash-LSH near-dup candidates above the
  *    threshold; every pair's larger id is dropped (anti-join)
  *  - `dedup_cluster_keeper` — connected components of the VERIFIED
  *    near-dup graph at `minhash_threshold`; keep the best-quality member
  *    per component (ties to min id), drop the rest (q106's shape)
  *  - `dedup_containment` — drop docs ≥90%-contained in another doc
  *    (q128's asymmetric miner: verbatim embedding that Jaccard banding
  *    misses); mutual containment keeps the smaller id
  *  - `dedup_fuzzy` — drop docs whose lowercased `fuzzy_prefix_len`-char
  *    prefix is within edit distance 1 of an earlier doc's (q131's
  *    deletion-neighborhood join; the one-keystroke variants shingle
  *    similarity misses); keeps the smallest id per fuzzy clique
  *  - `quality_filter` — drop docs under `quality_min`
  *  - `gopher_filter` — drop docs failing the Gopher rule battery
  *    (Rae et al. 2021 A1.1, q99's `keep` conjunction)
  *  - `bigram_filter` — statistical-LM coherence: drop docs whose mean
  *    corpus-bigram probability (q90's score) falls under `bigram_min`;
  *    unscorable docs (< 2 tokens) also drop
  *  - `dedup_chunks` — drop docs whose CDC-chunk shared fraction exceeds
  *    `chunk_overlap_max` (boilerplate dominance)
  *  - `dedup_spans` — drop docs whose cross-doc duplicate-SPAN fraction
  *    (stride-1 8-token windows shared with another doc, q92's counters)
  *    exceeds `span_overlap_max`; exact and boundary-free where CDC
  *    chunks are coarse — same dominance caveat as `dedup_chunks`
  *  - `strip_dup_spans` — REMOVE corpus-duplicated 8-token spans from the
  *    text instead of dropping whole docs (Lee et al. 2022 applied; q93).
  *    Text-MUTATING: ordering guard vs `dedup_seen` applies; output text
  *    is whitespace-normalised by construction
  *  - `strip_dup_lines` — CCNet paragraph dedup (Wenzek et al. 2020;
  *    q117): every line keeps its corpus-first occurrence, boilerplate
  *    repeats vanish in place. Text-MUTATING like `strip_dup_spans`
  *  - `c4_clean` — the C4 battery (Raffel et al. 2020 §2.2; q118) as a
  *    step: lines failing the line rules (terminal punctuation, >= 5
  *    words, no javascript boilerplate) are removed IN PLACE, and pages
  *    failing the page rules (>= 3 sentences, lorem ipsum, curly brace)
  *    drop. Text-MUTATING: ordering guard vs the dedup stores applies
  *  - `dsir_filter` — DSIR importance selection (Xie et al. 2023; q119):
  *    keep docs at least as likely under the `dsir.target_path` corpus's
  *    hashed-bigram model as under this shard's own (quantised-log score
  *    >= `dsir.min_u`, default 0). Unscorable docs (< 2 tokens) drop,
  *    the bigram_filter discipline
  *  - `contamination_filter` — drop docs sharing a 3-gram shingle with the
  *    `benchmark.path`/`benchmark.table` held-out set
  *  - `bloom_decontaminate` — contamination_filter's fixed-broadcast form:
  *    the benchmark membership side is a 64 KiB Bloom bitmap
  *    ([[graft.dedup.Bloom]]), so the broadcast never grows with the
  *    suite; Bloom false positives drop a few extra docs — the
  *    conservative failure direction for decontamination
  *  - `mix` — deterministic per-source downsampling at `mix_rates`
  *    (`web:0.25,news:1.0`) for training-mixture reweighting
  *  - `mix_temperature` — α=0.5 temperature sampling: each source keeps
  *    rate √(n_ref/n_s) (smallest source keeps all), no config needed
  *  - `upsample` — epoch replication at `upsample_rates` (`books:2.5`,
  *    any rate >= 0 — the rate-above-1 half mix cannot express): each
  *    doc emits floor(r) copies plus one more on a deterministic
  *    fractional-hash draw, each tagged `copy_idx`. Must be the last
  *    step (or followed only by `split` — copies share their doc's
  *    split by construction): a dedup step after it would collapse the
  *    replicas straight back, and null-id docs drop (no stable key)
  *  - `unimax` — UniMax budget allocation (q123) applied end-to-end:
  *    computes each source's epoch-capped uniform share of
  *    `unimax.budget_tokens` (cap = `unimax.epochs` passes, default 1)
  *    and replicates/downsamples at the resulting epochs_u rate through
  *    the upsample machinery. Same ordering rule as upsample
  *  - `split` — deterministic Knuth-hash train/val/test labels
  *  - `pack` — cumulative-token pack_id per source stream
  *  - `ann_index` — post-write build of a persisted IVF ANN index at
  *    `ann_index.path` over the written relation's `ann.vec_column`;
  *    `ann_index.mode: append` folds the shipped shard in at O(shard)
  *    against the frozen centroids (first shard auto-builds);
  *    `ann_index.mode: rebalance` additionally retrains the centroids on
  *    the index's own vectors and re-assigns, committed through the
  *    generation-pointer meta swap (drift maintenance — old index
  *    readable until the flip)
  *  - `ann_query` — probe a persisted IVF index: the input relation is the
  *    query set, the output is (query_id, neighbor_id, cos, rank); must be
  *    the final step
  *  - `bm25_index` — post-write build of a persisted term-bucket inverted
  *    index at `bm25_index.path` over the written (doc_id, text);
  *    `bm25_index.mode: append` folds the shipped shard into an existing
  *    index at O(shard) instead of rebuilding (first shard auto-builds)
  *  - `pq_index` — post-write build of a persisted PQ (product
  *    quantisation) index at `pq_index.path` over the written relation's
  *    `ann.vec_column`; `pq_index.mode: append` folds the shipped shard's
  *    codes in against the FROZEN codebooks (first shard auto-builds);
  *    `pq_index.mode: rebalance` additionally retrains the codebooks and
  *    re-encodes — the index stores only CODES, so the retrain corpus
  *    (the accumulated indexed vectors) comes from
  *    `pq.rebalance_corpus.path`/`pq.rebalance_corpus.table`, committed
  *    through the generation-pointer meta swap like the IVF form
  *  - `pq_query` — ADC-probe it: input relation is the query set, output
  *    (query_id, neighbor_id, cos, rank); must be the final step
  *  - `bm25_query` — probe it: input is the (query_id, term) relation,
  *    output (query_id, doc_id, rank, score_u, n_hit_terms); must be last
  *  - `data_card` — post-write per-source corpus report (q107's shape:
  *    docs/chars/tokens, language spread, quality mass, Gopher keep-rate)
  *    written to `data_card.path` (default `<output.path>_card`) — the
  *    documentation artifact shipped beside the shards; re-derived only
  *    when its recorded output fingerprint differs from the committed
  *    output's
  *  - `sample` — deterministic hash sample (ClickHouse SAMPLE clause,
  *    q157's operator): keep rows whose `sample.key_column` (default
  *    doc_id) hashes into the `sample.fraction`-wide bucket window at
  *    `sample.offset`; map-only, replay-stable (the same rows survive on
  *    every run), and consistent with any other table sampled by the
  *    same key
  *  - `rollup` — post-write incremental-aggregate maintenance (q156's
  *    AggStore): fold the shipped shard's partial states — count / exact
  *    micro-unit sum / min / max of `rollup.value_column` (default
  *    n_chars) grouped by `rollup.keys` (default source) — into the
  *    store at `rollup_store.path` at O(shard); readers merge states
  *    instead of rescanning shipped shards (AggregatingMergeTree shape).
  *    `rollup.measures: name:sql-expr,…` switches to MULTI-MEASURE
  *    states (q161's form — derived expressions like
  *    `price:n_chars*0.5` are first-class measures), overriding
  *    `rollup.value_column`. Optional sketch/map states ride along in
  *    either form: `rollup.distinct_column` (q160's uniqState HLL),
  *    `rollup.quantile_column` (q164's quantileState GK summary),
  *    `rollup.sum_map: name:key_col:value_col,…` (q167's sumMapState),
  *    `rollup.uniq_upto: col:N` (q169's capped exact-distinct state),
  *    `rollup.top_k: col:K` (q183's mergeable Misra-Gries topKState),
  *    `rollup.moments: m1,m2` (q185's exact second-moment state for
  *    named measures — variance/stddev at read time; requires
  *    `rollup.measures`), `rollup.co_moments: name:x_col:y_col,…`
  *    (q186's pair states — corr/covariance at read time).
  *    `rollup.register_mv: true` additionally (re-)REGISTERS the store
  *    as the materialized view of `rollup.mv_raw_path` after each fold
  *    (q171's RollupRewrite): aggregates over the CORPUS ROOT — the
  *    partition-discoverable directory holding every committed shard
  *    output — are then answered from merged states with no raw scan.
  *    Re-registration per shard is the freshness tie (the registration
  *    fingerprints the root's current file listing; a root that gained
  *    files without a re-register falls back — never answers stale).
  *    Requires `rollup.measures` (the rewrite reads the multi-measure
  *    state naming); persists across sessions when
  *    `spark.graft.mv.catalog` is set
  *  - `compact` — post-write small-file maintenance of every configured
  *    persisted store (seen / neardup / fingerprint / IVF / PQ / BM25 /
  *    rollup):
  *    read-coalesce-
  *    atomic-swap, probe results unchanged, file count bounded again
  *
  * At 100 TB each step keeps the scale shape its catalog query proved
  * (map-only, hash-grouped, or bounded-candidate); the final write is
  * `partitionBy(split)` so downstream training jobs partition-prune their
  * own split.
  */
object GraftPipeline {
  val Name = "graft-pipeline"

  final case class PipelineConfig(
      inputDir: String, table: String = "documents", outputDir: String,
      steps: Seq[String],
      qualityMin: Double = 0.3, minhashThreshold: Double = 0.7,
      packBudget: Int = 512, testPct: Int = 1,
      bigramMin: Double = 0.0,
      chunkOverlapMax: Double = 0.5,
      spanOverlapMax: Double = 0.5,
      benchmarkDir: String = "", benchmarkTable: String = "documents",
      mixRates: Map[String, Double] = Map.empty,
      seenStorePath: String = "",
      nearDupStorePath: String = "",
      nearDupMinJaccard: Double = 0.8,
      fingerprintStorePath: String = "",
      shardIdOverride: String = "",
      annIndexPath: String = "",
      annIdCol: String = "vec_id", annVecCol: String = "embedding",
      annCentroids: Int = 16, annK: Int = 10, annProbe: Int = 4,
      annMode: String = "overwrite",
      pqIndexPath: String = "", pqMode: String = "overwrite",
      pqM: Int = 8, pqKCodes: Int = 32,
      bm25IndexPath: String = "", bm25K: Int = 5,
      bm25Mode: String = "overwrite",
      dataCardPath: String = "",
      dsirTargetDir: String = "", dsirTargetTable: String = "documents",
      dsirMinU: Long = 0L,
      pqRebalanceCorpusDir: String = "",
      pqRebalanceCorpusTable: String = "embeddings",
      upsampleRatesU: Map[String, Long] = Map.empty,
      unimaxBudget: Long = 0L, unimaxEpochs: Long = 1L,
      fuzzyPrefixLen: Int = 30,
      bucketBy: String = "", buckets: Int = 8, outputTable: String = "",
      sampleKeyCol: String = "doc_id",
      sampleFraction: Double = 0.0, sampleOffset: Double = 0.0,
      rollupStorePath: String = "",
      rollupKeys: Seq[String] = Seq("source"),
      rollupValueCol: String = "n_chars",
      rollupMeasures: Seq[(String, String)] = Nil,
      rollupDistinctCol: String = "",
      rollupQuantileCol: String = "",
      rollupSumMap: Seq[(String, String, String)] = Nil,
      rollupUniqUpTo: (String, Int) = null,
      rollupRegisterMv: Boolean = false,
      rollupMvRawPath: String = "",
      rollupTopK: (String, Int) = null,
      rollupMoments: Seq[String] = Nil,
      rollupCoMoments: Seq[(String, String, String)] = Nil) {
    /** Where the `data_card` step writes; sibling of the shard root by
      * default so `spark.read.parquet(output)` never picks the card up. */
    def cardPath: String =
      if (dataCardPath.nonEmpty) dataCardPath else s"${outputDir}_card"
    /** Replay-guard key for the fingerprint store: one fold per shard. */
    def shardId: String = if (shardIdOverride.nonEmpty) shardIdOverride else inputDir
    /** Session-catalog name for the bucketed output table — deterministic
      * per output path, so a replay resolves the same table. */
    def tableName: String =
      if (outputTable.nonEmpty) outputTable
      else "graft_out_" + Integer.toHexString(outputDir.hashCode) + "_" +
        outputDir.replaceAll("[^A-Za-z0-9]+", "_").takeRight(40)
  }

  /** Steps that rewrite the `text` column. The seen store hashes the FINAL
    * written text ([[run]] updates it from the output relation), while the
    * `dedup_seen` filter hashes text as of its position in the chain — so a
    * text-mutating step AFTER dedup_seen would make stored hashes never
    * match any future shard's filter-time hashes, silently disabling
    * incremental dedup. Rejected at config time. */
  private val TextMutatingSteps =
    Set("strip_html", "normalize", "redact", "strip_dup_spans",
      "strip_dup_lines", "c4_clean")

  /** Decode every key of `kv` once into a [[PipelineConfig]], then check
    * the cross-field rules on the typed fields. A malformed value or an
    * unknown key is a Left naming the key. */
  def fromKv(kv: Map[String, String]): Either[String, PipelineConfig] =
    try {
      val c = YamlConfig.decode(kv)(read)
      invalid(c, bucketsGiven = kv.contains("output.buckets")).toLeft(c)
    } catch { case e: YamlConfig.ConfigError => Left(e.getMessage) }

  private def read(r: YamlConfig.Reader): PipelineConfig = {
    val d = PipelineConfig(inputDir = "", outputDir = "", steps = Nil) // the defaults
    def list(key: String, dflt: Seq[String]): Seq[String] =
      r.str(key, dflt.mkString(",")).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // the entry-list values (`name:…,…`): absent is the empty list
    def entries[A](key: String)(p: String => Either[String, A]): A =
      p(r.str(key, "")).fold(e => throw new YamlConfig.ConfigError(e), identity)
    PipelineConfig(
      inputDir = r.str("input.path", d.inputDir),
      table = r.str("input.table", d.table),
      outputDir = r.str("output.path", d.outputDir),
      steps = list("steps", d.steps),
      qualityMin = r.double("quality_min", d.qualityMin),
      minhashThreshold = r.double("minhash_threshold", d.minhashThreshold),
      packBudget = r.int("pack_budget", d.packBudget),
      testPct = r.int("test_pct", d.testPct),
      bigramMin = r.double("bigram_min", d.bigramMin),
      chunkOverlapMax = r.double("chunk_overlap_max", d.chunkOverlapMax),
      spanOverlapMax = r.double("span_overlap_max", d.spanOverlapMax),
      benchmarkDir = r.str("benchmark.path", d.benchmarkDir),
      benchmarkTable = r.str("benchmark.table", d.benchmarkTable),
      mixRates = entries("mix_rates")(parseRates),
      seenStorePath = r.str("seen_store.path", d.seenStorePath),
      nearDupStorePath = r.str("neardup_store.path", d.nearDupStorePath),
      nearDupMinJaccard = r.double("neardup_min_jaccard", d.nearDupMinJaccard),
      fingerprintStorePath = r.str("fingerprint_store.path", d.fingerprintStorePath),
      shardIdOverride = r.str("shard_id", d.shardIdOverride),
      annIndexPath = r.str("ann_index.path", d.annIndexPath),
      annIdCol = r.str("ann.id_column", d.annIdCol),
      annVecCol = r.str("ann.vec_column", d.annVecCol),
      annCentroids = r.int("ann.centroids", d.annCentroids),
      annK = r.int("ann.k", d.annK),
      annProbe = r.int("ann.n_probe", d.annProbe),
      annMode = r.str("ann_index.mode", d.annMode),
      pqIndexPath = r.str("pq_index.path", d.pqIndexPath),
      pqMode = r.str("pq_index.mode", d.pqMode),
      pqM = r.int("pq.m", d.pqM),
      pqKCodes = r.int("pq.k_codes", d.pqKCodes),
      bm25IndexPath = r.str("bm25_index.path", d.bm25IndexPath),
      bm25K = r.int("bm25.k", d.bm25K),
      bm25Mode = r.str("bm25_index.mode", d.bm25Mode),
      dataCardPath = r.str("data_card.path", d.dataCardPath),
      dsirTargetDir = r.str("dsir.target_path", d.dsirTargetDir),
      dsirTargetTable = r.str("dsir.target_table", d.dsirTargetTable),
      dsirMinU = r.long("dsir.min_u", d.dsirMinU),
      pqRebalanceCorpusDir = r.str("pq.rebalance_corpus.path", d.pqRebalanceCorpusDir),
      pqRebalanceCorpusTable = r.str("pq.rebalance_corpus.table", d.pqRebalanceCorpusTable),
      upsampleRatesU = entries("upsample_rates")(parseUpsampleRates),
      unimaxBudget = r.long("unimax.budget_tokens", d.unimaxBudget),
      unimaxEpochs = r.long("unimax.epochs", d.unimaxEpochs),
      fuzzyPrefixLen = r.int("fuzzy_prefix_len", d.fuzzyPrefixLen),
      bucketBy = r.str("output.bucket_by", d.bucketBy),
      buckets = r.int("output.buckets", d.buckets),
      outputTable = r.str("output.table", d.outputTable),
      sampleKeyCol = r.str("sample.key_column", d.sampleKeyCol),
      sampleFraction = r.double("sample.fraction", d.sampleFraction),
      sampleOffset = r.double("sample.offset", d.sampleOffset),
      rollupStorePath = r.str("rollup_store.path", d.rollupStorePath),
      rollupKeys = list("rollup.keys", d.rollupKeys),
      rollupValueCol = r.str("rollup.value_column", d.rollupValueCol),
      rollupMeasures = entries("rollup.measures")(parseMeasures),
      rollupDistinctCol = r.str("rollup.distinct_column", d.rollupDistinctCol),
      rollupQuantileCol = r.str("rollup.quantile_column", d.rollupQuantileCol),
      rollupSumMap = entries("rollup.sum_map")(
        parseTriples(_, "rollup.sum_map", "name:key_column:value_column")),
      rollupUniqUpTo = entries("rollup.uniq_upto")(parseColN(_, "rollup.uniq_upto")).orNull,
      rollupRegisterMv = r.bool("rollup.register_mv", d.rollupRegisterMv),
      rollupMvRawPath = r.str("rollup.mv_raw_path", d.rollupMvRawPath),
      rollupTopK = entries("rollup.top_k")(parseColN(_, "rollup.top_k")).orNull,
      rollupMoments = list("rollup.moments", d.rollupMoments),
      rollupCoMoments = entries("rollup.co_moments")(
        parseTriples(_, "rollup.co_moments", "name:x_column:y_column")))
  }

  /** The first cross-field rule `c` breaks. `bucketsGiven`: the config
    * sets `output.buckets` (its default of 8 would hide that). */
  private def invalid(c: PipelineConfig, bucketsGiven: Boolean): Option[String] = {
    val steps = c.steps
    def has(names: String*) = names.exists(steps.contains)
    def after(step: String) =
      if (has(step)) steps.drop(steps.indexOf(step) + 1) else Nil
    val unknown = steps.filterNot(Steps.contains)
    val mutatorsAfterSeen = after("dedup_seen").filter(TextMutatingSteps)
    val mutatorsAfterNear = after("dedup_neardup").filter(TextMutatingSteps)
    val modes = Seq("overwrite", "append", "rebalance")
    Seq(
      c.inputDir.isEmpty -> "input.path is required",
      c.outputDir.isEmpty -> "output.path is required",
      steps.isEmpty -> "steps is required (comma-separated)",
      unknown.nonEmpty -> (s"unknown steps: ${unknown.mkString(", ")} " +
        s"(known: ${Steps.keys.toSeq.sorted.mkString(", ")})"),
      mutatorsAfterSeen.nonEmpty -> (s"text-mutating steps after dedup_seen " +
        s"(${mutatorsAfterSeen.mkString(", ")}) would store hashes of rewritten " +
        "text that can never match a future shard's filter-time hashes — move " +
        "them before dedup_seen"),
      (has("contamination_filter", "bloom_decontaminate") && c.benchmarkDir.isEmpty) ->
        "contamination_filter / bloom_decontaminate require benchmark.path",
      (has("dsir_filter") && c.dsirTargetDir.isEmpty) -> "dsir_filter requires dsir.target_path",
      mutatorsAfterNear.nonEmpty -> (s"text-mutating steps after dedup_neardup " +
        s"(${mutatorsAfterNear.mkString(", ")}) would store shingles of rewritten " +
        "text that can never match a future shard's filter-time shingles — move " +
        "them before dedup_neardup"),
      (has("dedup_seen") && c.seenStorePath.isEmpty) -> "dedup_seen requires seen_store.path",
      (has("dedup_neardup") && c.nearDupStorePath.isEmpty) ->
        "dedup_neardup requires neardup_store.path",
      (has("fingerprint_store") && c.fingerprintStorePath.isEmpty) ->
        "fingerprint_store requires fingerprint_store.path",
      (has("ann_index", "ann_query") && c.annIndexPath.isEmpty) ->
        "ann_index / ann_query require ann_index.path",
      (has("bm25_index", "bm25_query") && c.bm25IndexPath.isEmpty) ->
        "bm25_index / bm25_query require bm25_index.path",
      (has("pq_index", "pq_query") && c.pqIndexPath.isEmpty) ->
        "pq_index / pq_query require pq_index.path",
      !modes.contains(c.pqMode) ->
        s"pq_index.mode must be overwrite, append or rebalance, got '${c.pqMode}'",
      (c.pqMode == "rebalance" && c.pqRebalanceCorpusDir.isEmpty) ->
        ("pq_index.mode: rebalance requires pq.rebalance_corpus.path " +
          "(the index stores only codes — retraining needs the indexed vectors)"),
      !Seq("overwrite", "append").contains(c.bm25Mode) ->
        s"bm25_index.mode must be overwrite or append, got '${c.bm25Mode}'",
      !modes.contains(c.annMode) ->
        s"ann_index.mode must be overwrite, append or rebalance, got '${c.annMode}'",
      (has("compact") && Seq(c.seenStorePath, c.nearDupStorePath,
        c.fingerprintStorePath, c.annIndexPath, c.bm25IndexPath, c.pqIndexPath,
        c.rollupStorePath).forall(_.isEmpty)) ->
        ("compact requires at least one store path to compact " +
          "(seen_store.path / neardup_store.path / fingerprint_store.path / " +
          "ann_index.path / bm25_index.path / pq_index.path / rollup_store.path)"),
      (has("rollup") && c.rollupStorePath.isEmpty) -> "rollup requires rollup_store.path",
      (has("sample") && !(c.sampleFraction > 0.0 && c.sampleFraction <= 1.0)) ->
        "sample requires sample.fraction in (0, 1]",
      (has("sample") && !(c.sampleOffset >= 0.0 && c.sampleOffset + c.sampleFraction <= 1.0)) ->
        "sample.offset must be >= 0 with offset + fraction <= 1",
      // an index build is POST-write while its probe executes in-plan
      // (pre-write): one run holding both would probe a missing/stale
      // index, and the post-write build would then run on the PROBE's
      // output — which has no text/vector column — and throw after the
      // shard committed. Two runs (build, then probe) is the supported shape.
      (has("bm25_index") && has("bm25_query")) ->
        ("bm25_index (post-write build) and bm25_query (pre-write probe) " +
          "cannot share a run — build in one pipeline run, probe in the next"),
      (has("ann_index") && has("ann_query")) ->
        ("ann_index (post-write build) and ann_query (pre-write probe) " +
          "cannot share a run — build in one pipeline run, probe in the next"),
      (has("pq_index") && has("pq_query")) ->
        ("pq_index (post-write build) and pq_query (pre-write probe) " +
          "cannot share a run — build in one pipeline run, probe in the next"),
      (has("bm25_query") && steps.last != "bm25_query") ->
        ("bm25_query replaces the relation with (query_id, doc_id, rank, " +
          "score_u, n_hit_terms) — it must be the final step"),
      (has("pq_query") && steps.last != "pq_query") ->
        ("pq_query replaces the relation with (query_id, neighbor_id, cos, rank) " +
          "— it must be the final step"),
      (has("ann_query") && steps.last != "ann_query") ->
        ("ann_query replaces the relation with (query_id, neighbor_id, cos, rank) " +
          "and must be the final step"),
      // copies must not feed a dedup/pack/text step: a dedup would collapse
      // them straight back, and pack's per-source running sum is only
      // deterministic over unique ids — only `split` (map-side on doc_id,
      // copies share their doc's label) may follow. unimax replicates ids
      // exactly like upsample.
      after("upsample").exists(_ != "split") ->
        ("only split may follow upsample (replicated ids break dedup " +
          "and pack determinism) — move upsample to the end"),
      after("unimax").exists(_ != "split") ->
        ("only split may follow unimax (replicated ids break dedup " +
          "and pack determinism) — move unimax to the end"),
      (has("unimax") && c.unimaxBudget <= 0) ->
        "unimax requires unimax.budget_tokens (a positive long)",
      (has("unimax") && c.unimaxEpochs < 1) ->
        "unimax.epochs must be a positive integer (whole epochs cap)",
      (c.buckets <= 0) -> "output.buckets must be a positive integer",
      (bucketsGiven && c.bucketBy.isEmpty) ->
        ("output.buckets without output.bucket_by does nothing — set " +
          "output.bucket_by (the join key, e.g. doc_id) or drop output.buckets"),
      (has("mix") && c.mixRates.isEmpty) ->
        "mix requires mix_rates (source:rate, comma-separated)",
      (has("upsample") && c.upsampleRatesU.isEmpty) ->
        "upsample requires upsample_rates (source:rate, comma-separated)"
    ).collectFirst { case (true, err) => err }
      .orElse(if (has("rollup")) rollupInvalid(c) else None)
  }

  /** The rollup rules. Every malformed shape — unparseable SQL, duplicate
    * measure names, keys colliding with the state names the measures will
    * generate — must fail HERE, before the shard output commits, not in
    * the post-write fold where each replay re-fails and wedges the run
    * mid-protocol. (Expressions are parsed with CatalystSqlParser
    * explicitly: Spark 4's functions.expr defers parsing to analysis, so
    * Try(expr(...)) alone accepts any garbage.) */
  private def rollupInvalid(c: PipelineConfig): Option[String] = {
    val ms = c.rollupMeasures
    val dups = ms.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
    val unparseable = ms.filter(m => !measureSqlParses(m._2))
    // reserved names mirror partialStates' construction: only the states
    // THIS config actually generates (a store keyed on a column literally
    // named q_sketch is fine when no rollup.quantile_column is set —
    // over-reserving rejected it)
    val stateNames =
      (if (ms.isEmpty) Seq("sum_micros", "min_v", "max_v", "cnt_v")
       else ms.flatMap(m => Seq(s"${m._1}_sum_u", s"${m._1}_min", s"${m._1}_max",
         s"${m._1}_cnt"))) ++
        c.rollupSumMap.map(sm => s"${sm._1}_summap") ++
        Option(c.rollupUniqUpTo).map(u => s"uniq_upto_${u._2}_sk") ++
        Option(c.rollupTopK).map(t => s"topk_${t._2}_sk") ++
        c.rollupMoments.flatMap(m => Seq(s"${m}_sum2", s"${m}_var",
          s"${m}_var_pop", s"${m}_std", s"${m}_std_pop")) ++
        c.rollupCoMoments.flatMap { case (nm, _, _) =>
          Seq(s"${nm}_pn", s"${nm}_sx", s"${nm}_sy", s"${nm}_sxx",
            s"${nm}_syy", s"${nm}_sxy", s"${nm}_corr", s"${nm}_cov",
            s"${nm}_cov_pop") } ++
        Option.when(c.rollupDistinctCol.nonEmpty)("n_distinct_sk") ++
        Option.when(c.rollupQuantileCol.nonEmpty)("q_sketch") ++
        Seq("n")
    val collide = c.rollupKeys.intersect(stateNames)
    if (c.rollupMoments.exists(m => !ms.exists(_._1 == m)))
      Some("rollup.moments must name rollup.measures entries " +
        s"(have ${ms.map(_._1).mkString(", ")})")
    // the single-measure append path has no co-moment arm — dropping the
    // states silently would be worse than rejecting the config
    else if (ms.isEmpty && c.rollupCoMoments.nonEmpty)
      Some("rollup.co_moments requires rollup.measures (multi-measure form)")
    else if (dups.nonEmpty)
      Some(s"rollup.measures: duplicate measure name(s): ${dups.mkString(", ")}")
    else if (unparseable.nonEmpty)
      Some("rollup.measures: unparseable expression in " +
        unparseable.map(m => s"'${m._1}:${m._2}'").mkString(", "))
    else if (collide.nonEmpty)
      Some(s"rollup.keys collide with rollup state names: ${collide.mkString(", ")}")
    else if (c.rollupKeys.isEmpty)
      Some("rollup.keys must name at least one grouping column")
    else if (c.rollupRegisterMv && (ms.isEmpty || c.rollupMvRawPath.isEmpty))
      Some("rollup.register_mv requires rollup.measures (the rewrite reads " +
        "the multi-measure state naming) and rollup.mv_raw_path (the corpus " +
        "root the MV answers for)")
    else None
  }

  /** `user_id:1000` → Right(Some((user_id, 1000))): a `column:N` entry —
    * `rollup.uniq_upto` (distinct column and cap) or `rollup.top_k`
    * (tracked item column and MG capacity). Strict. */
  private def parseColN(s: String,
      key: String): Either[String, Option[(String, Int)]] = {
    if (s.trim.isEmpty) return Right(None)
    s.split(":").map(_.trim).toSeq match {
      case Seq(c, n) if c.nonEmpty && n.toIntOption.exists(_ >= 1) =>
        Right(Some((c, n.toInt)))
      case _ => Left(s"$key: entry '$s' must be column:N (N >= 1)")
    }
  }

  /** `by_lang:lang:n_chars,…` → Right(Seq((by_lang, lang, n_chars), …)):
    * the `name:a:b` entries of `key` — `rollup.sum_map` (map-state name,
    * map key column, summed value column) or `rollup.co_moments`
    * (pair-state name, x column, y column). Strict: a malformed entry or
    * a repeated name fails the config. */
  private def parseTriples(s: String, key: String,
      shape: String): Either[String, Seq[(String, String, String)]] = {
    val parsed = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(e => (e, e.split(":").map(_.trim).toSeq))
    parsed.collectFirst {
      case (e, parts) if parts.length != 3 || parts.exists(_.isEmpty) =>
        s"$key: entry '$e' must be $shape"
    }.orElse {
      val dups = parsed.map(_._2.head).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
      Option.when(dups.nonEmpty)(s"$key: duplicate name(s): ${dups.mkString(", ")}")
    }.toLeft(parsed.map { case (_, p) => (p(0), p(1), p(2)) })
  }

  private def measureSqlParses(e: String): Boolean =
    scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(e)
    ).isSuccess

  /** `qty:n_tokens,score:n_chars*0.5` → Right(Seq(qty -> "n_tokens", …)):
    * the `rollup.measures` entries, TOP-LEVEL-comma separated (a comma
    * inside parentheses belongs to the measure's SQL expression) and
    * name:sql-expression split on the first colon. Strict like
    * [[parseRates]] — a malformed entry fails the whole config. */
  private[cli] def parseMeasures(s: String): Either[String, Seq[(String, String)]] = {
    if (s.trim.isEmpty) return Right(Nil)
    val entries = scala.collection.mutable.Buffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case ',' if depth == 0 => entries += sb.toString; sb.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        sb += c
    }
    entries += sb.toString
    val parsed = entries.map(_.trim).filter(_.nonEmpty).map { e =>
      e.split(":", 2) match {
        case Array(k, v) if k.trim.nonEmpty && v.trim.nonEmpty =>
          Right(k.trim -> v.trim)
        case _ => Left(s"rollup.measures: expected name:expression, got '$e'")
      }
    }
    parsed.collectFirst { case Left(err) => err }
      .toLeft(parsed.collect { case Right(kv) => kv }.toSeq)
  }

  /** `web:0.25,news:1.0` → Right(Map(web -> 0.25, …)). Strict: a malformed
    * entry or a rate outside [0, 1] fails the whole config — silently
    * dropping `web:0.2five` would leave the dominant source unsampled. */
  private[cli] def parseRates(s: String): Either[String, Map[String, Double]] =
    parseSourceRates(s, "mix_rates") { (k, r) =>
      if (r >= 0.0 && r <= 1.0) Right(r)
      else Left(s"mix_rates: rate out of [0,1] for '$k': $r")
    }

  /** `books:2.5,crawl:0.8` → Right(Map(books -> 2500000, …)) in exact
    * MICRO-UNITS (the [[graft.queries.CurationQueries.epochUpsample]]
    * contract). Unlike [[parseRates]], any rate >= 0 is legal — epoch
    * replication is the whole point — but a rate that would round to a
    * different micro-value than the user wrote (more than 6 decimals)
    * fails loudly rather than silently mis-replicating. */
  private[cli] def parseUpsampleRates(s: String): Either[String, Map[String, Long]] =
    parseSourceRates(s, "upsample_rates") { (k, r) =>
      val u = math.round(r * 1e6)
      if (r < 0.0) Left(s"upsample_rates: negative rate for '$k': $r")
      else if (math.abs(u - r * 1e6) > 1e-3)
        Left(s"upsample_rates: '$k' rate $r has sub-micro precision (max 6 decimals)")
      else Right(u)
    }

  /** The `source:rate` entries of `key`, each rate checked by `rate`;
    * the first malformed entry fails them all. */
  private def parseSourceRates[V](s: String, key: String)(
      rate: (String, Double) => Either[String, V]): Either[String, Map[String, V]] = {
    val parsed = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { e =>
      e.split(":", 2) match {
        case Array(k, v) => v.trim.toDoubleOption
          .toRight(s"$key: unparseable rate in '$e'")
          .flatMap(rate(k.trim, _)).map(k.trim -> _)
        case _ => Left(s"$key: expected source:rate, got '$e'")
      }
    }
    parsed.collectFirst { case Left(err) => err }
      .toLeft(parsed.collect { case Right(kv) => kv }.toMap)
  }

  /** Step registry: name → (config, frame) → frame. */
  val Steps: Map[String, (PipelineConfig, DataFrame) => DataFrame] = Map(
    "strip_html" -> ((_, df) =>
      df.withColumn("text", TextAnalysis.stripHtml(col("text")))),
    "normalize" -> ((_, df) =>
      df.withColumn("text", TextAnalysis.normalize(col("text")))),
    "redact" -> ((_, df) =>
      df.withColumn("text", TextAnalysis.redactPii(col("text")))),
    "dedup_exact" -> ((_, df) =>
      Dedup.dropExact(df, "text", "doc_id")),
    // incremental exact dedup (the q88 primitive): drop docs whose content
    // hash is in the persisted seen-hash store at seen_store.path. The
    // store UPDATE (fold this run's survivors in) happens in run() AFTER
    // the output write commits — crash in between = the shard replays and
    // the already-seen rows fall out again (at-least-once safe).
    "dedup_seen" -> ((c, df) =>
      graft.dedup.SeenStore.filter(df.sparkSession, c.seenStorePath, df, "text")),
    // incremental NEAR-dup dedup (the q100 primitive): drop docs with a
    // verified shingle-Jaccard >= neardup_min_jaccard near-dup among the
    // docs of prior shards. plan() composes the probe itself
    // (NearDupStore.filterNewWithSigs), so the post-write fold in run()
    // reuses its signatures; same at-least-once protocol as dedup_seen.
    // No-op here.
    "dedup_neardup" -> ((_, df) => df),
    // per-source fingerprint-store maintenance: no transform at plan time —
    // run() folds byPartition(output) into fingerprint_store.path after the
    // write, giving downstream reconciles an O(delta) per-source (rows, fp)
    // inventory of everything this pipeline has shipped.
    "fingerprint_store" -> ((_, df) => df),
    // IVF ANN index build: post-write maintenance like fingerprint_store
    // (no transform at plan time) — run() builds the persisted index at
    // ann_index.path over the WRITTEN relation's ann.vec_column, so the
    // index always describes exactly what the pipeline shipped.
    "ann_index" -> ((_, df) => df),
    // persisted inverted index over the WRITTEN relation's (doc_id, text)
    // — post-write build like ann_index/fingerprint_store; no-op here.
    // bm25_index.mode: overwrite (default, full rebuild) or append (fold
    // the shipped shard in at O(shard) — replay-guarded by shard_id,
    // probe-identical to a rebuild; see Retrieval.appendBm25Index)
    "bm25_index" -> ((_, df) => df),
    // small-file maintenance for every CONFIGURED persisted store (seen,
    // fingerprint, IVF, BM25 postings): read-coalesce-atomic-swap after
    // the run's own store updates, so repeated appends don't accumulate
    // files indefinitely. No plan-time transform.
    "compact" -> ((_, df) => df),
    // deterministic hash sample (q157's operator, production xxhash64
    // family): a pure key-hash interval predicate — map-only, stable
    // under replay (a re-run of the shard keeps exactly the same rows,
    // so the shard-replay protocol's "re-run recomputes the identical
    // output" invariant holds through this step too)
    "sample" -> ((c, df) =>
      graft.operators.Sample(df, c.sampleKeyCol, c.sampleFraction, c.sampleOffset)),
    // incremental rollup maintenance (q156's AggStore): post-write like
    // fingerprint_store — no plan-time transform; run() folds the
    // written shard's partial aggregate states into rollup_store.path
    "rollup" -> ((_, df) => df),
    // BM25 probe: the input relation IS the (query_id, term) set; the step
    // replaces it with the top-k result — config requires it to be last
    "bm25_query" -> ((c, df) =>
      graft.text.Retrieval.queryBm25Index(df.sparkSession, c.bm25IndexPath,
        df, c.bm25K)),
    // IVF ANN probe: the input relation IS the query set (ann.id_column +
    // ann.vec_column); the step replaces it with the top-k result
    // (query_id, neighbor_id, cos, rank) — config requires it to be last.
    "ann_query" -> ((c, df) =>
      graft.sim.Similarity.queryIvfIndex(df.sparkSession, c.annIndexPath,
        df, c.annIdCol, c.annVecCol, c.annK, c.annProbe)),
    // persisted PQ index over the WRITTEN relation's vectors — post-write
    // build like ann_index (no-op at plan time); pq_query ADC-probes it
    "pq_index" -> ((_, df) => df),
    "pq_query" -> ((c, df) =>
      graft.sim.Similarity.queryPqIndex(df.sparkSession, c.pqIndexPath,
        df, c.annIdCol, c.annVecCol, c.annK)),
    "dedup_minhash" -> ((c, df) => {
      val losers = Dedup.minhashPairs(df, "text", "doc_id", threshold = c.minhashThreshold)
        .select(col("id_b").as("doc_id")).distinct()
      df.join(losers, Seq("doc_id"), "left_anti")
    }),
    // containment dedup (q128's miner as a step): when a doc's shingle
    // set is ≥90% contained in another's, the CONTAINED doc is redundant
    // (its content ships inside the container) and drops; mutual
    // containment (near-exact pair) keeps the smaller id. Catches the
    // verbatim-embedding duplication Jaccard-banded dedup_minhash
    // structurally misses — run BOTH: they prune different graphs.
    // typo-level fuzzy dedup (q131's blocked edit-distance join as a
    // step): docs whose lowercased fuzzy_prefix_len-char prefix is within
    // levenshtein distance 1 of an earlier doc's drop — id_b > id_a in
    // every emitted pair, so "keep the smallest id of each fuzzy clique"
    // is one anti-join. Catches the one-keystroke title/boilerplate
    // variants whose SHINGLE similarity collapses (FuzzyJoin scaladoc) —
    // a different graph from dedup_minhash and dedup_containment.
    "dedup_fuzzy" -> ((c, df) => {
      val losers = graft.dedup.FuzzyJoin
        .fuzzyPrefixPairs(df, c.fuzzyPrefixLen)
        .select(col("id_b").as("doc_id")).distinct()
      df.join(losers, Seq("doc_id"), "left_anti")
    }),
    "dedup_containment" -> ((_, df) => {
      val pairs = Dedup.containmentPairs(df, "text", "doc_id")
      val losers = pairs.select(
          // a contained (cont ≥ bar) side loses; if both are contained
          // (mutual ≈ exact dup) the LARGER id loses, the dedup_exact tie
          when(col("cont_a_u") >= 900000L && col("cont_b_u") >= 900000L,
            greatest(col("id_a"), col("id_b")))
            .when(col("cont_a_u") >= 900000L, col("id_a"))
            .otherwise(col("id_b")).as("doc_id"))
        .distinct()
      df.join(losers, Seq("doc_id"), "left_anti")
    }),
    // quality-keeper near-dedup (the q106 shape as a step): connected
    // components of the verified near-dup graph at minhash_threshold,
    // keep the BEST-QUALITY member of each component (ties to min id),
    // drop the rest — dedup_minhash's "larger id loses" replaced by the
    // choice production pipelines actually make. Docs in no component
    // pass through untouched.
    "dedup_cluster_keeper" -> ((c, df) => {
      val edges = Dedup.verifiedNearDupPairs(df, "text", "doc_id",
          minJaccard = c.minhashThreshold)
        .select("id_a", "id_b")
      val scored = Dedup.duplicateClusters(edges)
        .join(df.select(col("doc_id").as("id"),
          TextAnalysis.qualityScore(col("text")).as("__q")), "id")
      val keepers = scored.groupBy("cluster_id")
        .agg(max(struct(col("__q"), (-col("id")).as("nid"))).as("best"))
        .select((-col("best.nid")).as("keeper_id"))
      val losers = scored.select(col("id").as("doc_id"))
        .join(keepers, col("doc_id") === col("keeper_id"), "left_anti")
      df.join(losers.select("doc_id"), Seq("doc_id"), "left_anti")
    }),
    "quality_filter" -> ((c, df) =>
      df.filter(TextAnalysis.qualityScore(col("text")) >= c.qualityMin)),
    "gopher_filter" -> ((_, df) =>
      df.filter(TextAnalysis.gopherRules(col("text")).getField("keep"))),
    // C4 battery applied (q118): line rules rewrite text in place, page
    // rules drop the doc. One struct evaluation per row (computed once
    // into a column, not once per consumer).
    "c4_clean" -> ((_, df) =>
      df.withColumn("__c4", TextAnalysis.c4Rules(col("text")))
        .filter(col("__c4.keep"))
        .withColumn("text", col("__c4.clean_text"))
        .drop("__c4")),
    // DSIR importance selection (q119): keep docs scoring >= dsir.min_u
    // against the target corpus's hashed-bigram model. Both models are
    // 256-row broadcasts; the semi-join moves only doc ids. Unscorable
    // docs (< 2 tokens, no bigrams) drop — the bigram_filter discipline
    // (run a length filter first if they should survive).
    "dsir_filter" -> ((c, df) => {
      val target = graft.core.Tables.load(df.sparkSession,
        c.dsirTargetDir, c.dsirTargetTable)
      val keep = graft.text.Dsir.dsirWeights(df, target, "text", "doc_id")
        .filter(col("dsir_u") >= c.dsirMinU)
        .select("doc_id")
      df.join(keep, Seq("doc_id"), "left_semi")
    }),
    // post-write corpus report (q107 shape) — no transform at plan time
    "data_card" -> ((_, df) => df),
    // statistical-LM coherence filter (q90's score as a step): keep docs
    // whose mean corpus-bigram probability reaches bigram_min — the
    // integer-sum comparison sum_cab >= min*sum_ca avoids the quantised
    // ratio. Unscorable docs (< 2 tokens, no bigrams) DROP: a sequence
    // filter has nothing to vouch for them (run an explicit length filter
    // first if empty/one-token docs should survive).
    "bigram_filter" -> ((c, df) => {
      val keep = TextAnalysis.bigramStats(df, "text", "doc_id")
        .filter(col("sum_cab") >= lit(c.bigramMin) * col("sum_ca"))
        .select("doc_id")
      df.join(keep, Seq("doc_id"), "left_semi")
    }),
    // boilerplate-dominance filter (q80's score as a step): drop every doc
    // whose CDC-chunk shared fraction exceeds chunk_overlap_max. NOTE this
    // is a dominance filter (both members of a full-copy pair score ~1 and
    // both drop) — use dedup_exact/dedup_minhash first for pair dedup.
    "dedup_chunks" -> ((c, df) => {
      val dominated = Dedup.chunkSharedCounts(df, "doc_id", "text")
        .filter(col("n_shared") > lit(c.chunkOverlapMax) * col("n_chunks"))
        .select("doc_id")
      df.join(dominated, Seq("doc_id"), "left_anti")
    }),
    // duplicate-span REMOVAL (q93's transform as a step): replace text
    // with its span-stripped form; docs whose text empties out entirely
    // survive (a later quality/length filter is the right dropper — the
    // paper's own recipe). Precondition: doc_id unique where non-null
    // (a duplicated id would fan out through the join — run dedup_exact
    // first). NULL-id rows keep their ORIGINAL text: removeDuplicateSpans
    // excludes them by contract, so the join misses and the coalesce
    // passes them through unchanged — matching the filter-shaped steps
    // (dedup_spans/dedup_chunks), which also leave such rows alone.
    "strip_dup_spans" -> ((c, df) => {
      val cleaned = Dedup.removeDuplicateSpans(df, "doc_id", "text")
        .select(col("doc_id"), col("clean_text"))
      df.join(cleaned, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("doc_id").isNotNull, col("clean_text")).otherwise(col("text")))
        .drop("clean_text")
    }),

    // CCNet paragraph dedup (q117's transform as a step): every line
    // keeps its corpus-first occurrence; later boilerplate copies vanish
    // in place. Text-MUTATING (the dedup_seen/neardup ordering guard
    // applies); same NULL-id passthrough contract as strip_dup_spans.
    "strip_dup_lines" -> ((c, df) => {
      val cleaned = Dedup.removeDuplicateLines(df, "doc_id", "text")
        .select(col("doc_id"), col("clean_text"))
      df.join(cleaned, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("doc_id").isNotNull, col("clean_text")).otherwise(col("text")))
        .drop("clean_text")
    }),

    // duplicate-SPAN dominance filter (q92's counters as a step): drop
    // every doc whose cross-doc shared-window fraction exceeds
    // span_overlap_max. Same dominance caveat as dedup_chunks (both
    // members of a full-copy pair drop) — pair dedup first if needed.
    "dedup_spans" -> ((c, df) => {
      val dominated = Dedup.duplicateSpanStats(df, "doc_id", "text")
        .filter(col("n_xdoc_windows") > lit(c.spanOverlapMax) * col("n_windows"))
        .select("doc_id")
      df.join(dominated, Seq("doc_id"), "left_anti")
    }),

    // drop docs sharing any 3-gram shingle with the held-out benchmark set
    // (q60's check as a filter; the benchmark side is tiny -> broadcast)
    "contamination_filter" -> ((c, df) => {
      val bench = graft.core.Tables.load(df.sparkSession, c.benchmarkDir, c.benchmarkTable)
        .select(explode(array_distinct(Dedup.wordShingles(col("text"), 3))).as("s"))
        .distinct()
      val hit = df.select(col("doc_id"),
          explode(array_distinct(Dedup.wordShingles(col("text"), 3))).as("s"))
        .join(broadcast(bench), "s")
        .select("doc_id").distinct()
      df.join(hit, Seq("doc_id"), "left_anti")
    }),

    // contamination_filter at fixed broadcast cost: the benchmark side
    // collapses to a 64 KiB Bloom bitmap (no distinct needed — bit_or is
    // idempotent, so the bitmap build is one aggregate over raw shingle
    // hashes), and the probe side needs no per-doc distinct either (any
    // hit flags the doc). False positives (~(1-e^(-2n/m))^2) drop a few
    // extra docs — conservative for decontamination; q124 gates the
    // bit-level math against DuckDB.
    "bloom_decontaminate" -> ((c, df) => {
      val bench = graft.core.Tables.load(df.sparkSession, c.benchmarkDir, c.benchmarkTable)
        .select(explode(Dedup.wordShingles(col("text"), 3)).as("s"))
        .select(Dedup.portableHash(col("s")).as("h"))
      val hit = graft.dedup.Bloom.probe(
          df.select(col("doc_id"),
              explode(Dedup.wordShingles(col("text"), 3)).as("s"))
            .select(col("doc_id"), Dedup.portableHash(col("s")).as("h")),
          "h", graft.dedup.Bloom.bitmap(bench, "h"))
        .filter(col("bloom_hit")).select("doc_id").distinct()
      df.join(hit, Seq("doc_id"), "left_anti")
    }),
    // deterministic source mixing: keep each source at its configured rate
    // (training-mixture reweighting). Sources not named keep rate 1.0.
    // The acceptance hash is SALTED ("mix") so it is independent of the
    // split/sample Knuth hash — reusing split's hash would make every
    // mix-survivor land in the low buckets that `split` labels test/val
    // (a 2% mix rate would leave the source with ZERO train docs).
    // Deterministic under reruns and appends. Map-only.
    "mix" -> ((c, df) => {
      val rate = c.mixRates.foldLeft(lit(1.0)) {
        case (acc, (src, r)) => when(col("source") === src, lit(r)).otherwise(acc)
      }
      df.filter(pmod(xxhash64(col("doc_id"), lit("mix")), lit(1000)) < rate * 1000)
    }),
    // epoch replication (q121's operator as a step): floor(r) copies per
    // doc + a deterministic fractional-hash extra, each tagged copy_idx.
    // Null-id docs drop (no stable replication key); config-time ordering
    // guard keeps dedup/pack from ever seeing replicated ids.
    "upsample" -> ((c, df) =>
      graft.queries.CurationQueries.epochUpsample(
          df.filter(col("doc_id").isNotNull), c.upsampleRatesU)
        .drop("n_copies")),
    // UniMax (q123's planner as a step): compute the epoch-capped uniform
    // allocation over `unimax.budget_tokens`, then apply each source's
    // epochs_u rate through the same exact-arithmetic replicator upsample
    // uses (rates under 1e6 downsample, over 1e6 replicate — unimax
    // subsumes both halves from one budget number). The per-source rate
    // table is a |sources|-bounded driver action at plan-composition time
    // (the mix_temperature precedent); a NULL source's rate rides the
    // default slot (an equality fold cannot match NULL).
    "unimax" -> ((c, df) => {
      import graft.queries.CurationQueries
      val ids = df.filter(col("doc_id").isNotNull)
      val alloc = CurationQueries.unimaxAlloc(
          ids.groupBy("source").agg(coalesce(sum(when(col("text").isNotNull,
            graft.text.TextAnalysis.tokenCount(col("text")).cast("long"))), lit(0L))
            .as("n_tokens")),
          c.unimaxBudget, c.unimaxEpochs)
        .select(col("source"), col("epochs_u")).collect() // |sources| rows
      val rates = alloc.filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nullRate = alloc.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(1000000L)
      CurationQueries.epochUpsample(ids, rates, defaultRateU = nullRate)
        .drop("n_copies")
    }),
    // temperature-based source mixing (q115's recipe as a step, XLM-R
    // α = 0.5): each source keeps rate √(n_ref/n_s) with n_ref the
    // smallest source — the tempered-mass profile multilingual corpora
    // sample with. α pinned at 0.5 (sqrt is IEEE-exact; a general pow is
    // not engine-portable). The per-source size aggregate is a bounded
    // driver action at plan-composition time (|sources| rows — the
    // dedup_seen store read precedent); the keep decision is map-side
    // Knuth-hash arithmetic salted independently of split/mix.
    "mix_temperature" -> ((_, df) => {
      val sizes = df.groupBy("source").agg(count(lit(1)).as("__n"))
      val nRef = sizes.agg(min("__n")).head().getLong(0)
      val rated = sizes.withColumn("__rate_u",
          floor(lit(1e6) * sqrt(lit(nRef.toDouble) / col("__n").cast("double")))
            .cast("long"))
        .select(col("source").as("__m_source"), col("__rate_u"))
      df.join(broadcast(rated), col("source") <=> col("__m_source"))
        .filter(pmod(pmod(col("doc_id"), lit(999983L)) * lit(2654435761L)
            + lit(7L), lit(1000000L))
          < col("__rate_u"))
        .drop("__m_source", "__rate_u")
    }),
    "split" -> ((c, df) =>
      df.withColumn("split", {
        val b = CurationQueries.knuthBucket(col("doc_id"), 1000)
        when(b < c.testPct * 10, "test")
          .when(b < c.testPct * 20, "val")
          .otherwise("train")
      })),
    // two-level (source, shard) offsets — one giant source cannot become
    // a single-task sort (CurationQueries.packIds, q58's shape)
    "pack" -> ((c, df) =>
      CurationQueries.packIds(
        df.withColumn("__n_tokens", TextAnalysis.tokenCount(col("text")).cast("long")),
        "source", "doc_id", "__n_tokens", c.packBudget)
        .drop("__n_tokens")))

  /** Compose the configured steps over the input table (lazy — one plan),
    * plus the batch signatures the `dedup_neardup` probe materialised
    * ([[graft.dedup.NearDupStore.filterNewWithSigs]]) for the post-write
    * fold to reuse; None without the step or against an empty store. */
  def plan(spark: SparkSession,
      cfg: PipelineConfig): (DataFrame, Option[DataFrame]) = {
    val in = graft.core.Tables.load(spark, cfg.inputDir, cfg.table)
    cfg.steps.foldLeft((in, Option.empty[DataFrame])) {
      case ((df, _), "dedup_neardup") =>
        graft.dedup.NearDupStore.filterNewWithSigs(spark,
          cfg.nearDupStorePath, df, "text", "doc_id", cfg.nearDupMinJaccard)
      case ((df, sigs), s) => (Steps(s)(cfg, df), sigs)
    }
  }

  /** Run the pipeline and write split-partitioned shards. Returns
    * (rows in, rows out).
    *
    * Shard-replay protocol (every store step is guarded by `cfg.shardId`,
    * default the input path):
    *  1. A shard already recorded in the SEEN store short-circuits the
    *     WHOLE run — its hashes are all "seen", so re-filtering would emit
    *     an empty relation and clobber the shard's committed output.
    *  2. Otherwise: write output, THEN fold fingerprints (in-store
    *     shard-id guard makes it idempotent), THEN update the seen store
    *     (which also records the shard id). A crash before the seen
    *     update replays with the seen store unchanged, so the re-run
    *     recomputes the identical output and the fingerprint fold skips;
    *     a crash after it short-circuits at step 1. Either way the stores
    *     never record rows the output does not hold, and no committed
    *     output is ever destroyed.
    *  3. The short-circuit still runs every post-write step against the
    *     committed output ([[postWrite]]): each store fold is a no-op
    *     where its shard id is recorded, and the data card is re-derived
    *     only when its recorded output fingerprint differs from the
    *     committed output's ([[writeDataCard]]) — so a replay of a
    *     completed shard reads no document text, and a crash between any
    *     two post-write steps heals. */
  def run(spark: SparkSession, cfg: PipelineConfig): (Long, Long) = {
    val in = graft.core.Tables.load(spark, cfg.inputDir, cfg.table).count()
    // a shard recorded in ANY incremental store must not re-filter: its
    // own hashes/shingles are now "seen", so the re-run would emit an
    // empty relation and clobber the committed output. With BOTH stores
    // configured, a crash between their two post-write updates leaves the
    // shard recorded in one only — the short-circuit path heals the other
    // from the committed output (update() is a no-op where recorded).
    val seenRecorded = cfg.steps.contains("dedup_seen") &&
      graft.dedup.SeenStore.processedShards(spark, cfg.seenStorePath)
        .contains(cfg.shardId)
    val nearRecorded = cfg.steps.contains("dedup_neardup") &&
      graft.dedup.NearDupStore.processedShards(spark, cfg.nearDupStorePath)
        .contains(cfg.shardId)
    if (seenRecorded || nearRecorded) {
      // the short-circuit reports the COMMITTED output's row count; if the
      // output was relocated/cleaned (or the caller pointed a replay at a
      // fresh outputDir), reading it would throw a bare AnalysisException —
      // fail with a diagnosable message instead
      if (!graft.core.Fs.exists(spark, cfg.outputDir))
        throw new IllegalStateException(
          s"[$Name] shard ${cfg.shardId} is recorded in an incremental " +
            s"dedup store, but its output ${cfg.outputDir} is missing. " +
            "Restore the output, point output.path at the committed shard, or " +
            "pass a new shard_id to reprocess as a fresh shard.")
      System.err.println(s"[$Name] shard ${cfg.shardId} already processed — skipping")
      val committed = readCommitted(spark, cfg)
      // the short-circuit must still run EVERY idempotent post-write
      // maintenance step against the committed output (round-6 advice #1):
      // a crash after the dedup-store update but before the later folds
      // would otherwise leave the shard permanently missing from the
      // indexes/fingerprints/card — the appends' own shard-id guards make
      // healed-already cases a no-op, so replaying them here is free.
      postWrite(spark, cfg, committed, probeSigs = None)
      return (in, committed.count())
    }
    val (out, probeSigs) = plan(spark, cfg)
    if (cfg.bucketBy.isEmpty) {
      val writer = out.write.mode("overwrite")
      (if (cfg.steps.contains("split")) writer.partitionBy("split") else writer)
        .parquet(cfg.outputDir)
    } else {
      // BUCKETED shard layout (round-8 verdict task #2): the output lands
      // as a session-catalog table CLUSTERED BY the join key, so every
      // downstream join-back on that key — snapshot diffs, store-probe
      // joins, q16-class fact⋈fact aggregates — reads the corpus
      // PRE-PLACED and plans with zero Exchange on this side (q147
      // demonstrates the join; GraftPipelineSpec asserts it on a real
      // pipeline output). At 100 TB this removes the single largest
      // recurring shuffle in the x10/x30 trend's non-codec rows: the
      // corpus re-partition that every post-ingest join used to pay.
      // The explicit repartition pins one file per (split ×) bucket —
      // without it every writer task emits its own file per bucket
      // (tasks × buckets slivers, the BM25 postings lesson).
      val writer = out.repartition(cfg.buckets, col(cfg.bucketBy))
        .write.mode("overwrite")
        .format("parquet").option("path", cfg.outputDir)
        .bucketBy(cfg.buckets, cfg.bucketBy).sortBy(cfg.bucketBy)
      (if (cfg.steps.contains("split")) writer.partitionBy("split") else writer)
        .saveAsTable(cfg.tableName)
    }
    val written = readCommitted(spark, cfg)
    postWrite(spark, cfg, written, probeSigs)
    (in, written.count())
  }

  /** The committed output relation. Bucketed outputs read through the
    * session catalog so consumers inherit the bucketing metadata (a plain
    * `spark.read.parquet` of the same files would silently drop it and
    * re-shuffle on the next join); a fresh session replaying a bucketed
    * shard whose table registration is gone falls back to the files —
    * correct rows, bucketing ignored (re-register or re-run to restore). */
  private def readCommitted(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    if (cfg.bucketBy.nonEmpty && spark.catalog.tableExists(cfg.tableName))
      spark.table(cfg.tableName)
    else spark.read.parquet(cfg.outputDir)

  /** Every post-write maintenance step, each idempotent per shard id (or
    * a pure function of the committed output), so [[run]] can execute the
    * same sequence on the first pass AND on a replay short-circuit — a
    * crash between any two of these heals on the next run. `probeSigs`:
    * the near-dup probe's materialised batch signatures when this run
    * probed ([[plan]]), so the near-dup fold semi-joins them instead of
    * recomputing signatures from the written text; None (the
    * short-circuit, or an empty store) folds from the text. */
  private def postWrite(spark: SparkSession, cfg: PipelineConfig,
      written: DataFrame, probeSigs: Option[DataFrame]): Unit = {
    if (cfg.steps.contains("fingerprint_store")) {
      graft.fp.FingerprintStore.fold(spark, cfg.fingerprintStorePath,
        cfg.shardId, written, Seq("source" -> col("source")),
        Seq(col("doc_id"), col("text"), col("source")))
    }
    if (cfg.steps.contains("rollup")) {
      // partial states of the COMMITTED output (pure function of it, like
      // the card) — shard-id-guarded in-store, so the replay
      // short-circuit heals a crash between the write and this fold
      val dc = if (cfg.rollupDistinctCol.nonEmpty) cfg.rollupDistinctCol else null
      val qc = if (cfg.rollupQuantileCol.nonEmpty) cfg.rollupQuantileCol else null
      val sm = cfg.rollupSumMap.map { case (nm, k, v) => (nm, col(k), col(v)) }
      val cm = cfg.rollupCoMoments.map { case (nm, x, y) => (nm, col(x), col(y)) }
      if (cfg.rollupMeasures.nonEmpty)
        graft.agg.AggStore.appendMeasures(spark, cfg.rollupStorePath, written,
          cfg.rollupKeys,
          cfg.rollupMeasures.map { case (nm, e) => nm -> expr(e) },
          cfg.shardId, distinctCol = dc, quantileCol = qc, sumMap = sm,
          uniqUpTo = cfg.rollupUniqUpTo, topK = cfg.rollupTopK,
          moments = cfg.rollupMoments, coMoments = cm)
      else
        graft.agg.AggStore.append(spark, cfg.rollupStorePath, written,
          cfg.rollupKeys, cfg.rollupValueCol, cfg.shardId,
          distinctCol = dc, quantileCol = qc, sumMap = sm,
          uniqUpTo = cfg.rollupUniqUpTo, topK = cfg.rollupTopK)
      if (cfg.rollupRegisterMv) {
        // (re-)register the store as the MV of the corpus root AFTER the
        // fold: the registration fingerprints the root's file listing as
        // of NOW (this shard's output included), so queries over the
        // root rewrite to merged states; a root that later gains files
        // without a re-register FALLS BACK (freshness guard) — the
        // insert-maintained-MV tie, one re-register per ingested shard.
        // Replay-safe: re-registration is a pure replace.
        graft.plans.MaterializedRollups.register(
          spark.read.parquet(cfg.rollupMvRawPath), cfg.rollupStorePath,
          keys = cfg.rollupKeys.map(k => k -> col(k)),
          measures = cfg.rollupMeasures.map { case (nm, e) => nm -> expr(e) },
          distinct = if (dc != null) Some(col(dc)) else None,
          quantile = if (qc != null) Some(col(qc)) else None,
          moments = cfg.rollupMoments, coMoments = cm)
      }
    }
    if (cfg.steps.contains("dedup_seen"))
      graft.dedup.SeenStore.update(spark, cfg.seenStorePath, written, "text", cfg.shardId)
    if (cfg.steps.contains("dedup_neardup")) probeSigs match {
      case Some(sigs) =>
        graft.dedup.NearDupStore.updateFromSigs(spark, cfg.nearDupStorePath,
          graft.dedup.NearDupStore.acceptedSigs(sigs, written, "text", "doc_id"),
          cfg.shardId)
      case None =>
        graft.dedup.NearDupStore.update(spark, cfg.nearDupStorePath,
          written, "text", "doc_id", cfg.shardId)
    }
    if (cfg.steps.contains("ann_index")) {
      val hasIndex = graft.sim.Similarity.indexExists(spark, cfg.annIndexPath)
      if (cfg.annMode != "overwrite" && hasIndex) {
        graft.sim.Similarity.appendIvfIndex(written, cfg.annIdCol,
          cfg.annVecCol, cfg.annIndexPath, cfg.shardId)
        // rebalance: fold the shard in (replay-guarded), then retrain on
        // the index's own vectors and flip generations — the drift
        // maintenance a frozen-centroid deployment schedules periodically
        if (cfg.annMode == "rebalance")
          graft.sim.Similarity.rebalanceIvfIndex(spark, cfg.annIndexPath,
            cfg.annCentroids)
      } else // overwrite, or the very first shard (nothing to fold into)
        graft.sim.Similarity.buildIvfIndex(written, cfg.annIdCol, cfg.annVecCol,
          cfg.annIndexPath, cfg.annCentroids, shardId = cfg.shardId)
    }
    if (cfg.steps.contains("pq_index")) {
      val hasPq = graft.sim.Similarity.indexExists(spark, cfg.pqIndexPath)
      if (cfg.pqMode != "overwrite" && hasPq) {
        graft.sim.Similarity.appendPqIndex(written, cfg.annIdCol,
          cfg.annVecCol, cfg.pqIndexPath, cfg.shardId)
        // rebalance: fold the shard in (replay-guarded), then retrain the
        // codebooks on the ACCUMULATED corpus (the index stores only
        // codes, so the vectors come from pq.rebalance_corpus.path) and
        // flip generations — the drift maintenance of the IVF form
        if (cfg.pqMode == "rebalance")
          graft.sim.Similarity.rebalancePqIndex(
            graft.core.Tables.load(spark, cfg.pqRebalanceCorpusDir,
              cfg.pqRebalanceCorpusTable),
            cfg.annIdCol, cfg.annVecCol, cfg.pqIndexPath,
            cfg.pqM, cfg.pqKCodes)
      } else // overwrite, or the very first shard (nothing to fold into)
        graft.sim.Similarity.buildPqIndex(written, cfg.annIdCol,
          cfg.annVecCol, cfg.pqIndexPath, cfg.pqM, cfg.pqKCodes,
          lloydIters = 1, shardId = cfg.shardId)
    }
    if (cfg.steps.contains("bm25_index")) {
      if (cfg.bm25Mode == "append" &&
          graft.core.Fs.exists(spark, s"${cfg.bm25IndexPath}/meta"))
        graft.text.Retrieval.appendBm25Index(written, "text", "doc_id",
          cfg.bm25IndexPath, cfg.shardId)
      else // overwrite, or append's very first shard (nothing to fold into)
        graft.text.Retrieval.buildBm25Index(written, "text", "doc_id",
          cfg.bm25IndexPath, shardId = cfg.shardId)
    }
    if (cfg.steps.contains("data_card"))
      writeDataCard(spark, cfg.cardPath, written)
    if (cfg.steps.contains("compact")) {
      if (cfg.seenStorePath.nonEmpty)
        graft.dedup.SeenStore.compact(spark, cfg.seenStorePath)
      if (cfg.nearDupStorePath.nonEmpty)
        graft.dedup.NearDupStore.compact(spark, cfg.nearDupStorePath)
      if (cfg.fingerprintStorePath.nonEmpty)
        graft.core.AtomicStore.compact(spark, cfg.fingerprintStorePath)
      if (cfg.annIndexPath.nonEmpty && graft.core.Fs.exists(spark, cfg.annIndexPath))
        graft.sim.Similarity.compactIvfIndex(spark, cfg.annIndexPath)
      if (cfg.pqIndexPath.nonEmpty &&
          graft.sim.Similarity.indexExists(spark, cfg.pqIndexPath))
        graft.sim.Similarity.compactPqIndex(spark, cfg.pqIndexPath)
      if (cfg.bm25IndexPath.nonEmpty &&
          graft.core.Fs.exists(spark, s"${cfg.bm25IndexPath}/meta"))
        graft.text.Retrieval.compactBm25Index(spark, cfg.bm25IndexPath)
      if (cfg.rollupStorePath.nonEmpty)
        graft.agg.AggStore.compact(spark, cfg.rollupStorePath)
    }
  }

  /** The per-source corpus report of a committed output (q107's shape). */
  private[cli] def dataCard(written: DataFrame): DataFrame =
    written
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

  /** Bump when [[dataCard]]'s definition changes: a card recorded under
    * another tag is rebuilt once. */
  private val CardFormat = "data_card/1"

  /** The card's hidden record (Spark reads skip `_` files): the
    * [[CardFormat]] tag and the listing fingerprint of the committed
    * output the card was derived from. */
  private[cli] val CardRecord = "_graft_card.json"

  /** Write the data card of `written` to `path` unless the card there was
    * derived from this very output. The card is a pure function of the
    * committed output, so a card whose record carries the current
    * [[CardFormat]] and the output's listing fingerprint
    * ([[graft.core.FileListing]], taken from `written`'s own file index,
    * so no extra listing runs) is kept as it is, and a replay reads no
    * document text. A missing or unparseable record, another tag or
    * another fingerprint rebuilds the card. Card and record are written
    * together into the tmp tree of one [[graft.core.AtomicStore.replaceVia]]
    * swap (round-6 advice #5: a crash mid-write never leaves a torn card,
    * or a record that describes another card). */
  private def writeDataCard(spark: SparkSession, path: String,
      written: DataFrame): Unit = {
    val output = graft.core.FileListing.signature(written)
    graft.core.AtomicStore.heal(spark, path)
    val recorded = scala.util.Try(graft.core.AtomicStore.readMetaJson(spark,
      s"$path/$CardRecord") { doc =>
        (doc.required("format").asText(), doc.required("output").asText())
      }).toOption.flatten
    if (!output.exists(o => recorded.contains((CardFormat, o))))
      graft.core.AtomicStore.replaceVia(spark, path) { tmp =>
        dataCard(written)
          .coalesce(1) // per-source rows: tiny by construction
          .write.mode("overwrite").parquet(tmp)
        output.foreach(o =>
          graft.core.AtomicStore.writeMetaJson(spark, s"$tmp/$CardRecord") { r =>
            r.put("format", CardFormat)
            r.put("output", o)
          })
      }
  }

  def main(args: Array[String]): Unit = {
    val cfgIdx = args.indexOf("--config")
    if (cfgIdx < 0 || cfgIdx + 1 >= args.length) {
      System.err.println(s"$Name: usage: --config <pipeline.yaml>")
      sys.exit(2)
    }
    YamlConfig.loadWith(args(cfgIdx + 1))(t => fromKv(YamlConfig.parse(t))) match {
      case Left(err) =>
        System.err.println(s"$Name: $err"); sys.exit(2)
      case Right(cfg) =>
        val spark = graft.core.GraftSession.local()
        val (nIn, nOut) = run(spark, cfg)
        println(s"[$Name] ${cfg.steps.mkString(" -> ")}: $nIn rows in, $nOut out -> ${cfg.outputDir}")
    }
  }
}
