package graft.agg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ShardStore.Compacted

/** Persisted incremental-rollup store: the Spark-native analogue of a
  * ClickHouse AggregatingMergeTree fed by a materialized view (the
  * canonical production pattern around tables the reference copies —
  * ClickHouse docs, SummingMergeTree/AggregatingMergeTree). Each ingested
  * shard folds down to PARTIAL AGGREGATE STATES (one row per distinct
  * group key in the shard); a read MERGES states across shards. Neither
  * path ever rescans previously-ingested raw data:
  *
  *  - [[append]] is O(shard): one map-side-combined groupBy over the new
  *    shard only, written as its own `states/shard=<id>/` parquet subtree
  *    via dynamic partition overwrite (replay-idempotent).
  *  - [[merged]] is O(store states) = O(shards × keys-per-shard), never
  *    O(raw rows). At 100 TB of events rolled up to (type, day) the raw
  *    corpus is ~10^11 rows but the store is ~10^4 state rows per shard —
  *    the merge is a dimension-sized job.
  *  - [[compact]] folds every subtree into one `shard=__compacted` tree.
  *    All states here are ASSOCIATIVE AND COMMUTATIVE merges (count/sum
  *    over integers, min/max), so compaction is bit-identical to the
  *    multi-shard merge — spec'd in AggStoreSpec.
  *
  * The states kept per group: row count, sum in integer MICRO-UNITS
  * (`floor(value·1e6)` as BIGINT — exact and order-independent, where a
  * double sum would drift with merge order and break bit-parity between
  * the incremental and the from-raw answer; floor, not round, because
  * round-half rules differ across engines and the oracle recomputes
  * this — the curation family's established discipline), min and max of
  * the raw double, and the measure's NON-NULL count (round-11 — the
  * avgState divisor). avg is derived at read time
  * (`sum_micros / 1e6 / cnt`), the standard mergeable-state decomposition.
  *
  * Layout + crash-safety protocol follow [[graft.core.ShardStore]]:
  * states subtree first (idempotent dynamic overwrite), the driver-side
  * `meta.json` document ([[graft.core.AtomicStore.writeMetaJson]]) last —
  * a crash before the meta commit leaves an orphan subtree that reads
  * never surface; the replayed shard overwrites it. Meta additionally
  * carries the store's key schema (as DataType JSON) so readers are
  * footer-job-free without the caller restating the grouping columns'
  * types. Single-writer per store path.
  */
object AggStore {

  private def statesPath(path: String) = s"$path/states"

  /** Per-measure states carry the measure name as a prefix:
    * `<m>_sum_u` (micro-unit BIGINT sum), `<m>_min`, `<m>_max`. The
    * single-measure [[append]] keeps its original unprefixed names
    * (`sum_micros`/`min_v`/`max_v`). `n` is shared across measures; the
    * optional `n_distinct_sk` (a Datasketches HLL binary via
    * `hll_sketch_agg` — the ClickHouse `uniqState` analogue, merge
    * contract proven by q75) is present only when the store was built
    * with a `distinctCol`. Merge semantics at read/compact are derived
    * from these names — see [[mergeExpr]]. */
  private val SketchField = StructField("n_distinct_sk", BinaryType)

  /** Optional quantile-sketch state (the ClickHouse quantileState /
    * quantileMerge pair): a serialized Greenwald-Khanna summary of the
    * `quantileCol` values per group — Spark's own `percentile_approx`
    * engine, exposed as a mergeable state by
    * [[graft.functions.expressions.QuantileSketchAggregate]]. Present
    * only when the store was built with a `quantileCol`; merged reads
    * finish it to `q_p50`/`q_p90`/`q_p99` estimates, each honouring the
    * eps rank-error bound whatever the shard/merge order was. */
  private val QSketchField = StructField("q_sketch", BinaryType)
  private val QProbes = Seq(0.5, 0.9, 0.99)
  private val QProbeNames = Seq("q_p50", "q_p90", "q_p99")

  /** The default dashboard probes the merged reads finish (as
    * `q_p50`/`q_p90`/`q_p99`); custom probe lists serve as `q_est_<i>`. */
  def defaultQuantileProbes: Seq[Double] = QProbes

  /** Optional capped exact-distinct state (ClickHouse `uniqUpTo(N)` —
    * [[graft.functions.expressions.UniqUpToAggregate]]): exact distinct
    * count while ≤ N, the sentinel N+1 beyond, state size O(N) per
    * group. The cap is part of the state's identity (states of
    * different caps do not merge), so it rides in the COLUMN NAME —
    * `uniq_upto_<N>_sk` — keeping meta self-describing and the
    * name-driven [[mergeExpr]] parameter-free. */
  private val UniqUpToPattern = "uniq_upto_([0-9]+)_sk".r
  private def uniqUpToName(n: Int) = s"uniq_upto_${n}_sk"

  /** Optional mergeable top-K state (ClickHouse `topKState(k)` —
    * [[graft.functions.expressions.TopKSketchAggregate]]): a k-counter
    * Misra-Gries summary per group, O(k) state over an unbounded item
    * domain, mergeable with the one-pass error bound (Agarwal et al.,
    * PODS 2012). Like uniqUpTo, the capacity is part of the state's
    * identity and rides in the COLUMN NAME — `topk_<k>_sk`. */
  private val TopKPattern = "topk_([0-9]+)_sk".r
  private def topKName(k: Int) = s"topk_${k}_sk"

  /** Optional second-moment state (ClickHouse varSampState — the
    * (n, Σx, Σx²) decomposition every mergeable variance uses): the EXACT
    * sum of squared micro-units per group as DECIMAL(38,0) — decimal sums
    * are associative and exact where a double Σx² would drift with merge
    * order. Rides beside the measure's existing `_sum_u`/`_cnt` states;
    * variance/stddev derive at read time from the three exact states.
    * Factors are cast to DECIMAL(18,0) before the multiply so the product
    * type is (37,0) — inside the 38-digit bound with no precision-loss
    * cap; |measure| must stay under 1e12 (its micro-units inside 18
    * digits), the same envelope the BIGINT `_sum_u` state already
    * implies. Named `<m>_sum2`. Co-moment states (ClickHouse
    * corrState/covarSampState) extend the same idea to a PAIR (x, y):
    * `<nm>_pn` (count of pair-non-null rows — corr drops a row when
    * EITHER side is null, so the pair states need their own count/sums),
    * `<nm>_sx`/`<nm>_sy` (micro sums over pair-non-null rows), and
    * `<nm>_sxx`/`<nm>_syy`/`<nm>_sxy` (decimal squared/cross sums). */
  private def sum2Name(m: String) = s"${m}_sum2"

  /** The associative merge for one state column, by naming convention.
    * `_argmax` states are struct<ord, arg> maxima (the ClickHouse
    * argMaxState: "value at the greatest ordinal"); struct comparison is
    * lexicographic, so equal ordinals tie-break on the arg — the merge
    * stays deterministic for any input. */
  private def mergeExpr(name: String): Column = name match {
    case "n" => sum(col("n")).as("n")
    case SketchField.name => hll_union_agg(col(name)).as(name)
    case QSketchField.name =>
      graft.functions.expressions.QuantileSketchAggregate
        .mergeSketches(col(name)).as(name)
    case nm if nm == "sum_micros" || nm.endsWith("_sum_u") => sum(col(nm)).as(nm)
    case nm if nm == "min_v" || nm.endsWith("_min") => min(col(nm)).as(nm)
    case nm if nm == "max_v" || nm.endsWith("_max") => max(col(nm)).as(nm)
    // per-measure NON-NULL count (round-11): the avgState divisor — avg
    // over a nullable measure divides by count(measure), not count(*)
    case nm if nm == "cnt_v" || nm.endsWith("_cnt") => sum(col(nm)).as(nm)
    // exact decimal moment sums: associative, no precision loss at (38,0)
    case nm if nm.endsWith("_sum2") || nm.endsWith("_sxx") ||
        nm.endsWith("_syy") || nm.endsWith("_sxy") =>
      sum(col(nm)).cast(DecimalType(38, 0)).as(nm)
    case nm if nm.endsWith("_pn") || nm.endsWith("_sx") || nm.endsWith("_sy") =>
      sum(col(nm)).as(nm)
    case nm if nm.endsWith("_argmax") => max(col(nm)).as(nm)
    case nm if nm.endsWith("_argmin") => min(col(nm)).as(nm)
    // sumMapState: key-wise map sum is associative on micro-unit longs,
    // so the SAME aggregate folds raw entries and merges shard states
    case nm if nm.endsWith("_summap") =>
      graft.functions.expressions.MapSumAggregate.sumMap(col(nm)).as(nm)
    case nm @ UniqUpToPattern(n) =>
      graft.functions.expressions.UniqUpToAggregate
        .mergeStates(col(nm), n.toInt).as(nm)
    case nm @ TopKPattern(k) =>
      graft.functions.expressions.TopKSketchAggregate
        .mergeStates(col(nm), k.toInt).as(nm)
    case nm => throw new IllegalStateException(
      s"state column $nm has no merge rule — store meta is corrupt")
  }

  /** Exact integer micro-units of a double measure — the mergeable sum
    * state (order-independent where double addition is not). DuckDB
    * mirror: `CAST(floor(value * 1e6) AS BIGINT)`. */
  def micros(c: Column): Column = floor(c * lit(1e6)).cast(LongType)

  /** `generation` (round-11) is bumped by every maintenance op that
    * changes what the states MEAN (retire/expire coarsen or delete
    * history; migrate re-shapes measures) — compact preserves it
    * (reader-invisible by construction). A persisted MV registration
    * records the generation it was registered against; the rewrite falls
    * back when the store has moved on (the cross-session staleness
    * guard). */
  private case class Meta(shardIds: Set[String], stateSchema: Option[StructType],
      keyNames: Seq[String], generation: Long) {
    /** Whether this store carries the distinct-sketch state. */
    def hasSketch: Boolean =
      stateSchema.exists(_.fieldNames.contains(SketchField.name))
    /** Whether this store carries the quantile-sketch state. */
    def hasQuantile: Boolean =
      stateSchema.exists(_.fieldNames.contains(QSketchField.name))
    def stateNames: Seq[String] =
      stateSchema.get.fieldNames.toSeq.filterNot(keyNames.contains)
  }

  private def metaJsonPath(path: String) = s"$path/meta.json"

  /** Meta read is DRIVER-SIDE (round-11 optimization): the meta is a
    * handful of driver-built values (shard guard, state schema, keys,
    * generation), and reading it as a parquet relation cost one full
    * Spark job per store touch — ~70–110 ms × every append/read/probe on
    * the gate host, a driver↔cluster round trip at scale. Read strictly
    * through [[graft.core.AtomicStore.readMetaJson]]: a damaged meta
    * throws; an absent one is the empty store. */
  private def readMeta(spark: SparkSession, path: String): Meta =
    graft.core.AtomicStore.readMetaJson(spark, metaJsonPath(path)) { m =>
      Meta(graft.core.AtomicStore.shardIds(m),
        Some(DataType.fromJson(m.required("state_schema_json").asText())
          .asInstanceOf[StructType]),
        graft.core.AtomicStore.strings(m, "key_names"),
        m.required("generation").asLong())
    }.getOrElse(Meta(Set.empty, None, Seq.empty, 0L))

  /** The store's current generation (0 before any maintenance op; bumped
    * by retire/expire/migrate). The MV-registration staleness handle. */
  def generation(spark: SparkSession, path: String): Long =
    readMeta(spark, path).generation

  /** Meta commit is DRIVER-SIDE (see [[readMeta]]); the JSON document is
    * built with Jackson so schema strings and arbitrary key names escape
    * correctly. */
  private def writeMeta(spark: SparkSession, path: String, ids: Set[String],
      stateSchema: StructType, keyNames: Seq[String], generation: Long): Unit =
    graft.core.AtomicStore.writeMetaJson(spark, metaJsonPath(path)) { root =>
      graft.core.AtomicStore.putShardIds(root, ids)
      root.put("state_schema_json", stateSchema.json)
      val keyArr = root.putArray("key_names")
      keyNames.foreach(keyArr.add)
      root.put("generation", generation)
    }

  private def onDiskSchema(stateSchema: StructType): StructType =
    StructType(stateSchema.fields.toSeq :+ StructField("shard", StringType))

  /** The associative state merge (one row per group key): counts and
    * micro-sums add, min/max fold, sketches union — per state column via
    * [[mergeExpr]]. Shared by [[merged]] and [[compact]] so compaction is
    * reader-invisible by construction. */
  private def mergeStates(st: DataFrame, meta: Meta): DataFrame =
    mergeStatesAt(st, meta, meta.keyNames)

  /** [[mergeStates]] grouped by a key SUBSET — every state here is an
    * associative, commutative merge, so states built at (a, b) re-merge
    * losslessly to (a): counts/sums add, min/max/argmax fold, HLL and GK
    * sketches union, maps key-wise-sum. That closure is what makes the
    * store a CASCADE of materialized views for free (ClickHouse stacks a
    * second MV per granularity; here a coarser read is one states-sized
    * groupBy over the same store). */
  private def mergeStatesAt(st: DataFrame, meta: Meta, keys: Seq[String]): DataFrame = {
    val aggs = meta.stateNames.map(mergeExpr)
    st.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Shard ids whose states are committed (the caller's replay guard —
    * same protocol as SeenStore.processedShards). */
  def processedShards(spark: SparkSession, path: String): Set[String] =
    readMeta(spark, path).shardIds - Compacted

  /** Fold one shard's raw rows into partial states and commit them as the
    * shard's own subtree — O(shard), nothing else rewritten. Idempotent
    * per shard id. `keys` are the rollup's grouping columns (kept under
    * their input names); `valueCol` the double measure (original
    * single-measure form — states named `sum_micros`/`min_v`/`max_v`). */
  def append(spark: SparkSession, path: String, shard: DataFrame,
      keys: Seq[String], valueCol: String, shardId: String,
      distinctCol: String = null, quantileCol: String = null,
      sumMap: Seq[(String, Column, Column)] = Nil,
      uniqUpTo: (String, Int) = null,
      topK: (String, Int) = null): Unit =
    appendStates(spark, path, shard, keys, shardId, distinctCol,
      Seq(("sum_micros", "min_v", "max_v", col(valueCol))),
      quantileCol = quantileCol, sumMap = sumMap, uniqUpTo = uniqUpTo,
      topK = topK)

  /** Multi-measure [[append]]: each `(name, expr)` measure contributes
    * `<name>_sum_u` / `<name>_min` / `<name>_max` states (one shared `n`).
    * Measures are EXPRESSIONS, so derived quantities — the TPC-H Q1
    * `extendedprice·(1−discount)` class — fold into states directly;
    * a product of columns is not derivable from the factors' independent
    * states, it must be a measure of its own. */
  def appendMeasures(spark: SparkSession, path: String, shard: DataFrame,
      keys: Seq[String], measures: Seq[(String, Column)], shardId: String,
      distinctCol: String = null,
      argMax: Seq[(String, Column, Column)] = Nil,
      quantileCol: String = null,
      sumMap: Seq[(String, Column, Column)] = Nil,
      uniqUpTo: (String, Int) = null,
      argMin: Seq[(String, Column, Column)] = Nil,
      topK: (String, Int) = null,
      moments: Seq[String] = Nil,
      coMoments: Seq[(String, Column, Column)] = Nil): Unit = {
    require(measures.nonEmpty, "rollup needs at least one measure")
    appendStates(spark, path, shard, keys, shardId, distinctCol,
      measures.map { case (nm, c) => (s"${nm}_sum_u", s"${nm}_min", s"${nm}_max", c) },
      argMax, quantileCol, sumMap, uniqUpTo, argMin, topK, moments, coMoments)
  }

  /** The per-measure non-null-count state's name from its sum state's
    * name — `cnt_v` for the single-measure legacy naming, `<m>_cnt`
    * otherwise. The avgState divisor (raw `avg(x)` sums non-null values
    * and divides by their COUNT, not by the group size `n`). */
  private def cntName(sumN: String): String =
    if (sumN == "sum_micros") "cnt_v" else sumN.stripSuffix("_sum_u") + "_cnt"

  /** One measure's four states: exact micro-unit sum, min, max, and the
    * non-null count (round-11 — the missing avgState half; ClickHouse's
    * avgState is exactly (sum, count-of-non-null)). Shared by
    * [[partialStates]] and migrate's raw backfill so the two stay
    * bit-identical by construction. */
  private def measureStateAggs(sumN: String, minN: String, maxN: String,
      c: Column): Seq[Column] = {
    val m = c.cast(DoubleType)
    Seq(coalesce(sum(micros(m)), lit(0L)).as(sumN), min(m).as(minN),
      max(m).as(maxN), count(m).as(cntName(sumN)))
  }

  /** One shard's (or live tail's) partial states — the fold both
    * [[appendStates]] persists and [[mergedWithTail]] computes on the fly. */
  private def partialStates(shard: DataFrame, keys: Seq[String],
      distinctCol: String,
      measures: Seq[(String, String, String, Column)],
      argMax: Seq[(String, Column, Column)] = Nil,
      quantileCol: String = null,
      sumMap: Seq[(String, Column, Column)] = Nil,
      uniqUpTo: (String, Int) = null,
      argMin: Seq[(String, Column, Column)] = Nil,
      topK: (String, Int) = null,
      moments: Seq[String] = Nil,
      coMoments: Seq[(String, Column, Column)] = Nil): DataFrame = {
    require(keys.nonEmpty, "rollup needs at least one grouping column")
    val reserved = measures.flatMap { case (a, b, c, _) => Seq(a, b, c, cntName(a)) } ++
      argMax.map { case (nm, _, _) => s"${nm}_argmax" } ++
      argMin.map { case (nm, _, _) => s"${nm}_argmin" } ++
      sumMap.map { case (nm, _, _) => s"${nm}_summap" } ++
      moments.flatMap(m => Seq(sum2Name(m), s"${m}_var", s"${m}_var_pop",
        s"${m}_std", s"${m}_std_pop")) ++
      coMoments.flatMap { case (nm, _, _) => Seq(s"${nm}_pn", s"${nm}_sx",
        s"${nm}_sy", s"${nm}_sxx", s"${nm}_syy", s"${nm}_sxy", s"${nm}_corr",
        s"${nm}_cov", s"${nm}_cov_pop") } ++
      Option(uniqUpTo).map(u => uniqUpToName(u._2)).toSeq ++
      Option(topK).map(t => topKName(t._2)).toSeq ++
      Seq("n", SketchField.name, QSketchField.name)
    require(keys.intersect(reserved).isEmpty,
      s"grouping columns collide with state names: ${keys.intersect(reserved)}")
    // partial states: Catalyst's partial/final HashAggregate already
    // map-side-combines this, so the shuffle carries states, not rows.
    // Measures are DOUBLE in the state schema regardless of input type
    // (a long column like n_chars casts exactly up to 2^53; the sum
    // state is exact through the micro-unit long either way) — without
    // the cast, a long-typed measure writes INT64 min/max that the
    // schema'd read rejects
    val measureAggs = measures.flatMap { case (sumN, minN, maxN, c) =>
      measureStateAggs(sumN, minN, maxN, c)
    }
    // momentsState: exact Σx² in squared micro-units per measure named in
    // `moments` — with the measure's existing _sum_u/_cnt states these are
    // the three exact ingredients of any variance (see sum2Name doc).
    // Null rows contribute nothing (product of a null factor is null, sum
    // skips it); all-null groups encode as 0, the _sum_u discipline.
    val exprByMeasure = measures.map { case (sumN, _, _, c) =>
      sumN.stripSuffix("_sum_u") -> c }.toMap
    val momentAggs = moments.map { m =>
      val c = exprByMeasure.getOrElse(m, throw new IllegalArgumentException(
        s"moment state '$m' names no measure (have ${exprByMeasure.keys.mkString(", ")})"))
      require(m != "sum_micros", "moment states need appendMeasures naming")
      val f = micros(c.cast(DoubleType)).cast(DecimalType(18, 0))
      coalesce(sum(f * f), lit(0).cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0)).as(sum2Name(m))
    }
    // coMomentsState: the pair states corr/covar derive from. Pair-null
    // discipline matches Spark's corr/covar exactly: a row where EITHER
    // side is null contributes to NO pair state (corr drops it entirely),
    // which is why the pair keeps its own _pn/_sx/_sy rather than reusing
    // the single-measure states.
    val coMomentAggs = coMoments.flatMap { case (nm, x0, y0) =>
      val x = x0.cast(DoubleType); val y = y0.cast(DoubleType)
      val both = x.isNotNull && y.isNotNull
      val xm = when(both, micros(x)); val ym = when(both, micros(y))
      val xd = xm.cast(DecimalType(18, 0)); val yd = ym.cast(DecimalType(18, 0))
      def dsum(c: Column, as: String) = coalesce(sum(c),
        lit(0).cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).as(as)
      Seq(count(when(both, lit(1))).as(s"${nm}_pn"),
        coalesce(sum(xm), lit(0L)).as(s"${nm}_sx"),
        coalesce(sum(ym), lit(0L)).as(s"${nm}_sy"),
        dsum(xd * xd, s"${nm}_sxx"),
        dsum(yd * yd, s"${nm}_syy"),
        dsum(xd * yd, s"${nm}_sxy"))
    }
    // argMaxState: the (ordinal, value) pair at the group's greatest
    // ordinal — "latest value per key" once the ordinal is an event time.
    // Struct max is the mergeable form; arg rides inside the struct.
    val argMaxAggs = argMax.map { case (nm, ord, arg) =>
      max(struct(ord.as("ord"), arg.as("arg"))).as(s"${nm}_argmax")
    }
    // argMinState (the ClickHouse argMin twin): the pair at the group's
    // SMALLEST ordinal — "first value per key". Struct min is the
    // mergeable form; equal ordinals tie-break on the arg, deterministic.
    val argMinAggs = argMin.map { case (nm, ord, arg) =>
      min(struct(ord.as("ord"), arg.as("arg"))).as(s"${nm}_argmin")
    }
    // sumMapState: per-row single-entry maps key-wise-summed — the same
    // aggregate later merges the shard states (see mergeExpr). Values in
    // exact micro-units, per the store's sum discipline. A null map key
    // would throw Spark's map contract AT EXECUTION — in the pipeline
    // path that is after the shard output committed, so every replay
    // re-crashes (a permanent ingest wedge). Guarded here instead: a
    // null-key row contributes NO map entry (MapSumAggregate.update
    // already skips null input maps), matching how ClickHouse sumMap
    // simply never sees a NULL key from a Nullable column's GROUP BY arm.
    val sumMapAggs = sumMap.map { case (nm, k, v) =>
      graft.functions.expressions.MapSumAggregate.sumMap(
        when(k.isNotNull,
          map(k.cast(StringType), micros(v.cast(DoubleType))))).as(s"${nm}_summap")
    }
    val baseAggs = count(lit(1)).as("n") +:
      (measureAggs ++ momentAggs ++ coMomentAggs ++
        argMaxAggs ++ argMinAggs ++ sumMapAggs)
    val withDistinct = if (distinctCol != null)
      // the uniqState analogue: a mergeable Datasketches HLL of the
      // distinct column, unioned (never re-counted) at read/compact time
      baseAggs :+ hll_sketch_agg(col(distinctCol)).as(SketchField.name)
    else baseAggs
    val withQuantile = if (quantileCol != null)
      // the quantileState analogue: a mergeable GK summary of the
      // quantile column, merged (never re-folded) at read/compact time
      withDistinct :+ graft.functions.expressions.QuantileSketchAggregate
        .sketch(col(quantileCol).cast(DoubleType)).as(QSketchField.name)
    else withDistinct
    val withUniq = if (uniqUpTo != null)
      // the uniqUpToState analogue: exact capped distinct set, unioned
      // (cap preserved) at read/compact time
      withQuantile :+ graft.functions.expressions.UniqUpToAggregate
        .state(col(uniqUpTo._1), uniqUpTo._2).as(uniqUpToName(uniqUpTo._2))
    else withQuantile
    val aggs = if (topK != null)
      // the topKState analogue: k-counter Misra-Gries summary, merged
      // by the mergeable-summaries compaction at read/compact time
      withUniq :+ graft.functions.expressions.TopKSketchAggregate
        .state(col(topK._1), topK._2).as(topKName(topK._2))
    else withUniq
    shard.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def appendStates(spark: SparkSession, path: String, shard: DataFrame,
      keys: Seq[String], shardId: String, distinctCol: String,
      measures: Seq[(String, String, String, Column)],
      argMax: Seq[(String, Column, Column)] = Nil,
      quantileCol: String = null,
      sumMap: Seq[(String, Column, Column)] = Nil,
      uniqUpTo: (String, Int) = null,
      argMin: Seq[(String, Column, Column)] = Nil,
      topK: (String, Int) = null,
      moments: Seq[String] = Nil,
      coMoments: Seq[(String, Column, Column)] = Nil): Unit =
    graft.core.WriterLease.withLease(spark, path) {
    require(shardId != Compacted, s"shard id $Compacted is reserved")
    val meta = readMeta(spark, path)
    if (meta.shardIds.contains(shardId)) return
    val partial = partialStates(shard, keys, distinctCol, measures, argMax,
      quantileCol, sumMap, uniqUpTo, argMin, topK, moments, coMoments)
    val stateSchema = partial.schema
    meta.stateSchema.foreach { existing =>
      require(existing == stateSchema && meta.keyNames == keys,
        s"state schema mismatch: store has $existing (keys ${meta.keyNames}), " +
          s"shard brings $stateSchema (keys $keys) — keys, measures, and " +
          "distinctCol must not drift)")
    }
    // adopt a torn compact before (re-)creating the tree (AtomicStore.heal)
    graft.core.AtomicStore.heal(spark, statesPath(path))
    partial.withColumn("shard", lit(shardId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .parquet(statesPath(path))
    writeMeta(spark, path, meta.shardIds + shardId, stateSchema, keys,
      meta.generation)
  }

  /** All committed partial states (orphans of torn appends filtered out),
    * or None before the first append. */
  def states(spark: SparkSession, path: String): Option[DataFrame] =
    states(spark, path, readMeta(spark, path))

  /** [[states]] with the meta already read — merged/compact read meta once
    * and thread it here, so a store read costs ONE meta collect job. */
  private def states(spark: SparkSession, path: String, meta: Meta): Option[DataFrame] =
    meta.stateSchema.map { ss =>
      graft.core.AtomicStore.readRequired(spark, statesPath(path), onDiskSchema(ss))
        .filter(col("shard").isin(meta.shardIds.toSeq: _*))
        .drop("shard")
    }

  /** Merge the mergeable states across shards: one row per group key with
    * exact n / sum_micros / min_v / max_v, the derived avg_v, and — when
    * the store carries the distinct sketch — `n_distinct_est`, the
    * HLL-union estimate of distinct `distinctCol` values per group (the
    * `uniqMerge` read; ≈0 error at small cardinalities, ~2% at large —
    * the q75-proven contract). This is the read users run instead of
    * re-aggregating the raw corpus. */
  def merged(spark: SparkSession, path: String,
      quantileProbes: Seq[Double] = QProbes): DataFrame = {
    val meta = readMeta(spark, path)
    require(meta.stateSchema.nonEmpty,
      s"no aggregate store at $path — append a shard first")
    finishMerged(mergeStates(states(spark, path, meta).get, meta), meta,
      quantileProbes)
  }

  /** COARSENED read: [[merged]] at a strict subset of the store's keys —
    * a (type, day) store answers (type) questions from the same states,
    * the cascaded-materialized-view read (see [[mergeStatesAt]]). Still
    * O(states), and exact for every exact state; sketch states keep
    * their usual bounds through the extra union level. */
  def mergedAt(spark: SparkSession, path: String, coarseKeys: Seq[String],
      quantileProbes: Seq[Double] = QProbes): DataFrame = {
    val meta = readMeta(spark, path)
    require(meta.stateSchema.nonEmpty,
      s"no aggregate store at $path — append a shard first")
    require(coarseKeys.nonEmpty && coarseKeys.forall(meta.keyNames.contains),
      s"coarse keys $coarseKeys must be a non-empty subset of the " +
        s"store's keys ${meta.keyNames}")
    finishMerged(
      mergeStatesAt(states(spark, path, meta).get, meta, coarseKeys), meta,
      quantileProbes)
  }

  /** [[mergedAt]] generalised to DERIVED grouping expressions over the
    * store's key columns (`month(event_day)`, `bucket(id)`, …): every
    * state is an associative, commutative merge, so states regroup
    * losslessly under ANY function of the keys — the read-time RE-GRAIN
    * behind time-rollup dashboards, where ClickHouse stacks a second
    * coarser MV. Still O(states). Each `(name, expr)` grouping expression
    * may reference ONLY key columns (referencing a state column would
    * group by a value the merge is about to fold — rejected loudly);
    * names must not collide with state names. */
  def mergedBy(spark: SparkSession, path: String,
      groups: Seq[(String, Column)],
      quantileProbes: Seq[Double] = QProbes): DataFrame = {
    val meta = readMeta(spark, path)
    require(meta.stateSchema.nonEmpty,
      s"no aggregate store at $path — append a shard first")
    require(groups.nonEmpty, "mergedBy needs at least one grouping expression")
    require(groups.map(_._1).intersect(meta.stateNames).isEmpty,
      s"grouping names ${groups.map(_._1)} collide with state names")
    val st = states(spark, path, meta).get
    // resolve the expressions against the states relation and verify they
    // reference key columns only
    val proj = st.select(groups.map { case (n, c) => c.as(n) }: _*)
    // ROOT Project only: the plan below it is the store read itself,
    // whose internal projections legitimately reference state columns
    proj.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.foreach { e =>
          val refs = e.references.map(_.name).toSet
          require(refs.subsetOf(meta.keyNames.toSet),
            s"mergedBy expression '${e.sql}' references non-key columns " +
              s"${refs -- meta.keyNames.toSet} — grouping expressions may " +
              s"use only the store keys ${meta.keyNames}")
        }
      case _ => ()
    }
    val aggs = meta.stateNames.map(mergeExpr)
    finishMerged(
      st.groupBy(groups.map { case (n, c) => c.as(n) }: _*)
        .agg(aggs.head, aggs.tail: _*), meta, quantileProbes)
  }

  /** Derived read-time columns over merged states: per-measure avg
    * (`avg_v` for the single-measure form, `<m>_avg` for named measures —
    * the standard sum/count decomposition) and the sketch estimate. */
  private def finishMerged(mergedStates: DataFrame, meta: Meta,
      quantileProbes: Seq[Double] = QProbes): DataFrame = {
    val names = meta.stateNames
    // divisor: the measure's non-null count when the store carries it
    // (round-11 stores do), else the group size (pre-cnt stores — exact
    // for measures without nulls, the only kind those stores held).
    // ZERO-SAFE: a zero divisor reads as NULL, so the division yields
    // NULL instead of raising ANSI DIVIDE_BY_ZERO — an all-null group's
    // avg IS NULL, and `when` guards alone do not protect a shared
    // subexpression that codegen CSE hoists out of its branch
    def nonZero(d: Column): Column = when(d > 0, d)
    def divisor(sumN: String): Column = nonZero(
      if (names.contains(cntName(sumN))) col(cntName(sumN)) else col("n"))
    val avgs: Seq[(String, Column)] = names.collect {
      case "sum_micros" =>
        "avg_v" -> (col("sum_micros") / lit(1e6) / divisor("sum_micros"))
      case nm if nm.endsWith("_sum_u") =>
        (nm.stripSuffix("_sum_u") + "_avg") -> (col(nm) / lit(1e6) / divisor(nm))
    }
    val out = avgs.foldLeft(mergedStates) {
      case (df, (nm, c)) => df.withColumn(nm, c)
    }
    val withDistinct = if (meta.hasSketch)
      out.withColumn("n_distinct_est",
          hll_sketch_estimate(col(SketchField.name)))
        .drop(SketchField.name)
    else out
    val withQuantile = if (meta.hasQuantile) {
      // finish the merged GK sketch at the requested probes (default: the
      // standard dashboard trio under its legacy names; ANY probe list
      // serves as q_est_<i> — the quantilesMerge read). The estimate
      // array materialises ONCE per group row: the finisher is
      // CodegenFallback, so embedding it per probe column would
      // re-deserialize the sketch once per probe (no subexpression
      // elimination there)
      require(quantileProbes.nonEmpty &&
        quantileProbes.forall(p => p >= 0.0 && p <= 1.0),
        s"quantile probes must be in [0, 1]: $quantileProbes")
      val qNames =
        if (quantileProbes == QProbes) QProbeNames
        else quantileProbes.indices.map(i => s"q_est_$i")
      val est = graft.functions.expressions.QuantileSketchAggregate
        .estimate(col(QSketchField.name), quantileProbes)
      qNames.zipWithIndex.foldLeft(
          withDistinct.withColumn("__q_est", est)) {
        case (df, (nm, i)) => df.withColumn(nm, element_at(col("__q_est"), i + 1))
      }.drop(QSketchField.name, "__q_est")
    } else withDistinct
    // finish a capped exact-distinct state to its count (exact ≤ N,
    // sentinel N+1 beyond — the uniqUpTo answer)
    val withUniq = meta.stateNames
      .collectFirst { case nm @ UniqUpToPattern(_) => nm } match {
      case Some(nm) => withQuantile.withColumn("n_distinct_upto",
          graft.functions.expressions.UniqUpToAggregate.count(col(nm)))
        .drop(nm)
      case None => withQuantile
    }
    // finish a top-K state to its sorted candidate array (exact counts
    // while the group's distinct items stayed ≤ k — the topKMerge read)
    val withTopK = meta.stateNames.collectFirst { case nm @ TopKPattern(_) => nm } match {
      case Some(nm) => withUniq.withColumn("topk_items",
          graft.functions.expressions.TopKSketchAggregate.candidates(col(nm)))
        .drop(nm)
      case None => withUniq
    }
    // finish moment states to variance/stddev (the varSampMerge read):
    // every operand is an exact integer state converted to double ONCE,
    // then one fixed IEEE expression — deterministic and order-independent
    // (the documented micro-arithmetic contract, q176's avg discipline;
    // the q185 oracle mirrors the same expression). Sample forms NULL at
    // cnt<2, population forms at cnt<1 — Spark's nullOnDivideByZero
    // semantics. sqrt takes greatest(·, 0): the exact states make the
    // variance mathematically ≥ 0, but the double conversion can land a
    // true-zero variance a few ulp below it.
    val withMoments = names.filter(_.endsWith("_sum2")).foldLeft(withTopK) {
      (df, s2) =>
        val m = s2.stripSuffix("_sum2")
        val cnt = col(cntName(s"${m}_sum_u"))
        val sd = col(s2).cast(DoubleType) / lit(1e12)
        val mu = col(s"${m}_sum_u").cast(DoubleType) / lit(1e6)
        // divisors zero-guarded (NULL, not ANSI error — see nonZero)
        val vSamp = (sd - mu * mu / nonZero(cnt)) / nonZero(cnt - lit(1L))
        val vPop = (sd - mu * mu / nonZero(cnt)) / nonZero(cnt)
        df.withColumn(s"${m}_var", when(cnt > 1, vSamp))
          .withColumn(s"${m}_var_pop", when(cnt > 0, vPop))
          .withColumn(s"${m}_std", when(cnt > 1, sqrt(greatest(vSamp, lit(0.0)))))
          .withColumn(s"${m}_std_pop", when(cnt > 0, sqrt(greatest(vPop, lit(0.0)))))
          .drop(s2)
    }
    // finish co-moment states to covariance/correlation (covarSampMerge /
    // corrMerge): same exact-states-then-one-IEEE-expression discipline.
    // The pair count `<nm>_pn` stays in the output — it is the exact
    // "rows corr saw" count and the guard divisor.
    names.filter(_.endsWith("_sxy")).map(_.stripSuffix("_sxy"))
      .foldLeft(withMoments) { (df, nm) =>
        val pn = col(s"${nm}_pn")
        val sx = col(s"${nm}_sx").cast(DoubleType) / lit(1e6)
        val sy = col(s"${nm}_sy").cast(DoubleType) / lit(1e6)
        val sxx = col(s"${nm}_sxx").cast(DoubleType) / lit(1e12)
        val syy = col(s"${nm}_syy").cast(DoubleType) / lit(1e12)
        val sxy = col(s"${nm}_sxy").cast(DoubleType) / lit(1e12)
        val covN = sxy - sx * sy / nonZero(pn)
        val vxN = sxx - sx * sx / nonZero(pn)
        val vyN = syy - sy * sy / nonZero(pn)
        val denom = sqrt(vxN * vyN)
        df.withColumn(s"${nm}_cov", when(pn > 1, covN / nonZero(pn - lit(1L))))
          .withColumn(s"${nm}_cov_pop", when(pn > 0, covN / nonZero(pn)))
          .withColumn(s"${nm}_corr",
            when(pn > 0 && vxN > lit(0.0) && vyN > lit(0.0),
              covN / when(denom > 0, denom)))
          .drop(s"${nm}_sx", s"${nm}_sy", s"${nm}_sxx", s"${nm}_syy",
            s"${nm}_sxy")
      }
  }

  /** REALTIME (lambda) read: the persisted states merged together with
    * the on-the-fly partial states of an UN-INGESTED tail — the answer a
    * realtime materialized view serves between ingests. The tail pays one
    * map-side-combined groupBy over ITS rows only; history stays states.
    * The caller restates the same keys/measures the store was built with
    * (measures are expressions, not recoverable from meta) — a mismatch
    * fails loudly against the recorded state schema. Exactness carries
    * over: states are associative, so merged(history) ⊎ partial(tail) ≡
    * from-raw over history ∪ tail, which is what the q162 oracle checks. */
  def mergedWithTail(spark: SparkSession, path: String, tail: DataFrame,
      keys: Seq[String], valueCol: String, distinctCol: String = null,
      quantileCol: String = null,
      uniqUpTo: (String, Int) = null,
      sumMap: Seq[(String, Column, Column)] = Nil): DataFrame =
    mergedWithTailStates(spark, path, tail, keys, distinctCol,
      Seq(("sum_micros", "min_v", "max_v", col(valueCol))),
      quantileCol = quantileCol, uniqUpTo = uniqUpTo, sumMap = sumMap)

  /** Multi-measure [[mergedWithTail]] (the [[appendMeasures]] naming). */
  def mergedWithTailMeasures(spark: SparkSession, path: String, tail: DataFrame,
      keys: Seq[String], measures: Seq[(String, Column)],
      distinctCol: String = null,
      argMax: Seq[(String, Column, Column)] = Nil,
      quantileCol: String = null,
      sumMap: Seq[(String, Column, Column)] = Nil,
      uniqUpTo: (String, Int) = null,
      argMin: Seq[(String, Column, Column)] = Nil,
      groups: Seq[(String, Column)] = null,
      moments: Seq[String] = Nil,
      coMoments: Seq[(String, Column, Column)] = Nil,
      quantileProbes: Seq[Double] = QProbes): DataFrame =
    mergedWithTailStates(spark, path, tail, keys, distinctCol,
      measures.map { case (nm, c) => (s"${nm}_sum_u", s"${nm}_min", s"${nm}_max", c) },
      argMax, quantileCol, sumMap, uniqUpTo, argMin, groups, moments, coMoments,
      quantileProbes)

  private def mergedWithTailStates(spark: SparkSession, path: String,
      tail: DataFrame, keys: Seq[String], distinctCol: String,
      measures: Seq[(String, String, String, Column)],
      argMax: Seq[(String, Column, Column)] = Nil,
      quantileCol: String = null,
      sumMap: Seq[(String, Column, Column)] = Nil,
      uniqUpTo: (String, Int) = null,
      argMin: Seq[(String, Column, Column)] = Nil,
      groups: Seq[(String, Column)] = null,
      moments: Seq[String] = Nil,
      coMoments: Seq[(String, Column, Column)] = Nil,
      quantileProbes: Seq[Double] = QProbes): DataFrame = {
    val meta = readMeta(spark, path)
    require(meta.stateSchema.nonEmpty,
      s"no aggregate store at $path — append a shard first")
    val tailStates = partialStates(tail, keys, distinctCol, measures, argMax,
      quantileCol, sumMap, uniqUpTo, argMin, moments = moments,
      coMoments = coMoments)
    require(tailStates.schema == meta.stateSchema.get && keys == meta.keyNames,
      s"tail states ${tailStates.schema} (keys $keys) do not match the " +
        s"store's ${meta.stateSchema.get} (keys ${meta.keyNames})")
    val all = states(spark, path, meta).get.unionByName(tailStates)
    // optional COARSER read of the lambda union (the mergedAt/mergedBy
    // closure over history ∪ tail): every state is an associative,
    // commutative merge, so the unioned states regroup losslessly under
    // any expression of the keys — exactness carries over unchanged
    if (groups == null)
      finishMerged(mergeStates(all, meta), meta, quantileProbes)
    else {
      require(groups.nonEmpty &&
        groups.map(_._1).intersect(meta.stateNames).isEmpty,
        s"grouping names ${groups.map(_._1)} collide with state names")
      // the mergedBy guard: grouping expressions may reference ONLY key
      // columns (a state column here would group by a value the merge is
      // about to fold)
      all.select(groups.map { case (n, c) => c.as(n) }: _*)
        .queryExecution.analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.foreach { e =>
            val refs = e.references.map(_.name).toSet
            require(refs.subsetOf(meta.keyNames.toSet),
              s"grouping expression '${e.sql}' references non-key columns " +
                s"${refs -- meta.keyNames.toSet}")
          }
        case _ => ()
      }
      val aggs = meta.stateNames.map(mergeExpr)
      finishMerged(
        all.groupBy(groups.map { case (n, c) => c.as(n) }: _*)
          .agg(aggs.head, aggs.tail: _*), meta, quantileProbes)
    }
  }

  /** Small-file / state maintenance: pre-merge every recorded subtree into
    * one `shard=__compacted` tree. Because the states are associative
    * merges, [[merged]] reads identically before and after; historical
    * shard ids stay in meta so long-gone shards still short-circuit at
    * [[processedShards]]. No-op before the first append. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1): Boolean =
    graft.core.WriterLease.withLease(spark, path) {
      val meta = readMeta(spark, path)
      if (meta.shardIds.isEmpty) false
      else {
        swapCompacted(spark, path, meta,
          mergeStates(states(spark, path, meta).get, meta), nFiles,
          meta.generation)
        true
      }
    }

  /** Shared tail of compact/expire/retire: record the compacted shard id
    * (and, for the meaning-changing ops, the bumped generation) in meta —
    * reads must accept the new subtree the moment it lands — then
    * atomically swap the merged states in as `shard=__compacted`. A crash
    * between the two leaves the bumped generation over the OLD states:
    * the MV rewrite falls back unnecessarily until the op re-runs — the
    * safe direction. */
  private def swapCompacted(spark: SparkSession, path: String, meta: Meta,
      mergedStates: DataFrame, nFiles: Int, generation: Long): Unit = {
    if (!meta.shardIds.contains(Compacted) || generation != meta.generation)
      writeMeta(spark, path, meta.shardIds + Compacted,
        meta.stateSchema.get, meta.keyNames, generation)
    graft.core.AtomicStore.replaceVia(spark, statesPath(path)) { tmp =>
      mergedStates.withColumn("shard", lit(Compacted)).coalesce(nFiles)
        .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    }
  }

  /** SCHEMA EVOLUTION (round-10 verdict #5): re-shape a store with
    * history onto a new MEASURE LIST without a manual rebuild — the
    * ClickHouse `ALTER TABLE … ADD COLUMN … MATERIALIZE` analogue for
    * the AggregatingMergeTree states this store holds. Three cases per
    * target measure (appendMeasures naming):
    *
    *  - SHARED (already in the store): its states carry over through one
    *    associative merge — bit-identical to a fresh rebuild by the same
    *    closure compact() relies on (spec'd in AggStoreMigrateSpec);
    *  - NEW with `raw` provided: backfilled by one groupBy over `raw`
    *    (which must be the store's full ingested corpus — enforced by an
    *    exact per-key row-count parity check against the store's own `n`,
    *    so a stale/partial raw fails loudly instead of writing wrong
    *    states);
    *  - NEW without `raw`: explicit NULL-state semantics — the measure's
    *    states start NULL and accumulate from FUTURE appends only (sum /
    *    min / max all skip nulls, so the merge algebra is unaffected);
    *    the right choice when raw history is already retired.
    *
    * Measures absent from the target list are DROPPED. Non-measure states
    * (the distinct/quantile/sumMap/uniqUpTo sketches and argmax) pass
    * through untouched, in the positions a rebuild would give them.
    *
    * Crash-safe ordering: compacted-id into meta first (reads accept the
    * new subtree), then the atomic states swap (still readable under the
    * OLD schema — schema'd parquet reads select by name), then the meta
    * schema flip as the commit point. A crash anywhere leaves a store
    * that reads consistently and a migrate that re-runs to completion. */
  def migrate(spark: SparkSession, path: String,
      targetMeasures: Seq[(String, Column)], raw: DataFrame = null,
      nFiles: Int = 1): Boolean = graft.core.WriterLease.withLease(spark, path) {
    val meta = readMeta(spark, path)
    if (meta.shardIds.isEmpty) return false
    require(targetMeasures.nonEmpty, "migrate needs at least one target measure")
    val oldNames = meta.stateNames
    require(!oldNames.contains("sum_micros"),
      "migrate supports appendMeasures-named stores (single-measure legacy " +
        "stores carry unprefixed states — rebuild those)")
    val existing = oldNames.collect {
      case nm if nm.endsWith("_sum_u") => nm.stripSuffix("_sum_u")
    }.toSet
    val newMeasures = targetMeasures.filterNot { case (n, _) => existing(n) }
    // LEGACY LIFT (round-11): a store written before the per-measure
    // non-null-count state lacks `<m>_cnt` for its existing measures —
    // the rebuild-parity contract requires it now, and counts are only
    // recoverable from raw (they are not derivable from sum/min/max)
    val missingCnt = targetMeasures.filter { case (n, _) =>
      existing(n) && !oldNames.contains(s"${n}_cnt") }
    require(missingCnt.isEmpty || raw != null,
      s"store predates per-measure non-null counts (${missingCnt.map(_._1)}) " +
        "— pass raw so migrate can backfill them")
    val merged0 = mergeStates(states(spark, path, meta).get, meta)

    // backfill (or null-fill) the new measures' states per key. The
    // null-state encoding is EXACTLY what partialStates produces for a
    // group whose measure values are all null — sum_u 0, min/max NULL,
    // cnt 0 — so every downstream consumer (merge algebra, the
    // RollupRewrite null-parity read) treats pre-migration history
    // uniformly
    val withNew: DataFrame =
      if (newMeasures.isEmpty && missingCnt.isEmpty) merged0
      else if (raw == null) {
        newMeasures.foldLeft(merged0) { case (df, (nm, _)) =>
          df.withColumn(s"${nm}_sum_u", lit(0L))
            .withColumn(s"${nm}_min", lit(null).cast(DoubleType))
            .withColumn(s"${nm}_max", lit(null).cast(DoubleType))
            .withColumn(s"${nm}_cnt", lit(0L))
        }
      } else {
        // one groupBy over raw: the new measures' full states (via the
        // SAME per-measure aggs partialStates uses — rebuild parity by
        // construction) plus bare counts for legacy-lifted measures
        val bfAggs = count(lit(1)).as("__raw_n") +:
          (newMeasures.flatMap { case (nm, c) =>
            measureStateAggs(s"${nm}_sum_u", s"${nm}_min", s"${nm}_max", c)
          } ++ missingCnt.map { case (nm, c) =>
            count(c.cast(DoubleType)).as(s"${nm}_cnt") })
        // null-SAFE key equality (round-11 advice): a null group key is a
        // legitimate group; a plain equi-join would never pair it and the
        // parity gate would falsely reject a correct raw
        val bk = meta.keyNames.map(k => k -> s"__bk_$k").toMap
        val backfill = meta.keyNames.foldLeft(
            raw.groupBy(meta.keyNames.map(col): _*)
              .agg(bfAggs.head, bfAggs.tail: _*)) {
          case (df, k) => df.withColumnRenamed(k, bk(k)) }
        val cond = meta.keyNames.map(k => col(k) <=> col(bk(k))).reduce(_ && _)
        val joined = merged0.join(backfill, cond, "full_outer")
        // parity gate: raw must be EXACTLY the ingested corpus — any key
        // present on one side only, or any per-key count drift, aborts
        val bad = joined.filter(col("n").isNull || col("__raw_n").isNull ||
          col("n") =!= col("__raw_n")).count()
        require(bad == 0L,
          s"migrate backfill rejected: raw disagrees with the store's row " +
            s"counts on $bad group key(s) — raw must be the store's full " +
            "ingested corpus")
        joined.drop("__raw_n").drop(meta.keyNames.map(bk): _*)
      }

    // assemble in REBUILD order: keys, n, target measures (target order),
    // then the non-measure states in their original relative order
    val measureStates = targetMeasures.flatMap { case (nm, _) =>
      Seq(s"${nm}_sum_u", s"${nm}_min", s"${nm}_max", s"${nm}_cnt") }
    // a dropped measure's second-moment state goes with it (an orphan
    // sum2 would have no sum_u/cnt to finish variance from); a KEPT
    // measure's sum2 passes through in its original relative order
    val droppedM = existing -- targetMeasures.map(_._1).toSet
    val passThrough = oldNames.filterNot(nm => nm == "n" ||
      existing.exists(m => nm == s"${m}_sum_u" || nm == s"${m}_min" ||
        nm == s"${m}_max" || nm == s"${m}_cnt") ||
      droppedM.exists(m => nm == sum2Name(m)))
    val outCols = meta.keyNames ++ Seq("n") ++ measureStates ++ passThrough
    val assembled = withNew.select(outCols.map(col): _*)
    // the recorded schema must be BIT-IDENTICAL to what partialStates
    // would produce for the target config (future appends require exact
    // StructType equality, nullability included): reuse old fields where
    // they exist, canonical measure-state fields for the new ones
    val old = meta.stateSchema.get
    val newSchema = StructType(outCols.map { nm =>
      old.find(_.name == nm).getOrElse {
        if (nm.endsWith("_sum_u") || nm.endsWith("_cnt"))
          StructField(nm, LongType, nullable = false)
        else StructField(nm, DoubleType, nullable = true)
      }
    })

    // 1. compacted id visible under the OLD schema
    if (!meta.shardIds.contains(Compacted))
      writeMeta(spark, path, meta.shardIds + Compacted,
        meta.stateSchema.get, meta.keyNames, meta.generation)
    // 2. atomic states swap (old-schema reads still resolve by name)
    graft.core.AtomicStore.replaceVia(spark, statesPath(path)) { tmp =>
      assembled.withColumn("shard", lit(Compacted)).coalesce(nFiles)
        .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    }
    // 3. COMMIT: the meta schema flip — with the generation bump (the
    // re-shaped store no longer answers the old defining query)
    writeMeta(spark, path, meta.shardIds + Compacted, newSchema,
      meta.keyNames, meta.generation + 1)
    // a live MV registration describes the PRE-migration measure list —
    // drop it rather than let the rewrite serve a reshaped store
    // (re-register against the new defining query explicitly)
    graft.plans.MaterializedRollups.invalidateStore(path)
    true
  }

  /** Plain TTL delete (ClickHouse `TTL expr` without GROUP BY): DROP
    * states whose `expired` predicate holds — [[retire]]'s simpler
    * sibling for history that should vanish rather than coarsen. Same
    * compact mechanics (atomic swap, replay history kept). Three-valued
    * logic hazard handled: a NULL predicate (e.g. a null key under `<`)
    * counts as NOT expired — only rows the condition actually matches
    * are removed, the CH TTL semantics. */
  def expire(spark: SparkSession, path: String, expired: Column,
      nFiles: Int = 1): Boolean =
    graft.core.WriterLease.withLease(spark, path) {
      val meta = readMeta(spark, path)
      if (meta.shardIds.isEmpty) false
      else {
        val live = states(spark, path, meta).get
          .filter(!coalesce(expired, lit(false)))
        // generation bump: deleted history changes what the states MEAN
        swapCompacted(spark, path, meta, mergeStates(live, meta), nFiles,
          meta.generation + 1)
        // deleted history ≠ the registered defining query any more — a
        // live MV registration must not keep rewriting raw aggregates
        graft.plans.MaterializedRollups.invalidateStore(path)
        true
      }
    }

  /** State-granularity retirement — the ClickHouse `TTL expr GROUP BY
    * keys SET …` merge behaviour: states matching `expired` have key
    * columns REWRITTEN onto coarser values of the same column (e.g.
    * `event_day → trunc(event_day, "month")`) and re-merge under the
    * rewritten keys; live states — including rows where `expired`
    * evaluates to NULL (a null key never "matches" the TTL condition) —
    * pass through untouched. A [[compact]] variant: ONE pass rewrites
    * keys conditionally and one associative merge folds everything,
    * atomically swapped into the compacted subtree, so it is crash-safe
    * the same way and READER-INVISIBLE in shape — the key SCHEMA is
    * unchanged (the rewrite must keep each key's data type; use `trunc`,
    * not `date_trunc`, on dates), [[merged]] simply serves mixed
    * granularity, exactly like a CH part whose expired rows were
    * re-aggregated during a TTL merge. Every state type coarsens
    * losslessly by the [[mergeStatesAt]] closure; sketches keep their
    * usual bounds through the extra union. Old-enough history thereby
    * ages from O(days × keys) state rows to O(months × keys) without a
    * raw-data rescan, which is how the store's footprint stays bounded
    * over years of ingest. Idempotent: retired states no longer match a
    * sane time-based `expired` predicate (their key IS the coarse
    * value), and re-rewriting a coarse value is a fixpoint anyway.
    *
    * @param expired    predicate over the store's KEY columns
    * @param keyRewrite coarsening expression per key column (a key not
    *                   in the map passes through)
    */
  def retire(spark: SparkSession, path: String, expired: Column,
      keyRewrite: Map[String, Column], nFiles: Int = 1): Boolean =
    graft.core.WriterLease.withLease(spark, path) {
    val meta = readMeta(spark, path)
    if (meta.shardIds.isEmpty) return false
    require(keyRewrite.nonEmpty && keyRewrite.keys.forall(meta.keyNames.contains),
      s"keyRewrite columns ${keyRewrite.keys} must be store keys ${meta.keyNames}")
    // single pass: rewrite keys where the predicate HOLDS (NULL = live,
    // so a null key group is never silently dropped by 3-valued filters)
    val hit = coalesce(expired, lit(false))
    val rewritten = meta.keyNames.foldLeft(states(spark, path, meta).get) {
      case (df, k) => keyRewrite.get(k)
        .map(c => df.withColumn(k, when(hit, c).otherwise(col(k))))
        .getOrElse(df)
    }
    val merged = mergeStates(rewritten, meta)
    // names + types only: aggregate output nullability legitimately
    // differs from the recorded schema (parquet reads coerce it back)
    require(merged.schema.map(f => (f.name, f.dataType)) ==
        meta.stateSchema.get.map(f => (f.name, f.dataType)),
      s"keyRewrite changed the state schema to ${merged.schema} — rewrites " +
        s"must preserve each key's data type (store has ${meta.stateSchema.get})")
    // generation bump: coarsened history changes what the states MEAN
    swapCompacted(spark, path, meta, merged, nFiles, meta.generation + 1)
    // coarsened history no longer answers the ORIGINAL-grain defining
    // query — drop any live MV registration instead of serving it wrong
    graft.plans.MaterializedRollups.invalidateStore(path)
    true
  }
}
