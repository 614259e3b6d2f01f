package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.agg.AggStore
import graft.core.Tables

/** RollupRewrite contract: an aggregate over a registered raw table plans
  * through the store's merged states (raw scan GONE from the plan) and
  * stays bit-identical to the from-raw answer; every mismatch — unknown
  * aggregate shape, foreign measure, non-key filter, missing/drifted
  * store — falls back to the raw plan, never to an error. */
class RollupRewriteSpec extends SparkSpec {

  private def events = Tables.load(spark, sf001, "events")

  private val keyExprs = Seq(
    "event_type" -> col("event_type"),
    "event_day" -> to_date(col("ts")))
  private val measureExprs = Seq("value" -> col("value"))

  private def buildStore(store: String): Unit =
    (0L to 2L).foreach { i =>
      AggStore.appendMeasures(spark, store,
        events.filter(pmod(col("event_id"), lit(3L)) === i)
          .select(col("event_type"), to_date(col("ts")).as("event_day"),
            col("value")),
        keys = Seq("event_type", "event_day"),
        measures = Seq("value" -> col("value")),
        shardId = s"b_$i")
    }

  private def rawAgg: DataFrame =
    events.groupBy(col("event_type"), to_date(col("ts")).as("event_day"))
      .agg(count(lit(1)).as("n"),
        sum(AggStore.micros(col("value"))).as("sum_micros"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))

  private def scansRaw(df: DataFrame): Boolean =
    MaterializedRollups.scanPaths(df).exists(_.contains("events.parquet"))

  private def asSet(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def withStore(f: String => Unit): Unit = {
    val store = tmpDir("rollup_rw")
    try { buildStore(store); f(store) }
    finally MaterializedRollups.clear()
  }

  test("full-key aggregate plans through the store and matches from-raw") {
    val expected = asSet(rawAgg) // registry empty: the plain plan
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = rawAgg
      assert(!scansRaw(df), "raw fixture still scanned after rewrite")
      assert(MaterializedRollups.scanPaths(df).exists(_.contains(store)),
        "store states not scanned")
      assert(asSet(df) == expected)
    }
  }

  test("key-subset aggregate rewrites through mergedAt (cascaded MV read)") {
    val coarse = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(AggStore.micros(col("value"))).as("sum_micros"))
    val expected = asSet(coarse)
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("sum_micros"))
      assert(!scansRaw(df))
      assert(asSet(df) == expected)
    }
  }

  test("derived grouping over a key rewrites through mergedBy (read-time re-grain)") {
    val regrain = events.groupBy(col("event_type"),
        trunc(to_date(col("ts")), "month").as("event_month"))
      .agg(count(lit(1)).as("n"),
        sum(AggStore.micros(col("value"))).as("sum_micros"),
        min(col("value")).as("min_v"))
    val expected = asSet(regrain)
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = events.groupBy(col("event_type"),
          trunc(to_date(col("ts")), "month").as("event_month"))
        .agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("sum_micros"),
          min(col("value")).as("min_v"))
      assert(!scansRaw(df), "month-of-day grouping should regroup the daily states")
      assert(asSet(df) == expected)
      // a derived grouping over NON-key data must fall back
      val foreign = events.groupBy((col("user_id") % 10).as("b"))
        .agg(count(lit(1)).as("n"))
      assert(scansRaw(foreign))
    }
  }

  test("extra filter on a grouping key applies post-merge") {
    val expected = asSet(rawAgg.filter(col("event_type") === "click"))
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = events.filter(col("event_type") === "click")
        .groupBy(col("event_type"), to_date(col("ts")).as("event_day"))
        .agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("sum_micros"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      assert(!scansRaw(df), "key-only filter should not block the rewrite")
      assert(asSet(df) == expected)
    }
  }

  test("non-key filter falls back to the raw plan (still correct)") {
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = events.filter(col("user_id") > 10)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(scansRaw(df), "a filter the store did not bake in must disable the rewrite")
      assert(df.count() > 0)
    }
  }

  test("foreign measure / unsupported aggregate falls back") {
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      // sum over a column the store never folded
      val foreign = events.groupBy(col("event_type"))
        .agg(sum(AggStore.micros(col("user_id"))).as("s"))
      assert(scansRaw(foreign))
      // a PLAIN double sum (not the micro-unit form) is order-dependent —
      // the exact integer states cannot reproduce it bit-for-bit
      val plainSum = events.groupBy(col("event_type"))
        .agg(sum(col("value")).as("s"))
      assert(scansRaw(plainSum))
      // stddev is not in the state algebra → no rewrite
      val sd = events.groupBy(col("event_type"))
        .agg(stddev(col("value")).as("sd"))
      assert(scansRaw(sd))
      // exact distinct aggregates are not in the state algebra → no rewrite
      val dist = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("d"))
      assert(scansRaw(dist))
      // approx_count_distinct without a registered distinct column → no rewrite
      val acd = events.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("d"))
      assert(scansRaw(acd))
    }
  }

  test("registered filter must be present in the query (narrower store never answers wider query)") {
    val store = tmpDir("rollup_rw_filter")
    val cutoff = lit("2024-01-10").cast("date")
    try {
      val filtered = events.filter(to_date(col("ts")) < cutoff)
      (0L to 1L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          filtered.filter(pmod(col("event_id"), lit(2L)) === i)
            .select(col("event_type"), col("value")),
          keys = Seq("event_type"),
          measures = Seq("value" -> col("value")), shardId = s"b_$i")
      }
      MaterializedRollups.register(events, store,
        keys = Seq("event_type" -> col("event_type")),
        measures = measureExprs,
        filter = Some(to_date(col("ts")) < cutoff))
      // query WITH the defining filter → rewrite, matches from-raw
      val expected = asSet(filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")))
      val hit = events.filter(to_date(col("ts")) < cutoff)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      assert(!scansRaw(hit))
      assert(asSet(hit) == expected)
      // query WITHOUT it → must NOT read the narrower store
      val miss = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      assert(scansRaw(miss))
    } finally MaterializedRollups.clear()
  }

  test("store drift falls back to raw: missing path and missing measure") {
    withStore { store =>
      // registration points at a path with no store at all
      MaterializedRollups.register(events, tmpDir("rollup_rw_gone"),
        keyExprs, measureExprs)
      val df = rawAgg
      assert(scansRaw(df), "a missing store must fall back, not fail")
      assert(df.count() > 0)
      MaterializedRollups.clear()
      // registration promises a measure the store does not carry
      MaterializedRollups.register(events, store,
        keyExprs, Seq("other" -> col("value")))
      val df2 = events.groupBy(col("event_type"))
        .agg(sum(AggStore.micros(col("value"))).as("s"))
      assert(scansRaw(df2), "a drifted store (state column missing) must fall back")
      assert(df2.count() > 0)
    }
  }

  test("sum null parity: an all-null group reads NULL through the store") {
    val rawDir = tmpDir("rollup_rw_nulls") + "/t.parquet"
    import spark.implicits._
    Seq(("a", Some(1.0)), ("a", Some(2.0)), ("b", None), ("b", None))
      .toDF("k", "v").write.parquet(rawDir)
    val raw = spark.read.parquet(rawDir)
    val store = tmpDir("rollup_rw_nullstore")
    try {
      AggStore.appendMeasures(spark, store, raw, keys = Seq("k"),
        measures = Seq("v" -> col("v")), shardId = "s0")
      val expected = asSet(raw.groupBy(col("k"))
        .agg(sum(AggStore.micros(col("v"))).as("s"), min(col("v")).as("mn")))
      MaterializedRollups.register(raw, store,
        keys = Seq("k" -> col("k")), measures = Seq("v" -> col("v")))
      val df = raw.groupBy(col("k"))
        .agg(sum(AggStore.micros(col("v"))).as("s"), min(col("v")).as("mn"))
      assert(!MaterializedRollups.scanPaths(df).exists(_.contains("t.parquet")))
      assert(asSet(df) == expected, "all-null group must read NULL, not 0")
    } finally MaterializedRollups.clear()
  }

  test("store maintenance that changes state meaning invalidates the registration") {
    val expected = asSet(rawAgg)
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      assert(!scansRaw(rawAgg))
      // TTL retirement coarsens old days onto months: the store no longer
      // answers the full-grain defining query — the rewrite must NOT keep
      // serving it (silently wrong history); raw plan returns, answer exact
      AggStore.retire(spark, store,
        expired = col("event_day") < lit("2100-01-01").cast("date"),
        keyRewrite = Map("event_day" -> trunc(col("event_day"), "month")))
      val df = rawAgg
      assert(scansRaw(df), "a retired store must not keep answering the original grain")
      assert(asSet(df) == expected)
    }
    // migrate reshapes measures: same invalidation contract
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      assert(!scansRaw(rawAgg))
      AggStore.migrate(spark, store,
        Seq("value" -> col("value"), "extra" -> (col("value") + 1)), raw = null)
      assert(scansRaw(rawAgg), "a migrated store must require re-registration")
    }
  }

  test("unregister restores the raw plan") {
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      assert(!scansRaw(rawAgg))
      MaterializedRollups.unregister(events)
      assert(scansRaw(rawAgg))
    }
  }

  // ------------------------------------------------------------------
  // round-11 arms: widened vocabulary, freshness, durability, joins
  // ------------------------------------------------------------------

  test("avg and count(measure) rewrite to the exact micro-avg / cnt states") {
    // the documented contract: the rewritten avg is the EXACT micro-unit
    // avg (sum_u/1e6/cnt) — deterministic and order-independent where the
    // raw float-sum avg is not; the oracle recomputes the same formula
    val expected = asSet(events.groupBy(col("event_type"))
      .agg((sum(AggStore.micros(col("value"))) / lit(1e6) /
        count(col("value"))).as("avg_v"),
        count(col("value")).as("nv")))
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = events.groupBy(col("event_type"))
        .agg(avg(col("value")).as("avg_v"), count(col("value")).as("nv"))
      assert(!scansRaw(df), "avg over a registered measure should rewrite")
      assert(asSet(df) == expected)
    }
  }

  test("avg null handling: all-null group reads NULL, mixed group divides by cnt") {
    val rawDir = tmpDir("rollup_rw_avgnull") + "/t.parquet"
    import spark.implicits._
    Seq(("a", Some(1.0)), ("a", None), ("a", Some(2.0)), ("b", None))
      .toDF("k", "v").write.parquet(rawDir)
    val raw = spark.read.parquet(rawDir)
    val store = tmpDir("rollup_rw_avgnullstore")
    try {
      AggStore.appendMeasures(spark, store, raw, keys = Seq("k"),
        measures = Seq("v" -> col("v")), shardId = "s0")
      MaterializedRollups.register(raw, store,
        keys = Seq("k" -> col("k")), measures = Seq("v" -> col("v")))
      val df = raw.groupBy(col("k")).agg(avg(col("v")).as("a"))
      assert(!MaterializedRollups.scanPaths(df).exists(_.contains("t.parquet")))
      val m = df.collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(1)) null else Double.box(r.getDouble(1)))).toMap
      assert(m("a") == 1.5, "mixed group must divide by the NON-NULL count")
      assert(m("b") == null, "all-null group must read NULL like raw avg")
    } finally MaterializedRollups.clear()
  }

  test("approx_count_distinct rewrites to the HLL state under the accuracy contract") {
    val store = tmpDir("rollup_rw_acd")
    try {
      (0L to 2L).foreach { i =>
        AggStore.append(spark, store,
          events.filter(pmod(col("event_id"), lit(3L)) === i)
            .select(col("event_type"), col("user_id"), col("value")),
          keys = Seq("event_type"), valueCol = "value",
          shardId = s"b_$i", distinctCol = "user_id")
      }
      MaterializedRollups.register(events, store,
        keys = Seq("event_type" -> col("event_type")),
        measures = measureExprs, distinct = Some(col("user_id")))
      val df = events.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("d"))
      assert(!scansRaw(df), "approx_count_distinct over the registered " +
        "distinct column should read the HLL state")
      // accuracy contract (q160 discipline): within 5% of exact
      val exact = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("x"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      df.collect().foreach { r =>
        val (t, est) = (r.getString(0), r.getLong(1))
        assert(math.abs(est - exact(t)) <= math.max(1L, (exact(t) * 0.05).toLong),
          s"estimate $est too far from exact ${exact(t)} for $t")
      }
    } finally MaterializedRollups.clear()
  }

  test("approx_percentile rewrites to the GK state at ANY literal probe; the array form falls back") {
    val store = tmpDir("rollup_rw_q")
    try {
      (0L to 2L).foreach { i =>
        AggStore.append(spark, store,
          events.filter(pmod(col("event_id"), lit(3L)) === i)
            .select(col("event_type"), col("value")),
          keys = Seq("event_type"), valueCol = "value",
          shardId = s"b_$i", quantileCol = "value")
      }
      MaterializedRollups.register(events, store,
        keys = Seq("event_type" -> col("event_type")),
        measures = measureExprs, quantile = Some(col("value")))
      val df = events.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"))
      assert(!scansRaw(df), "p50 should read the merged GK sketch")
      // rank contract (q164 discipline): estimate's rank within eps·n+2 of n/2
      val eps = graft.functions.expressions.QuantileSketchAggregate.DefaultEps
      val est = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).collect().foreach { r =>
        val t = r.getString(0); val n = r.getLong(1)
        val le = events.filter(col("event_type") === t &&
          col("value") <= est(t)).count()
        val lt = events.filter(col("event_type") === t &&
          col("value") < est(t)).count()
        val slack = eps * n + 2
        val target = math.ceil(0.5 * n)
        assert(lt + 1 <= target + slack && le >= target - slack,
          s"p50 estimate ${est(t)} violates the GK rank window for $t")
      }
      // ARBITRARY probes (round-11 continuation): any probe list makes
      // the store read finish the merged sketch at exactly those probes
      // — same GK rank contract, checked at the quartiles
      val any = events.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.25), lit(10000)).as("p25"),
          percentile_approx(col("value"), lit(0.75), lit(10000)).as("p75"))
      assert(!scansRaw(any), "arbitrary probes should read the merged GK sketch")
      val est2 = any.collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).collect().foreach { r =>
        val t = r.getString(0); val n = r.getLong(1)
        for ((p, e) <- Seq(0.25 -> est2(t)._1, 0.75 -> est2(t)._2)) {
          val le = events.filter(col("event_type") === t && col("value") <= e).count()
          val lt = events.filter(col("event_type") === t && col("value") < e).count()
          val slack = eps * n + 2
          val target = math.ceil(p * n)
          assert(lt + 1 <= target + slack && le >= target - slack,
            s"p=$p estimate $e violates the GK rank window for $t")
        }
      }
      // the ARRAY form still falls back (per-element serving would need
      // array assembly with exact type parity — conservatively raw)
      val off = events.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"),
          array(lit(0.25), lit(0.5)), lit(10000)).as("p"))
      assert(scansRaw(off))
    } finally MaterializedRollups.clear()
  }

  test("max_by rewrites to the argmax state when ordinal+arg match") {
    val ord = struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"))
    val store = tmpDir("rollup_rw_maxby")
    try {
      (0L to 2L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          events.filter(pmod(col("event_id"), lit(3L)) === i)
            .select(col("event_type"), col("ts"), col("event_id"), col("value")),
          keys = Seq("event_type"), measures = measureExprs,
          shardId = s"b_$i", argMax = Seq(("latest", ord, col("value"))))
      }
      MaterializedRollups.register(events, store,
        keys = Seq("event_type" -> col("event_type")),
        measures = measureExprs,
        argMax = Seq(("latest", ord, col("value"))))
      val expected = asSet(events.groupBy(col("event_type"))
        .agg(max_by(col("value"), ord).as("latest_value")))
      val df = events.groupBy(col("event_type"))
        .agg(max_by(col("value"), ord).as("latest_value"))
      assert(!scansRaw(df), "max_by with the registered ordinal should read the argmax state")
      assert(asSet(df) == expected)
      // a different ordinal must fall back
      val off = events.groupBy(col("event_type"))
        .agg(max_by(col("value"), col("user_id")).as("v"))
      assert(scansRaw(off))
    } finally MaterializedRollups.clear()
  }

  test("min_by rewrites to the argmin state (the argMin twin)") {
    val ord = struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"))
    val store = tmpDir("rollup_rw_minby")
    try {
      (0L to 2L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          events.filter(pmod(col("event_id"), lit(3L)) === i)
            .select(col("event_type"), col("ts"), col("event_id"), col("value")),
          keys = Seq("event_type"), measures = measureExprs,
          shardId = s"b_$i", argMin = Seq(("first", ord, col("value"))))
      }
      MaterializedRollups.register(events, store,
        keys = Seq("event_type" -> col("event_type")),
        measures = measureExprs,
        argMin = Seq(("first", ord, col("value"))))
      val expected = asSet(events.groupBy(col("event_type"))
        .agg(min_by(col("value"), ord).as("first_value")))
      val df = events.groupBy(col("event_type"))
        .agg(min_by(col("value"), ord).as("first_value"))
      assert(!scansRaw(df), "min_by with the registered ordinal should read the argmin state")
      assert(asSet(df) == expected)
      // max_by over an argMIN-only store must fall back (no argmax state)
      val off = events.groupBy(col("event_type"))
        .agg(max_by(col("value"), ord).as("v"))
      assert(scansRaw(off))
    } finally MaterializedRollups.clear()
  }

  test("raw-freshness guard: files appended to the raw table after register() fall back") {
    val rawDir = tmpDir("rollup_rw_fresh") + "/t.parquet"
    events.select(col("event_type"), to_date(col("ts")).as("event_day"),
      col("value")).limit(500).write.parquet(rawDir)
    val store = tmpDir("rollup_rw_freshstore")
    try {
      val raw = spark.read.parquet(rawDir)
      AggStore.appendMeasures(spark, store, raw,
        keys = Seq("event_type", "event_day"), measures = Seq("value" -> col("value")),
        shardId = "s0")
      MaterializedRollups.register(raw, store,
        keys = Seq("event_type" -> col("event_type"),
          "event_day" -> col("event_day")),
        measures = Seq("value" -> col("value")))
      def agg(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(!MaterializedRollups.scanPaths(agg(spark.read.parquet(rawDir)))
        .exists(_.contains("t.parquet")))
      // grow the raw table AFTER registration: the states are now missing
      // rows — the rewrite must fall back, and the answer must include them
      events.select(col("event_type"), to_date(col("ts")).as("event_day"),
        col("value")).limit(100).write.mode("append").parquet(rawDir)
      val fresh = spark.read.parquet(rawDir)
      assert(MaterializedRollups.scanPaths(agg(fresh)).exists(_.contains("t.parquet")),
        "a grown raw table must fall back to the raw plan")
      assert(agg(fresh).agg(sum(col("n"))).head().getLong(0) == 600L)
    } finally MaterializedRollups.clear()
  }

  test("realtime arm: pure growth serves states ⊎ new-files tail; other drift still falls back") {
    val dir = tmpDir("rollup_rw_rt")
    val rawDir = s"$dir/t.parquet"
    val store = s"$dir/store"
    events.select(col("event_type"), to_date(col("ts")).as("event_day"),
      col("value")).limit(500).write.parquet(rawDir)
    try {
      val base = spark.read.parquet(rawDir)
      AggStore.appendMeasures(spark, store, base,
        keys = Seq("event_type", "event_day"),
        measures = Seq("value" -> col("value")), shardId = "s0")
      MaterializedRollups.register(base, store,
        keys = Seq("event_type" -> col("event_type"),
          "event_day" -> col("event_day")),
        measures = Seq("value" -> col("value")))
      val baseFiles = new java.io.File(rawDir).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
      // grow the raw table WITHOUT an ingest
      events.select(col("event_type"), to_date(col("ts")).as("event_day"),
        col("value")).limit(700)
        .write.mode("append").parquet(rawDir)
      val tailFiles = new java.io.File(rawDir).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet -- baseFiles
      def q = spark.read.parquet(rawDir)
        .groupBy(col("event_type"), col("event_day"))
        .agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("s"),
          avg(col("value")).as("a"))
      val paths = MaterializedRollups.scanPaths(q)
      val rawScans = paths.filter(_.contains("t.parquet"))
        .map(_.split("/").last).toSet
      assert(paths.exists(_.contains("store")) && rawScans == tailFiles,
        s"realtime arm did not fire: raw scans $rawScans vs tail $tailFiles")
      // bit parity vs the from-raw answer over the GROWN table: the
      // expected side carries a stddev column the rewrite rejects, so it
      // provably runs the raw plan (same micro-avg expression both sides)
      val fallback = spark.read.parquet(rawDir)
        .groupBy(col("event_type"), col("event_day"))
        .agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("s"),
          (sum(AggStore.micros(col("value"))) / lit(1e6) /
            count(col("value"))).as("a"),
          stddev(col("value")).as("__x"))
      // a raw plan scans the DIRECTORY (one root path); the tail plan
      // scans individual files — endsWith distinguishes them
      assert(MaterializedRollups.scanPaths(fallback)
        .exists(_.endsWith("t.parquet")), "the expected side must run from raw")
      val expected = fallback.drop("__x").collect().map(_.toSeq).toSet
      assert(asSet(q) == expected,
        "states ⊎ new-files tail must be bit-identical to from-raw")
      // SUBSET and DERIVED groupings under growth serve through the same
      // lambda union (states ∪ tail regroup losslessly at coarser keys)
      val coarse = spark.read.parquet(rawDir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("s"))
      val coarseScans = MaterializedRollups.scanPaths(coarse)
        .filter(_.contains("t.parquet")).map(_.split("/").last).toSet
      assert(coarseScans == tailFiles,
        s"subset grouping should ride the tail arm, scans $coarseScans")
      val coarseExpected = spark.read.parquet(rawDir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("value"))).as("s"),
          stddev(col("value")).as("__x")).drop("__x")
        .collect().map(_.toSeq).toSet
      assert(asSet(coarse) == coarseExpected)
      val regrain = spark.read.parquet(rawDir)
        .groupBy(trunc(col("event_day"), "month").as("m"))
        .agg(count(lit(1)).as("n"))
      assert(MaterializedRollups.scanPaths(regrain)
        .filter(_.contains("t.parquet")).map(_.split("/").last).toSet == tailFiles,
        "derived grouping should ride the tail arm")
      // a REMOVED base file is not pure growth: full fallback
      val victim = new java.io.File(rawDir).listFiles()
        .filter(f => baseFiles.contains(f.getName)).head
      assert(victim.delete())
      assert(MaterializedRollups.scanPaths(q).exists(_.endsWith("t.parquet")),
        "a removed file must fall back to raw")
    } finally MaterializedRollups.clear()
  }

  test("durable catalog load: a second thread arriving mid-load waits for the registrations") {
    graft.core.FaultFs.install(spark)
    val catalog = graft.core.FaultFs.uri(tmpDir("rollup_rw_catalog_race"))
    spark.conf.set("spark.graft.mv.catalog", catalog)
    try withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      MaterializedRollups.clear() // a new session: the load is still to come
      val entered = graft.core.FaultFs.holdListing(
        new org.apache.hadoop.fs.Path(catalog).toUri.getPath)
      @volatile var seenByB: Option[Boolean] = None
      val a = new Thread(() => MaterializedRollups.ensureLoaded(spark))
      val b = new Thread(() => {
        MaterializedRollups.ensureLoaded(spark)
        seenByB = Some(!MaterializedRollups.isEmpty)
      })
      try {
        a.start()
        assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS), "the load never listed")
        b.start()
        b.join(500) // thread A is frozen mid-load: B must not be done yet
        assert(seenByB.isEmpty, "returned before the load finished, registrations seen: " + seenByB)
      } finally graft.core.FaultFs.unhold()
      a.join(); b.join()
      assert(seenByB.contains(true))
      assert(!scansRaw(rawAgg))
    } finally spark.conf.unset("spark.graft.mv.catalog")
  }

  test("durable registration survives a session boundary and generation-checks at load") {
    val catalog = tmpDir("rollup_rw_catalog")
    spark.conf.set("spark.graft.mv.catalog", catalog)
    val expected = asSet(rawAgg)
    try {
      withStore { store =>
        MaterializedRollups.register(events, store, keyExprs, measureExprs)
        assert(!scansRaw(rawAgg))
        // "new session": in-memory registry wiped; the durable catalog
        // must restore the registration on first use
        MaterializedRollups.clear()
        val df = rawAgg
        assert(!scansRaw(df), "durable registration should reload after clear()")
        assert(asSet(df) == expected)
        // session B retires the store: generation bumps, durable reg
        // deleted — session A's next query must scan raw again
        AggStore.retire(spark, store,
          expired = col("event_day") < lit("2100-01-01").cast("date"),
          keyRewrite = Map("event_day" -> trunc(col("event_day"), "month")))
        MaterializedRollups.clear()
        assert(scansRaw(rawAgg), "retired store must not serve after reload")
        assert(asSet(rawAgg) == expected)
      }
      // STALE durable registration (written for generation 0, store since
      // moved on, the in-band delete lost): load must drop it, not serve it
      withStore { store =>
        MaterializedRollups.register(events, store, keyExprs, measureExprs)
        // snapshot the durable reg, retire (deletes it + bumps gen), put
        // the stale snapshot back — the cross-session hazard
        val fsPath = new org.apache.hadoop.fs.Path(catalog)
        val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val regDir = fs.listStatus(fsPath).map(_.getPath)
          .filter(_.getName.startsWith("reg_")).head
        val snap = new org.apache.hadoop.fs.Path(catalog, "snap")
        org.apache.hadoop.fs.FileUtil.copy(fs, regDir, fs, snap, false,
          spark.sparkContext.hadoopConfiguration)
        AggStore.retire(spark, store,
          expired = col("event_day") < lit("2100-01-01").cast("date"),
          keyRewrite = Map("event_day" -> trunc(col("event_day"), "month")))
        org.apache.hadoop.fs.FileUtil.copy(fs, snap, fs, regDir, false,
          spark.sparkContext.hadoopConfiguration)
        MaterializedRollups.clear()
        assert(scansRaw(rawAgg),
          "a stale durable registration (generation moved) must be dropped at load")
        assert(asSet(rawAgg) == expected)
        assert(!fs.exists(regDir), "the stale durable registration should be deleted")
      }
    } finally {
      spark.conf.unset("spark.graft.mv.catalog")
      MaterializedRollups.clear()
    }
  }

  test("agg over an inner equi-join rewrites through a store keyed on dim columns") {
    val orders = Tables.load(spark, sf001, "orders")
    val customer = Tables.load(spark, sf001, "customer")
    val joined = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val store = tmpDir("rollup_rw_join")
    try {
      (0L to 1L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          joined.filter(pmod(col("o_orderkey"), lit(2L)) === i),
          keys = Seq("c_nationkey"),
          measures = Seq("price" -> col("o_totalprice")), shardId = s"b_$i")
      }
      MaterializedRollups.register(joined, store,
        keys = Seq("c_nationkey" -> col("c_nationkey")),
        measures = Seq("price" -> col("o_totalprice")))
      def q = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(AggStore.micros(col("o_totalprice"))).as("price_u"))
      val expected = { MaterializedRollups.clear(); asSet(q) }
      MaterializedRollups.register(joined, store,
        keys = Seq("c_nationkey" -> col("c_nationkey")),
        measures = Seq("price" -> col("o_totalprice")))
      val df = q
      val paths = MaterializedRollups.scanPaths(df)
      assert(!paths.exists(p => p.contains("orders.parquet") ||
        p.contains("customer.parquet")),
        s"join rewrite did not fire — plan scans $paths")
      assert(asSet(df) == expected)
      // a DIFFERENT join condition must fall back
      val off = orders.join(customer, col("o_custkey") === col("c_nationkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(MaterializedRollups.scanPaths(off).exists(_.contains("orders.parquet")))
    } finally MaterializedRollups.clear()
  }

  test("ROLLUP/CUBE/global aggregates rewrite to a union of per-set store reads") {
    def roll = events.rollup(col("event_type"), to_date(col("ts")).as("event_day"))
      .agg(count(lit(1)).as("n"),
        sum(AggStore.micros(col("value"))).as("sum_micros"),
        min(col("value")).as("min_v"))
    def cubeQ = events.cube(col("event_type"), to_date(col("ts")).as("event_day"))
      .agg(count(lit(1)).as("n"),
        sum(AggStore.micros(col("value"))).as("sum_micros"))
    def global = events.agg(count(lit(1)).as("n"),
      sum(AggStore.micros(col("value"))).as("sum_micros"),
      max(col("value")).as("max_v"))
    val (expRoll, expCube, expGlobal) = (asSet(roll), asSet(cubeQ), asSet(global))
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val r = roll
      assert(!scansRaw(r), "ROLLUP did not rewrite")
      assert(asSet(r) == expRoll, "ROLLUP mismatch vs raw")
      val c = cubeQ
      assert(!scansRaw(c), "CUBE did not rewrite")
      assert(asSet(c) == expCube, "CUBE mismatch vs raw")
      val g = global
      assert(!scansRaw(g), "global aggregate did not rewrite")
      assert(asSet(g) == expGlobal, "global aggregate mismatch vs raw")
      // a rollup including a NON-key dimension must fall back whole — a
      // partial union would be wrong, not conservative
      val off = events.rollup(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      assert(scansRaw(off), "non-key rollup must not rewrite")
    }
  }

  test("count(DISTINCT key-derived) rewrites through a finer-grain states read") {
    def q = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        sum(AggStore.micros(col("value"))).as("s"),
        min(col("value")).as("min_v"))
    val expected = asSet(q)
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = q
      assert(!scansRaw(df), "count(distinct key) did not rewrite")
      assert(asSet(df) == expected, "distinct-count re-aggregation mismatch")
      // distinct over a DERIVED key expression (re-grain + distinct)
      val regrain = events.groupBy(col("event_type"))
        .agg(countDistinct(trunc(to_date(col("ts")), "month")).as("n_months"))
      assert(!scansRaw(regrain), "derived distinct did not rewrite")
      assert(regrain.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        { MaterializedRollups.clear()
          val e = events.groupBy(col("event_type"))
            .agg(countDistinct(trunc(to_date(col("ts")), "month")).as("n_months"))
            .collect().map(r => (r.getString(0), r.getLong(1))).toSet
          MaterializedRollups.register(events, store, keyExprs, measureExprs); e })
      // GLOBAL distinct count (no grouping) takes the const-group path
      val g = events.agg(countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n"))
      assert(!scansRaw(g), "global distinct did not rewrite")
      assert(g.head().getLong(0) > 0 && g.head().getLong(1) == events.count())
      // ROLLUP + distinct: every grouping set takes the finer-grain path
      val roll = events.rollup(col("event_type"))
        .agg(countDistinct(to_date(col("ts"))).as("n_days"))
      assert(!scansRaw(roll), "rollup distinct did not rewrite")
      MaterializedRollups.clear()
      val rollExp = asSet(events.rollup(col("event_type"))
        .agg(countDistinct(to_date(col("ts"))).as("n_days")))
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      assert(asSet(roll) == rollExp)
      // a NON-key distinct column must fall back
      val off = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("d"))
      assert(scansRaw(off), "non-key distinct must not rewrite")
    }
  }

  test("FILTER-clause aggregates (sumIf/countIf) rewrite via the finer-grain read") {
    def q = events.groupBy(to_date(col("ts")).as("event_day"))
      .agg(count(lit(1)).as("n"),
        expr("count(*) FILTER (WHERE event_type = 'click')").as("n_clicks"),
        expr("sum(CAST(FLOOR(value * 1e6) AS BIGINT)) FILTER (WHERE event_type = 'click')").as("click_u"),
        expr("min(value) FILTER (WHERE event_type = 'click')").as("click_min"),
        expr("count(*) FILTER (WHERE event_type = 'nosuch')").as("n_none"))
    val expected = asSet(q)
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = q
      assert(!scansRaw(df), "FILTER aggregates did not rewrite")
      assert(asSet(df) == expected,
        "sumIf/countIf re-aggregation mismatch (incl. the 0-vs-NULL count contract)")
      // a FILTER over non-key data must fall back
      val off = events.groupBy(col("event_type"))
        .agg(expr("count(*) FILTER (WHERE user_id > 5)").as("c"))
      assert(scansRaw(off), "non-key FILTER must not rewrite")
    }
  }

  test("variance family rewrites through moment states; a momentless store falls back") {
    val store = tmpDir("rollup_rw_var")
    try {
      (0L to 2L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          events.filter(pmod(col("event_id"), lit(3L)) === i)
            .select(col("event_type"), to_date(col("ts")).as("event_day"),
              col("value")),
          keys = Seq("event_type", "event_day"),
          measures = Seq("value" -> col("value")), shardId = s"b_$i",
          moments = Seq("value"))
      }
      MaterializedRollups.register(events, store, keyExprs, measureExprs,
        moments = Seq("value"))
      val df = events.groupBy(col("event_type"),
          to_date(col("ts")).as("event_day"))
        .agg(var_samp(col("value")).as("value_var"),
          var_pop(col("value")).as("value_var_pop"),
          stddev_samp(col("value")).as("value_std"),
          stddev_pop(col("value")).as("value_std_pop"))
      assert(!scansRaw(df), "variance family did not rewrite")
      // the served values are the store's own finished moment columns —
      // bit-identical (same expression over the same states)
      val expected = asSet(AggStore.merged(spark, store)
        .select(col("event_type"), col("event_day"), col("value_var"),
          col("value_var_pop"), col("value_std"), col("value_std_pop")))
      assert(df.collect().map(_.toSeq).toSet == expected)
      // and within float noise of the raw Welford answer (the documented
      // micro-arithmetic contract)
      MaterializedRollups.clear()
      val welford = df.collect().map(r => (r.getString(0),
        r.getDate(1).toString) -> r.getDouble(2)).toMap
      MaterializedRollups.register(events, store, keyExprs, measureExprs,
        moments = Seq("value"))
      val served = df.collect().map(r => (r.getString(0),
        r.getDate(1).toString) -> r.getDouble(2)).toMap
      served.foreach { case (k, v) =>
        assert(math.abs(v - welford(k)) <= 1e-6 * math.max(1.0, welford(k).abs),
          s"served var drifted from raw at $k")
      }
    } finally MaterializedRollups.clear()
    // a store WITHOUT the sum2 state must fall back, not misanswer
    withStore { store =>
      MaterializedRollups.register(events, store, keyExprs, measureExprs)
      val df = events.groupBy(col("event_type"))
        .agg(var_samp(col("value")).as("v"))
      assert(scansRaw(df), "momentless store must not serve var_samp")
    }
  }

  test("durable registration persists moment/co-moment fields across the session boundary") {
    val store = tmpDir("rollup_rw_mom_durable")
    val cat = tmpDir("rollup_rw_mom_cat")
    spark.conf.set("spark.graft.mv.catalog", cat)
    try {
      (0L to 1L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          events.filter(pmod(col("event_id"), lit(2L)) === i)
            .select(col("event_type"), col("value"), col("user_id")),
          keys = Seq("event_type"),
          measures = Seq("value" -> col("value")), shardId = s"b_$i",
          moments = Seq("value"),
          coMoments = Seq(("vu", col("value"), col("user_id"))))
      }
      MaterializedRollups.register(events, store,
        keys = Seq("event_type" -> col("event_type")),
        measures = Seq("value" -> col("value")),
        moments = Seq("value"),
        coMoments = Seq(("vu", col("value"), col("user_id"))))
      def q = events.groupBy(col("event_type"))
        .agg(var_samp(col("value")).as("v"),
          corr(col("value"), col("user_id")).as("c"))
      assert(!scansRaw(q))
      val served = asSet(q)
      // "session restart": in-memory registry wiped; the durable catalog
      // must reload the moment/co-moment fields and serve identically
      MaterializedRollups.clear()
      val reloaded = q
      assert(!scansRaw(reloaded),
        "durable reload lost the moment/co-moment registration")
      assert(asSet(reloaded) == served)
    } finally {
      MaterializedRollups.clear()
      spark.conf.unset("spark.graft.mv.catalog")
    }
  }

  test("corr/covar rewrite through co-moment states in either argument order") {
    val li = Tables.load(spark, sf001, "lineitem")
    val store = tmpDir("rollup_rw_corr")
    try {
      (0L to 1L).foreach { i =>
        AggStore.appendMeasures(spark, store,
          li.filter(pmod(col("l_orderkey"), lit(2L)) === i),
          keys = Seq("l_returnflag"),
          measures = Seq("qty" -> col("l_quantity")), shardId = s"b_$i",
          coMoments = Seq(("qp", col("l_quantity"), col("l_extendedprice"))))
      }
      MaterializedRollups.register(li, store,
        keys = Seq("l_returnflag" -> col("l_returnflag")),
        measures = Seq("qty" -> col("l_quantity")),
        coMoments = Seq(("qp", col("l_quantity"), col("l_extendedprice"))))
      val df = li.groupBy(col("l_returnflag"))
        .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
          covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"),
          covar_pop(col("l_quantity"), col("l_extendedprice")).as("cvp"))
      assert(!MaterializedRollups.scanPaths(df)
        .exists(_.contains("lineitem.parquet")), "corr did not rewrite")
      val expected = asSet(AggStore.merged(spark, store)
        .select(col("l_returnflag"), col("qp_corr"), col("qp_cov"),
          col("qp_cov_pop")))
      assert(df.collect().map(_.toSeq).toSet == expected)
      // swapped argument order still matches (the stats are symmetric)
      val swapped = li.groupBy(col("l_returnflag"))
        .agg(corr(col("l_extendedprice"), col("l_quantity")).as("c"))
      assert(!MaterializedRollups.scanPaths(swapped)
        .exists(_.contains("lineitem.parquet")), "swapped corr did not rewrite")
      // an UNREGISTERED pair must fall back
      val foreign = li.groupBy(col("l_returnflag"))
        .agg(corr(col("l_quantity"), col("l_discount")).as("c"))
      assert(MaterializedRollups.scanPaths(foreign)
        .exists(_.contains("lineitem.parquet")),
        "unregistered pair must not rewrite")
    } finally MaterializedRollups.clear()
  }
}
