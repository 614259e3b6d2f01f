package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** AggStore contract: incremental states merge to the exact from-raw
  * answer, appends are replay-idempotent, compaction is invisible to
  * readers, and the torn-compact crash window heals (the SeenStore
  * protocol, re-verified on this store because its write path is a
  * separate implementation). */
class AggStoreSpec extends SparkSpec {

  private def events = Tables.load(spark, sf001, "events")
    .select(col("event_id"), col("event_type"),
      to_date(col("ts")).as("event_day"), col("value"))

  private val keys = Seq("event_type", "event_day")

  private def fromRaw = events.groupBy(keys.map(col): _*).agg(
    count(lit(1)).as("n"),
    sum(AggStore.micros(col("value"))).as("sum_micros"),
    min(col("value")).as("min_v"), max(col("value")).as("max_v"))

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("event_type", "event_day", "n", "sum_micros", "min_v", "max_v")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet

  private def appendSplit(store: String, nShards: Int): Unit =
    (0L until nShards.toLong).foreach { i =>
      AggStore.append(spark, store,
        events.filter(pmod(col("event_id"), lit(nShards.toLong)) === i),
        keys, "value", s"batch_$i")
    }

  test("incremental merge reproduces the from-raw rollup bit-for-bit") {
    val store = tmpDir("agg_merge")
    appendSplit(store, 3)
    assert(asSet(AggStore.merged(spark, store)) == asSet(fromRaw))
    assert(AggStore.processedShards(spark, store) ==
      Set("batch_0", "batch_1", "batch_2"))
  }

  test("replaying a committed shard id is a no-op (even with different rows)") {
    val store = tmpDir("agg_replay")
    appendSplit(store, 3)
    val before = asSet(AggStore.merged(spark, store))
    // a replay never legitimately carries different rows; the guard must
    // hold anyway (crash-recovery replays the same shard id blindly)
    AggStore.append(spark, store, events.limit(10), keys, "value", "batch_1")
    assert(asSet(AggStore.merged(spark, store)) == before)
  }

  test("compact: reader-invisible, fewer files, replay history retained") {
    val store = tmpDir("agg_compact")
    appendSplit(store, 3)
    val before = asSet(AggStore.merged(spark, store))
    val filesBefore = graft.core.AtomicStore.dataFileCount(spark, s"$store/states")
    assert(AggStore.compact(spark, store))
    assert(asSet(AggStore.merged(spark, store)) == before,
      "compaction changed the merged read")
    assert(graft.core.AtomicStore.dataFileCount(spark, s"$store/states") < filesBefore)
    // long-gone shards still short-circuit after compaction
    assert(AggStore.processedShards(spark, store) ==
      Set("batch_0", "batch_1", "batch_2"))
  }

  test("append over a TORN compact heals first — pre-compact states survive") {
    val store = tmpDir("agg_torn")
    AggStore.append(spark, store,
      events.filter(pmod(col("event_id"), lit(2L)) === 0L), keys, "value", "s0")
    assert(AggStore.compact(spark, store))
    // crash between the compact swap's delete and rename
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$store/states"),
      new org.apache.hadoop.fs.Path(s"$store/states_tmp")))
    AggStore.append(spark, store,
      events.filter(pmod(col("event_id"), lit(2L)) === 1L), keys, "value", "s1")
    assert(asSet(AggStore.merged(spark, store)) == asSet(fromRaw),
      "pre-compact states were orphaned by the post-crash append")
  }

  test("key schema drift fails loudly, not with silent column soup") {
    val store = tmpDir("agg_schema")
    appendSplit(store, 2)
    val drifted = events.withColumn("event_day", col("event_day").cast("string"))
    val e = intercept[IllegalArgumentException] {
      AggStore.append(spark, store, drifted, keys, "value", "later")
    }
    assert(e.getMessage.contains("state schema mismatch"))
    // the distinct-sketch setting is part of the state schema: a shard
    // appended with a distinctCol into a sketch-less store must fail the
    // same way (a silent mix would corrupt every later merge)
    val e2 = intercept[IllegalArgumentException] {
      AggStore.append(spark, store, events, keys, "value", "later2",
        distinctCol = "event_id")
    }
    assert(e2.getMessage.contains("state schema mismatch"))
  }

  test("multi-measure states: merged ≡ from-raw for derived-expression measures, compact-invariant") {
    val li = Tables.load(spark, sf001, "lineitem")
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val store = tmpDir("agg_multi")
    (0L until 2L).foreach { i =>
      AggStore.appendMeasures(spark, store,
        li.filter(pmod(col("l_orderkey"), lit(2L)) === i),
        keys = Seq("l_returnflag"),
        measures = Seq("qty" -> col("l_quantity"), "disc_price" -> discPrice),
        shardId = s"s$i")
    }
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select("l_returnflag", "n", "qty_sum_u", "disc_price_sum_u",
        "qty_min", "disc_price_max")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    val fromRaw = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(AggStore.micros(col("l_quantity").cast("double"))).as("qty_sum_u"),
      sum(AggStore.micros(discPrice.cast("double"))).as("disc_price_sum_u"),
      min(col("l_quantity").cast("double")).as("qty_min"),
      max(discPrice.cast("double")).as("disc_price_max"))
    val viaStore = sig(AggStore.merged(spark, store))
    assert(viaStore == sig(fromRaw))
    // derived avg columns exist per measure
    val cols = AggStore.merged(spark, store).columns.toSet
    assert(Set("qty_avg", "disc_price_avg").subsetOf(cols), cols.toString)
    assert(AggStore.compact(spark, store))
    assert(sig(AggStore.merged(spark, store)) == viaStore)
    // reserved-name collision fails loudly at append time
    val e = intercept[IllegalArgumentException] {
      AggStore.appendMeasures(spark, tmpDir("agg_collide"),
        li.withColumnRenamed("l_returnflag", "qty_min"),
        keys = Seq("qty_min"), measures = Seq("qty" -> col("l_quantity")),
        shardId = "x")
    }
    assert(e.getMessage.contains("collide"))
  }

  test("argMax state: merged latest-per-key ≡ windowed from-raw, compact-invariant") {
    val ev = Tables.load(spark, sf001, "events")
    val store = tmpDir("agg_argmax")
    val ord = struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"))
    (0L until 3L).foreach { i =>
      AggStore.appendMeasures(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        keys = Seq("event_type"), measures = Seq("value" -> col("value")),
        shardId = s"s$i", argMax = Seq(("latest", ord, col("value"))))
    }
    def latest = AggStore.merged(spark, store)
      .select(col("event_type"), col("latest_argmax").getField("arg"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val fromRaw = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val viaStore = latest
    assert(viaStore == fromRaw)
    assert(AggStore.compact(spark, store))
    assert(latest == viaStore)
  }

  test("argMin state: merged first-per-key ≡ windowed from-raw, compact-invariant") {
    val ev = Tables.load(spark, sf001, "events")
    val store = tmpDir("agg_argmin")
    val ord = struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"))
    (0L until 3L).foreach { i =>
      AggStore.appendMeasures(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        keys = Seq("event_type"), measures = Seq("value" -> col("value")),
        shardId = s"s$i", argMin = Seq(("first", ord, col("value"))))
    }
    def first = AggStore.merged(spark, store)
      .select(col("event_type"), col("first_argmin").getField("arg"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    val fromRaw = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val viaStore = first
    assert(viaStore == fromRaw)
    assert(AggStore.compact(spark, store))
    assert(first == viaStore)
  }

  test("topK state: exact under capacity (≡ GROUP BY, compact-invariant); saturated keeps every true hitter") {
    import spark.implicits._
    val ev = Tables.load(spark, sf001, "events")
    // EXACT regime: 5 distinct event_types < k=8 — no decrement ever
    // fires in fold or merge, so kept counts ≡ the exact GROUP BY,
    // deterministically under any shard split (the q183 shape)
    val store2 = tmpDir("agg_topk_exact")
    (0L until 3L).foreach { i =>
      AggStore.append(spark, store2,
        ev.filter(pmod(col("event_id"), lit(3L)) === i)
          .select(to_date(col("ts")).as("event_day"), col("event_type"),
            col("value")),
        keys = Seq("event_day"), valueCol = "value", shardId = s"s$i",
        topK = ("event_type", 8))
    }
    def viaStore = AggStore.merged(spark, store2)
      .select(col("event_day"), explode(col("topk_items")).as("e"))
      .select(col("event_day"), col("e.item"), col("e.est"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    val exact = ev.groupBy(to_date(col("ts")).as("event_day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    val before = viaStore
    assert(before == exact, "under capacity the MG counts must be exact")
    assert(AggStore.compact(spark, store2))
    assert(viaStore == before, "compaction must be reader-invisible")
    // SATURATED regime with planted skew: 1 hot item at 60/120 of the
    // stream among 60 singletons, k=3 — the mergeable-summaries bound
    // (any item with f > n/(k+1) survives every fold/merge order) must
    // keep the hot item whatever the shard split
    val hotStore = tmpDir("agg_topk_hot")
    val rows = (1L to 60L).map(i => (i, "hot", 1.0)) ++
      (1L to 60L).map(i => (i + 60L, s"uniq_$i", 1.0))
    val df = rows.toDF("id", "tok", "v").withColumn("g", lit("all"))
    (0L until 3L).foreach { i =>
      AggStore.append(spark, hotStore,
        df.filter(pmod(col("id"), lit(3L)) === i).repartition(4),
        keys = Seq("g"), valueCol = "v", shardId = s"s$i",
        topK = ("tok", 3))
    }
    val kept = AggStore.merged(spark, hotStore)
      .select(explode(col("topk_items")).as("e"))
      .select(col("e.item")).collect().map(_.getString(0)).toSet
    assert(kept.contains("hot"),
      s"true heavy hitter lost from the saturated MG state (kept: $kept)")
  }

  test("mergedWithTail: history states ⊎ live tail ≡ from-raw; mismatched tail rejected") {
    val store = tmpDir("agg_tail")
    (0L until 2L).foreach { i =>
      AggStore.append(spark, store,
        events.filter(pmod(col("event_id"), lit(3L)) === i),
        keys, "value", s"batch_$i")
    }
    val tail = events.filter(pmod(col("event_id"), lit(3L)) === 2L)
    val rt = AggStore.mergedWithTail(spark, store, tail, keys, "value")
    assert(asSet(rt) == asSet(fromRaw))
    // a tail with drifted keys must fail against the recorded schema
    val e = intercept[IllegalArgumentException] {
      AggStore.mergedWithTail(spark, store, tail, Seq("event_type"), "value")
    }
    assert(e.getMessage.contains("do not match"))
  }

  test("distinct-sketch state: merged estimate ≡ single-pass sketch, exact at fixture cardinality, compact-invariant") {
    val store = tmpDir("agg_sketch")
    (0L until 3L).foreach { i =>
      AggStore.append(spark, store,
        events.filter(pmod(col("event_id"), lit(3L)) === i),
        keys, "value", s"batch_$i", distinctCol = "event_id")
    }
    def est = AggStore.merged(spark, store)
      .select("event_type", "event_day", "n", "n_distinct_est")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3))).toSet // estimate is LongType
    // event_id is unique per row → per-group distinct == n; HLL is exact
    // in sparse mode at these cardinalities (< 100 per group at sf0.001)
    val viaSketch = est
    assert(viaSketch.forall { case (_, _, n, d) => d == n },
      s"sketch estimates drifted from exact at sparse cardinality: " +
        viaSketch.filterNot { case (_, _, n, d) => d == n })
    // compaction unions the sketches; the merged read must not move
    assert(AggStore.compact(spark, store))
    assert(est == viaSketch)
  }

  test("sumMap state: merged maps ≡ from-raw key-wise sums bit-for-bit, compact- and tail-invariant") {
    val ev = Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("event_type"),
        to_date(col("ts")).as("event_day"), col("value"))
    val store = tmpDir("agg_summap")
    (0L until 3L).foreach { i =>
      AggStore.appendMeasures(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        keys = Seq("event_day"), measures = Seq("value" -> col("value")),
        shardId = s"s$i",
        sumMap = Seq(("by_type", col("event_type"), col("value"))))
    }
    def viaStore = AggStore.merged(spark, store)
      .select(col("event_day"),
        explode(col("by_type_summap")).as(Seq("event_type", "v")))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    val fromRaw = ev.groupBy("event_day", "event_type")
      .agg(sum(AggStore.micros(col("value"))).as("v"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    val before = viaStore
    assert(before == fromRaw)
    assert(AggStore.compact(spark, store))
    assert(viaStore == before)
    // realtime tail read carries the map state too
    val store2 = tmpDir("agg_summap_rt")
    (0L until 2L).foreach { i =>
      AggStore.appendMeasures(spark, store2,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        keys = Seq("event_day"), measures = Seq("value" -> col("value")),
        shardId = s"s$i",
        sumMap = Seq(("by_type", col("event_type"), col("value"))))
    }
    val rt = AggStore.mergedWithTailMeasures(spark, store2,
        ev.filter(pmod(col("event_id"), lit(3L)) === 2L),
        keys = Seq("event_day"), measures = Seq("value" -> col("value")),
        sumMap = Seq(("by_type", col("event_type"), col("value"))))
      .select(col("event_day"),
        explode(col("by_type_summap")).as(Seq("event_type", "v")))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rt == fromRaw)
    // the SINGLE-measure tail form restates the map state too (the
    // append/pipeline path builds such stores, so the lambda read must
    // be reachable for them)
    val store3 = tmpDir("agg_summap_rt1")
    (0L until 2L).foreach { i =>
      AggStore.append(spark, store3,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        Seq("event_day"), "value", s"s$i",
        sumMap = Seq(("by_type", col("event_type"), col("value"))))
    }
    val rt1 = AggStore.mergedWithTail(spark, store3,
        ev.filter(pmod(col("event_id"), lit(3L)) === 2L),
        Seq("event_day"), "value",
        sumMap = Seq(("by_type", col("event_type"), col("value"))))
      .select(col("event_day"),
        explode(col("by_type_summap")).as(Seq("event_type", "v")))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rt1 == fromRaw)
    // the map setting is part of the state schema — drift fails loudly
    val e = intercept[IllegalArgumentException] {
      AggStore.appendMeasures(spark, store, ev,
        keys = Seq("event_day"), measures = Seq("value" -> col("value")),
        shardId = "later")
    }
    assert(e.getMessage.contains("state schema mismatch"))
  }

  test("retire (TTL GROUP BY): expired states re-merge under rewritten keys; sketches ride through; appends continue") {
    val ev = Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("event_type"), col("user_id"),
        to_date(col("ts")).as("event_day"), col("value"))
    val cutoff = lit("2024-01-15").cast("date")
    val store = tmpDir("agg_retire")
    (0L until 2L).foreach { i =>
      AggStore.append(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        keys, "value", s"s$i", distinctCol = "user_id")
    }
    assert(AggStore.retire(spark, store,
      expired = col("event_day") < cutoff,
      keyRewrite = Map("event_day" -> trunc(col("event_day"), "month"))))
    // an append AFTER retirement folds in like any other shard — the
    // retired subtree is just the compacted shard
    AggStore.append(spark, store,
      ev.filter(pmod(col("event_id"), lit(3L)) === 2L),
      keys, "value", "s2", distinctCol = "user_id")
    val evRewr = ev.withColumn("event_day",
      when(col("event_day") < cutoff, trunc(col("event_day"), "month"))
        .otherwise(col("event_day")))
    def sigOf(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "event_day", "n", "sum_micros", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    // NOTE: the s2 shard appended post-retire keeps day grain for its
    // expired days; retire again to fold it, then compare from-raw
    assert(AggStore.retire(spark, store,
      expired = col("event_day") < cutoff,
      keyRewrite = Map("event_day" -> trunc(col("event_day"), "month"))))
    val expected = sigOf(evRewr.groupBy("event_type", "event_day").agg(
      count(lit(1)).as("n"),
      sum(AggStore.micros(col("value"))).as("sum_micros"),
      min(col("value")).as("min_v"), max(col("value")).as("max_v")))
    assert(sigOf(AggStore.merged(spark, store)) == expected)
    // the HLL state coarsened with the keys: per rewritten group the
    // estimate matches exact distinct (sparse-exact at this cardinality)
    val est = AggStore.merged(spark, store)
      .select("event_type", "event_day", "n_distinct_est")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val exact = evRewr.groupBy("event_type", "event_day")
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(est == exact)
    // retire is a fixpoint: running it again changes nothing
    assert(AggStore.retire(spark, store,
      expired = col("event_day") < cutoff,
      keyRewrite = Map("event_day" -> trunc(col("event_day"), "month"))))
    assert(sigOf(AggStore.merged(spark, store)) == expected)
    // a type-changing rewrite is rejected before anything is written
    val e = intercept[IllegalArgumentException] {
      AggStore.retire(spark, store, expired = col("event_day") < cutoff,
        keyRewrite = Map("event_day" -> date_trunc("month", col("event_day"))))
    }
    assert(e.getMessage.contains("data type"))
    // replay history survives retirement
    assert(AggStore.processedShards(spark, store) == Set("s0", "s1", "s2"))
  }

  test("expire (plain TTL): expired states drop; live states and replay history untouched") {
    val cutoff = lit("2024-01-15").cast("date")
    val store = tmpDir("agg_expire")
    appendSplit(store, 3)
    val liveExpected = asSet(fromRaw.filter(col("event_day") >= cutoff))
    assert(AggStore.expire(spark, store, expired = col("event_day") < cutoff))
    assert(asSet(AggStore.merged(spark, store)) == liveExpected)
    // idempotent; replay guard survives
    assert(AggStore.expire(spark, store, expired = col("event_day") < cutoff))
    assert(asSet(AggStore.merged(spark, store)) == liveExpected)
    assert(AggStore.processedShards(spark, store) ==
      Set("batch_0", "batch_1", "batch_2"))
  }

  test("expire/retire treat a NULL predicate as live — null-key groups survive the TTL") {
    import spark.implicits._
    val df = Seq((1L, Some("2024-01-01"), 1.0), (2L, None, 2.0),
        (3L, Some("2024-02-01"), 3.0))
      .toDF("id", "day_s", "v")
      .select(lit("t").as("event_type"),
        col("day_s").cast("date").as("event_day"), col("v").as("value"))
    val cutoff = lit("2024-02-01").cast("date")
    val store = tmpDir("agg_null_ttl")
    AggStore.append(spark, store, df, keys, "value", "s0")
    def days = AggStore.merged(spark, store).select("event_day", "n")
      .collect().map(r => Option(r.getDate(0)).map(_.toString) -> r.getLong(1)).toMap
    // retire: NULL < cutoff is NULL, not true — the null-day group must
    // pass through untouched, not vanish from the compacted tree
    assert(AggStore.retire(spark, store, col("event_day") < cutoff,
      Map("event_day" -> trunc(col("event_day"), "month"))))
    assert(days == Map(Some("2024-01-01") -> 1L, None -> 1L,
      Some("2024-02-01") -> 1L))
    // expire: only rows the condition actually MATCHES are removed
    assert(AggStore.expire(spark, store, col("event_day") < cutoff))
    assert(days == Map(None -> 1L, Some("2024-02-01") -> 1L))
  }

  test("uniqUpTo state: exact below the cap, sentinel N+1 beyond; compact/tail/coarsen/drift contracts") {
    val ev = Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("event_type"),
        to_date(col("ts")).as("event_day"), col("user_id"), col("value"))
    val exactByType = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exactByType.values.exists(_ > 4), "fixture must exceed the small cap")
    val store = tmpDir("agg_upto")
    (0L until 3L).foreach { i =>
      AggStore.append(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        Seq("event_type", "event_day"), "value", s"s$i",
        uniqUpTo = ("user_id", 3))
    }
    // coarsened: per-type distinct users all exceed 3 → sentinel 4
    def coarse = AggStore.mergedAt(spark, store, Seq("event_type"))
      .select("event_type", "n_distinct_upto")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(coarse == exactByType.map { case (k, d) => k -> math.min(d, 4L) })
    // at (type, day) grain most groups sit BELOW the cap — those counts
    // must be bit-equal to exact countDistinct, sentinel only above
    val fine = AggStore.merged(spark, store)
      .select("event_type", "event_day", "n_distinct_upto")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    val fineExact = ev.groupBy("event_type", "event_day")
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(fine == fineExact.map { case (k, d) => k -> math.min(d, 4L) })
    assert(fineExact.values.exists(_ <= 3), "need below-cap groups for the exact branch")
    // compact unions the capped sets — reader-invisible
    val before = fine
    assert(AggStore.compact(spark, store))
    assert(AggStore.merged(spark, store)
      .select("event_type", "event_day", "n_distinct_upto")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap == before)
    // realtime tail read carries the state
    val store2 = tmpDir("agg_upto_rt")
    (0L until 2L).foreach { i =>
      AggStore.append(spark, store2,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        Seq("event_type", "event_day"), "value", s"s$i",
        uniqUpTo = ("user_id", 3))
    }
    val rt = AggStore.mergedWithTail(spark, store2,
        ev.filter(pmod(col("event_id"), lit(3L)) === 2L),
        Seq("event_type", "event_day"), "value", uniqUpTo = ("user_id", 3))
      .select("event_type", "event_day", "n_distinct_upto")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
    assert(rt == before)
    // a different cap is a different state schema — drift fails loudly
    val e = intercept[IllegalArgumentException] {
      AggStore.append(spark, store, ev, Seq("event_type", "event_day"),
        "value", "later", uniqUpTo = ("user_id", 5))
    }
    assert(e.getMessage.contains("state schema mismatch"))
  }

  test("coarsened read: (type, day) states answer (type) exactly, incl. map and argMax states") {
    val ev = Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("event_type"), col("user_id"),
        to_date(col("ts")).as("event_day"), col("ts"), col("value"))
    val store = tmpDir("agg_coarsen")
    val ord = struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"))
    (0L until 3L).foreach { i =>
      AggStore.appendMeasures(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        keys = Seq("event_type", "event_day"),
        measures = Seq("value" -> col("value")),
        shardId = s"s$i",
        argMax = Seq(("latest", ord, col("value"))),
        sumMap = Seq(("by_user", col("user_id").cast("string"), col("value"))))
    }
    val coarse = AggStore.mergedAt(spark, store, Seq("event_type"))
    // exact states re-merge losslessly to the coarser key
    val scalars = coarse
      .select("event_type", "n", "value_sum_u", "value_min", "value_max")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val fromRaw = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(AggStore.micros(col("value").cast("double"))).as("su"),
      min(col("value").cast("double")).as("mn"),
      max(col("value").cast("double")).as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(scalars == fromRaw)
    // the map state coarsens by key-wise sum: per-type per-user totals
    val mapRows = coarse
      .select(col("event_type"), explode(col("by_user_summap")).as(Seq("u", "v")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val mapRaw = ev.groupBy(col("event_type"), col("user_id").cast("string").as("u"))
      .agg(sum(AggStore.micros(col("value").cast("double"))).as("v"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(mapRows == mapRaw)
    // the argMax state coarsens to latest-per-type (q163's semantics)
    val latest = coarse
      .select(col("event_type"), col("latest_argmax").getField("arg"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val latestRaw = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(latest == latestRaw)
    // keys outside the store's key set are rejected
    val e = intercept[IllegalArgumentException] {
      AggStore.mergedAt(spark, store, Seq("user_id"))
    }
    assert(e.getMessage.contains("subset"))
  }

  test("mergedBy: states regroup exactly under a DERIVED key expression; non-key refs rejected") {
    val ev = events
    val store = tmpDir("agg_merged_by")
    appendSplit(store, 3)
    // month-of-day re-grain ≡ from-raw GROUP BY the same expression
    val viaStates = AggStore.mergedBy(spark, store, Seq(
        "event_type" -> col("event_type"),
        "event_month" -> trunc(col("event_day"), "month")))
      .select("event_type", "event_month", "n", "sum_micros", "min_v", "max_v")
      .collect().map(_.toSeq).toSet
    val fromRawM = ev.groupBy(col("event_type"),
        trunc(col("event_day"), "month").as("event_month"))
      .agg(count(lit(1)).as("n"),
        sum(AggStore.micros(col("value"))).as("sum_micros"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .collect().map(_.toSeq).toSet
    assert(viaStates == fromRawM)
    // grouping by a STATE column would fold a value the merge is about to
    // recompute — rejected loudly, never silently wrong
    val e1 = intercept[IllegalArgumentException] {
      AggStore.mergedBy(spark, store, Seq("bad" -> col("n")))
    }
    assert(e1.getMessage.contains("non-key"))
    // grouping names must not shadow state names
    val e2 = intercept[IllegalArgumentException] {
      AggStore.mergedBy(spark, store, Seq("n" -> col("event_type")))
    }
    assert(e2.getMessage.contains("collide"))
  }

  test("quantile-sketch state: merged estimates honour the GK rank bound; compact, tail, and drift contracts hold") {
    val ev = Tables.load(spark, sf001, "events")
      .select("event_id", "event_type", "value")
    val store = tmpDir("agg_quant")
    (0L until 3L).foreach { i =>
      AggStore.append(spark, store,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        Seq("event_type"), "value", s"s$i", quantileCol = "value")
    }
    // exact per-group sorted values, driver-side (~200/group at sf0.001)
    val raw = ev.select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    val eps = graft.functions.expressions.QuantileSketchAggregate.DefaultEps
    def checkRanks(df: org.apache.spark.sql.DataFrame): Unit =
      df.select("event_type", "q_p50", "q_p90", "q_p99").collect().foreach { r =>
        val xs = raw(r.getString(0))
        Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2), 0.99 -> r.getDouble(3))
          .foreach { case (p, e) =>
            // the estimate's possible ranks (count(< e), count(<= e)] must
            // intersect the eps window around ceil(p·n) — q164's gate
            val target = math.ceil(p * xs.length)
            val slack = eps * xs.length + 2
            assert(xs.count(_ < e) + 1 <= target + slack &&
              xs.count(_ <= e) >= target - slack,
              s"p=$p est=$e outside rank window for ${r.getString(0)}")
            // GK estimates are sampled input VALUES, not interpolations
            assert(xs.contains(e), s"estimate $e is not a data value")
          }
      }
    checkRanks(AggStore.merged(spark, store))
    // compaction pre-merges the sketches; the bound must keep holding
    assert(AggStore.compact(spark, store))
    checkRanks(AggStore.merged(spark, store))
    // realtime read: history states ⊎ un-ingested tail, same contract
    val store2 = tmpDir("agg_quant_rt")
    (0L until 2L).foreach { i =>
      AggStore.append(spark, store2,
        ev.filter(pmod(col("event_id"), lit(3L)) === i),
        Seq("event_type"), "value", s"s$i", quantileCol = "value")
    }
    checkRanks(AggStore.mergedWithTail(spark, store2,
      ev.filter(pmod(col("event_id"), lit(3L)) === 2L),
      Seq("event_type"), "value", quantileCol = "value"))
    // the quantile setting is part of the state schema — drift fails loudly
    val e = intercept[IllegalArgumentException] {
      AggStore.append(spark, store, ev, Seq("event_type"), "value", "later")
    }
    assert(e.getMessage.contains("state schema mismatch"))
  }
}
