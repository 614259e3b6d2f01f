package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (north-star extension; the reference is
  * batch-only — its closest notion of time is partition min/max bounds,
  * `/root/reference/database/database.go:398-399`).
  *
  * Two operators:
  *  - [[windowedFingerprint]]: tumbling-window count + order-independent
  *    content fingerprint with a watermark — the streaming form of the
  *    reconciler's per-partition (rows, fp) pairs, so a live pipeline can
  *    diff source/dest windows continuously instead of re-scanning.
  *  - [[sessionize]]: mapGroupsWithState session counting per user — the
  *    custom-state template (timeout-driven, memory bounded by active
  *    keys, not history).
  *
  * At scale: the aggregation state is (window × event_type) rows of 16
  * bytes; the watermark bounds state size; both run on the standard
  * shuffle-partitioned state store.
  */
object StreamingReconcile {

  /** events.parquet schema with `ts` at the given physical type (file
    * sources need an explicit schema for streams). The fixture generator
    * has shipped ts as INT64 nanos (Long under `nanosAsLong`) and as
    * parquet timestamp[us] (TIMESTAMP_NTZ) across rounds. */
  def eventsSchema(tsType: DataType = TimestampNTZType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Stream of events from a scale-factor dir. A batch probe (footer only,
    * no data scan) picks the ts physical type, so the stream schema matches
    * whichever fixture shape is on disk; ts is then normalized to
    * session-zone TimestampType exactly as the batch loader does
    * ([[graft.core.Tables.normalizeEventTs]]).
    *
    * `events.parquet` may be a single FILE (the fixture layout) or a
    * DIRECTORY of time-ordered part files (the scaled-corpus layout,
    * [[graft.ScaleBench]] writes one part per time-shifted copy). With
    * `maxFilesPerTrigger=1` (default) a multi-file table is admitted one
    * file per micro-batch — the unbounded-deployment shape: stream-stream
    * join state covers one batch plus the watermark overlap, NOT the whole
    * corpus (the x10/x30 trend's only super-linear residue was exactly the
    * one-batch-covers-everything artifact of a single-file source). File
    * admission is oldest-modification-first and the scaled parts are
    * written in time order, so event time rises monotonically across
    * batches and the watermark never late-drops a row — availableNow
    * output stays exactly the batch answer. */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val tsType = spark.read.parquet(path).schema("ts").dataType
    val reader = spark.readStream
      .schema(eventsSchema(tsType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val src =
      if (new java.io.File(path).isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.core.Tables.normalizeEventTs(src)
  }

  /** Tumbling-window (rows, fingerprint) per event_type with watermark —
    * works identically on a batch DataFrame (no watermark) for testing. */
  def windowedFingerprint(events: DataFrame, windowLen: String = "1 hour",
      watermark: Option[String] = Some("2 hours")): DataFrame = {
    val wm = watermark.fold(events)(events.withWatermark("ts", _))
    val contentCols = Seq(col("event_id"), col("user_id"), col("event_type"), col("value"))
    wm.groupBy(window(col("ts"), windowLen).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"), bit_xor(xxhash64(contentCols: _*)).as("fp"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n_rows"), col("fp"))
  }

  /** Run a finite (availableNow) stream into a PARQUET sink via
    * foreachBatch and hand back the sink relation — the gate streams'
    * harness. Round 2 used `format("memory")`, which materialises every
    * emitted row in DRIVER memory: fine for an aggregate, a driver-side
    * bottleneck the moment the streamed relation is row-shaped (the
    * attribution join emits one row per matched event). A parquet sink
    * keeps the rows on executors/disk end-to-end; complete-mode batches
    * overwrite (each re-emits the full result, last batch wins), append-
    * mode batches append. The caller must MATERIALISE (localCheckpoint)
    * anything it wants to outlive `cleanup()` of the sink directory. */
  /** Scratch root for the gate streams' EPHEMERAL dirs (checkpoint +
    * sink, deleted after each run): prefer tmpfs when the host has one —
    * the per-micro-batch checkpoint/state/commit files are pure scratch
    * I/O here, and a PRODUCTION caller supplies its own durable
    * checkpointLocation instead of going through this harness. */
  private def scratchDir(prefix: String): java.nio.file.Path =
    graft.core.Fs.scratchDir(prefix)

  private def runToParquetSink(df: DataFrame, name: String,
      mode: OutputMode): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = df.sparkSession
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val dir = scratchDir(s"graft_sink_$name")
    val sink = s"$dir/out"
    val complete = mode == OutputMode.Complete()
    val cleanup = () => graft.core.Fs.deleteRecursively(dir)
    try {
      val q = df.writeStream.queryName(name)
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode(if (complete) "overwrite" else "append").parquet(sink)
        }
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // zero committed batches (empty source) → no sink files; mirror the
      // memory sink's behavior and hand back an EMPTY relation, not an
      // AnalysisException from reading a non-existent path
      val out =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(sink)))
          spark.read.parquet(sink)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
      (out, cleanup)
    } catch { case e: Throwable => cleanup(); throw e }
  }

  /** The q19 hourly aggregate computed by an ACTUAL stream over the same
    * files (readStream → availableNow → complete-mode parquet sink), so
    * the driver's DuckDB gate checks stream ≡ batch end-to-end (q55).
    *
    * Complete mode is the right finite-stream discipline here: it re-emits
    * closed-and-open windows alike, so no window is stranded behind the
    * final watermark the way an append-mode emission would strand the last
    * hour. A production deployment points the identical plan at a
    * kafka/parquet sink in append mode with the [[windowedFingerprint]]
    * watermark. */
  def hourlyAggStream(spark: SparkSession, dir: String): DataFrame = {
    withStateWidth(spark, 8) {
      val agg = readEvents(spark, dir)
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)").as("sum_value"))
      val (sink, cleanup) = runToParquetSink(agg, "q55_streaming_window",
        OutputMode.Complete())
      try sink.select(col("win.start").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"))
        .localCheckpoint(true)
      finally cleanup()
    }
  }

  /** Streaming exact dedup: `dropDuplicates` keyed on (user_id,
    * event_type) over an actual stream of the events files — the streaming
    * form of first-occurrence dedup (state = one row per distinct key,
    * same cardinality a batch `dropDuplicates` shuffles). Append mode: a
    * key is emitted exactly once, on first sight, so the sink holds the
    * deduped relation; the per-type rollup of that relation is batch
    * (small: #event_types rows). A production run adds
    * `withWatermark` + `dropDuplicatesWithinWatermark` to bound state by
    * time instead of key cardinality. */
  def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    withStateWidth(spark, 8) {
      val deduped = readEvents(spark, dir)
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
      val (sink, cleanup) = runToParquetSink(deduped, "q65_streaming_dedup",
        OutputMode.Append())
      try sink.groupBy("event_type").agg(count(lit(1)).as("n_users"))
        .localCheckpoint(true)
      finally cleanup()
    }
  }

  /** Streaming shard ingest with PERSISTED seen-store dedup (q103) — the
    * streaming form of the `dedup_seen` pipeline step: the incoming
    * document shard arrives as a file stream (one micro-batch per file),
    * each micro-batch anti-joins the [[graft.dedup.SeenStore]] read FRESH
    * inside foreachBatch — a stream-static join would pin the store's
    * file listing at plan time and miss the folds committed by EARLIER
    * micro-batches of the same run — and survivors commit downstream
    * before folding into the store under the batch-id shard key.
    *
    * Exactly-once end-to-end from at-least-once foreachBatch: the sink is
    * partitioned by batch id with dynamic overwrite (a replayed batch
    * rewrites exactly its own output), and the `processedShards` guard
    * short-circuits a batch whose fold already committed (re-filtering it
    * would emit empty and clobber the committed partition — the
    * GraftPipeline.run protocol, here per micro-batch).
    *
    * Gate shape: history (even ids) pre-folded into the store; the
    * incoming stream carries the fresh odd docs plus the history texts
    * REDELIVERED under new ids — the store drops every redelivery in
    * whichever batch it lands, so the emission is exactly the odd docs
    * and the DuckDB oracle checks the whole loop end-to-end. */
  def seenDedupStream(spark: SparkSession, dir: String): DataFrame =
    withStateWidth(spark, 8) {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = scratchDir("graft_seen_stream")
      val store = s"$scratch/store"
      val inDir = s"$scratch/in"
      val sink = s"$scratch/out"
      try {
        val docs = graft.core.Tables.load(spark, dir, "documents")
        val redelivered = docs.filter(col("doc_id") % 2 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        // WITHIN-STREAM exact duplicates collapse BEFORE streaming
        // (dropExact, min id wins) — the SeenStore contract's own
        // prescription ("within-shard duplicates are NOT collapsed here;
        // compose with dropExact first"). Without it, which copy of a
        // repeated odd text survives would depend on how repartition(3)
        // splits the pair across micro-batches (round-6 advice #4 —
        // sf0.1 carries 3 such pairs and the bench run hit it). At the
        // gate SF odd texts are unique, so the oracle stays "exactly the
        // odd docs"; at any SF the emission is partitioning-independent.
        // TWO micro-batches: cross-batch folding is exercised (batch 1
        // probes history + batch 0's fold) at one store round trip less
        // than three batches; the emission is partitioning-independent
        // (dropExact above), so the batch count is pure gate sizing
        // history fold and input-file staging are independent setup
        // actions (store tree vs stream input dir) — overlapped, max not
        // sum; the stream starts only after both settle
        graft.core.Par.both(
          graft.dedup.SeenStore.update(spark, store,
            docs.filter(col("doc_id") % 2 === 0), "text", "history"),
          graft.dedup.Dedup.dropExact(
              docs.filter(col("doc_id") % 2 === 1).unionByName(redelivered),
              "text", "doc_id")
            .repartition(2).write.mode("overwrite").parquet(inDir))
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val q = stream.writeStream.queryName("q103_streaming_seen")
          .option("checkpointLocation", s"$scratch/ckpt")
          .foreachBatch { (b: DataFrame, id: Long) =>
            val bs = b.sparkSession
            val shard = s"batch_$id"
            if (!graft.dedup.SeenStore.processedShards(bs, store).contains(shard)) {
              val survivors = graft.dedup.SeenStore
                .filter(bs, store, b, "text").localCheckpoint(true)
              survivors.withColumn("batch", lit(id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch").parquet(sink)
              graft.dedup.SeenStore.update(bs, store, survivors, "text", shard)
            }
          }
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val out =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(sink)))
            spark.read.parquet(sink)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            docs.schema.add("batch", StringType))
        out.select("doc_id", "lang", "n_chars").localCheckpoint(true)
      } finally graft.core.Fs.deleteRecursively(scratch)
    }

  /** Streaming incremental rollup (q159) — the `rollup` pipeline step as
    * a live stream, the aggregate sibling of [[seenDedupStream]]: each
    * micro-batch folds its PARTIAL AGGREGATE STATES into the persisted
    * [[graft.agg.AggStore]] under the batch-id shard key. The append is
    * idempotent per shard id in-store, so a redelivered micro-batch is a
    * no-op by construction — no sink partition dance needed here, the
    * store IS the output. Because the states are associative and
    * commutative exact merges (count / micro-unit long sum / min / max),
    * the merged read equals the batch rollup REGARDLESS of how the
    * stream was micro-batched — which is exactly what the DuckDB oracle
    * (the q156 SQL) checks end to end. At 100 TB this is the
    * AggregatingMergeTree ingestion loop: the dashboard read touches
    * O(distinct keys) state rows, never the event history. */
  def rollupStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val scratch = scratchDir("graft_rollup_stream")
    val store = s"$scratch/store"
    val inDir = s"$scratch/in"
    try {
      val ev = graft.core.Tables.load(spark, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("event_day"), col("value"))
      // two micro-batches: cross-batch state merging is exercised; the
      // merged result is partitioning-independent (associative states),
      // so the batch count is pure gate sizing
      ev.repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = spark.readStream.schema(
          spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = stream.writeStream.queryName("q159_streaming_rollup")
        .option("checkpointLocation", s"$scratch/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          graft.agg.AggStore.append(b.sparkSession, store, b,
            Seq("event_type", "event_day"), "value", s"batch_$id")
        }
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.agg.AggStore.merged(spark, store)
        .select("event_type", "event_day", "n", "sum_micros", "min_v", "max_v")
        .orderBy("event_type", "event_day")
        .localCheckpoint(true)
    } finally graft.core.Fs.deleteRecursively(scratch)
  }

  /** [[rollupStream]] with FULL REDELIVERY (q181, round-11 verdict #5's
    * gate): the same availableNow stream runs TWICE — the second run with
    * a FRESH checkpoint, so every micro-batch is redelivered under its
    * original batch id (the at-least-once worst case: the whole stream
    * replays). The store's `processedShards` short-circuit makes each
    * replayed append a no-op, so the merged read must STILL equal the
    * from-raw GROUP BY (the q156 oracle) — double-counting a replayed
    * batch is exactly the failure this gate exists to catch. This is the
    * exactly-once-from-at-least-once contract the MV ingestion loop
    * needs before "the rewrite serves a stream-maintained store" is a
    * safe sentence: a redelivery-inflated state would be served silently
    * by q171's rewrite. */
  def rollupStreamReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val scratch = scratchDir("graft_rollup_stream_replay")
    val store = s"$scratch/store"
    val inDir = s"$scratch/in"
    try {
      val ev = graft.core.Tables.load(spark, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("event_day"), col("value"))
      ev.repartition(2).write.mode("overwrite").parquet(inDir)
      def runOnce(ckpt: String): Unit = {
        val stream = spark.readStream.schema(
            spark.read.parquet(inDir).schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val q = stream.writeStream.queryName(s"q181_replay_$ckpt")
          .option("checkpointLocation", s"$scratch/$ckpt")
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.agg.AggStore.append(b.sparkSession, store, b,
              Seq("event_type", "event_day"), "value", s"batch_$id")
          }
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce("ckpt_a")
      runOnce("ckpt_b") // fresh checkpoint: every batch REDELIVERED
      graft.agg.AggStore.merged(spark, store)
        .select("event_type", "event_day", "n", "sum_micros", "min_v", "max_v")
        .orderBy("event_type", "event_day")
        .localCheckpoint(true)
    } finally graft.core.Fs.deleteRecursively(scratch)
  }

  /** Streaming shard ingest with PERSISTED near-dup dedup (q110) — the
    * `dedup_neardup` pipeline step as a live stream, the MinHash-LSH
    * sibling of [[seenDedupStream]]: each micro-batch probes the
    * [[graft.dedup.NearDupStore]] read FRESH inside foreachBatch (so the
    * folds of EARLIER batches of the same run are visible), survivors
    * commit downstream under the batch-id partition, then fold into the
    * store under the batch-id shard key — the same exactly-once-from-
    * at-least-once protocol (dynamic-overwrite sink + `processedShards`
    * short-circuit).
    *
    * Gate shape: history (even ids) pre-folded; the stream carries the
    * odd docs plus every history text REDELIVERED under a new odd id.
    * Unlike q103, near-dup SURVIVAL IS ORDER-DEPENDENT (odd docs can be
    * near-dups of each other: whichever lands first survives), so the
    * micro-batches are pure ID ARITHMETIC — batch k = ids with
    * doc_id % 4 = 2k+1, written as one file each with pinned ascending
    * mtimes so admission order (oldest-first) IS batch order — and the
    * DuckDB oracle simulates the same two-step sequential fold with
    * chained NOT-EXISTS CTEs. maxBucket=0: exact gate contract (q100). */
  def neardupDedupStream(spark: SparkSession, dir: String): DataFrame =
    withStateWidth(spark, 8) {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = scratchDir("graft_neardup_stream")
      val store = s"$scratch/store"
      val inDir = s"$scratch/in"
      val sink = s"$scratch/out"
      try {
        val docs = graft.core.Tables.load(spark, dir, "documents")
        val redelivered = docs.filter(col("doc_id") % 2 === 0)
          .withColumn("doc_id", col("doc_id") + 1000001L) // stays odd
        val incoming = docs.filter(col("doc_id") % 2 === 1)
          .unionByName(redelivered)
        // TWO micro-batches (gate sizing, the q103 rationale): batch 1
        // probes history PLUS batch 0's fold — the sequential-fold code
        // path a third batch would re-run at one more store round trip.
        // Batch-file staging writes disjoint dirs and mtime order is
        // PINNED explicitly after each write (admission order never
        // depends on write order), so both writes and the history fold
        // are independent setup actions — overlapped, max not sum; the
        // stream starts only after all three settle
        def stage(k: Int): Unit = {
          val d = s"$inDir/b$k"
          incoming.filter(pmod(col("doc_id"), lit(4)) === 2 * k + 1)
            .coalesce(1).write.mode("overwrite").parquet(d)
          // admission is oldest-modification-first; writes can land in
          // the same clock tick — pin strictly ascending mtimes so
          // micro-batch order IS k order (the oracle's fold order)
          val t = 1700000000000L + k * 60000L
          Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
            .foreach(_.setLastModified(t))
        }
        graft.core.Par.both(
          graft.dedup.NearDupStore.update(spark, store,
            docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", "history"),
          graft.core.Par.both(stage(0), stage(1)))
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").parquet(inDir)
        val q = stream.writeStream.queryName("q110_streaming_neardup")
          .option("checkpointLocation", s"$scratch/ckpt")
          .foreachBatch { (b: DataFrame, id: Long) =>
            val bs = b.sparkSession
            val shard = s"batch_$id"
            if (!graft.dedup.NearDupStore.processedShards(bs, store).contains(shard)) {
              // probe-then-fold pays ONE minhash pass: the fold semi-joins
              // the probe's checkpointed batch signatures on the survivor
              // ids instead of recomputing them from raw text (bit-equal —
              // the signature expression is deterministic over the text)
              val (filtered, batchSigs) = graft.dedup.NearDupStore
                .filterNewWithSigs(bs, store, b,
                  "text", "doc_id", minJaccard = 0.8, maxBucket = 0)
              val survivors = filtered.localCheckpoint(true)
              survivors.withColumn("batch", lit(id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch").parquet(sink)
              graft.dedup.NearDupStore.updateFromSigs(bs, store,
                batchSigs.join(survivors.select(col("doc_id").cast("long").as("id")),
                  Seq("id"), "left_semi"), shard)
            }
          }
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val out =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(sink)))
            spark.read.parquet(sink)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            docs.schema.add("batch", StringType))
        out.select("doc_id", "lang", "n_chars").localCheckpoint(true)
      } finally graft.core.Fs.deleteRecursively(scratch)
    }

  /** Watermarked stream-stream inner join: every non-signup event joined
    * to the same user's signup events within the following hour — the
    * attribution-join shape (click↔impression, signup↔activity). Both
    * sides carry a watermark and the join condition bounds event time, so
    * the state store holds only ±(watermark + interval) of each side —
    * THE requirement for an unbounded stream-stream join to run forever.
    * Inner-join matches emit eagerly (no watermark wait), so availableNow
    * over the finite fixture emits exactly the batch join — the DuckDB
    * oracle (q79) checks that equivalence end-to-end, like q55/q65. */
  def attributionJoinStream(spark: SparkSession, dir: String): DataFrame =
    withStateWidth(spark, 8)(attributionJoinStreamInner(spark, dir, "q79_stream_join"))

  /** Stateful-shuffle width is a STATE-VOLUME knob, not a CPU knob: every
    * partition materialises its own state store(s), so a small-state query
    * at local[32] pays 32× store open/commit/close per micro-batch for no
    * parallelism gain. Scope the conf to the stream (safe here: each run
    * starts a fresh checkpoint; a checkpointed production query pins the
    * width at first run). */
  private def withStateWidth[T](spark: SparkSession, n: Int)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def attributionJoinStreamInner(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "2 hours")
    val acts = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id").as("a_user"), col("event_type").as("a_type"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", "2 hours")
    val joined = acts.join(signups,
      col("a_user") === col("s_user") &&
        col("a_ts") >= col("s_ts") &&
        col("a_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"))
    // row-shaped stream output (one row per matched event) — exactly the
    // case where the parquet sink matters: the matches never transit the
    // driver, only the tiny per-type rollup does
    val (sink, cleanup) = runToParquetSink(joined, name, OutputMode.Append())
    try sink.groupBy(col("a_type").as("event_type"))
      .agg(count(lit(1)).as("n_attributed"))
      .localCheckpoint(true)
    finally cleanup()
  }

  /** Column carrying the last merged batch id INSIDE the store parquet —
    * a separate marker file could diverge from the store on a crash
    * between the two writes (see [[mergeFingerprintBatch]]). */
  val BatchCol = "_graft_batch"

  /** Read the fingerprint store WITHOUT its internal batch-id column. */
  def readFingerprintStore(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(storePath).drop(BatchCol)

  /** One micro-batch step of incremental fingerprint maintenance: fold the
    * batch's per-partition (rows, fp) delta into the stored relation via
    * [[graft.fp.Fingerprint.mergeDelta]]. The store's cardinality is the
    * PARTITION count, so it round-trips through the driver exactly like
    * the reconciler's partition list (bounded, never O(rows)) — which also
    * sidesteps overwriting a path while lazily reading it.
    *
    * IDEMPOTENT per `batchId`: foreachBatch is at-least-once, and XOR
    * makes a double-merge silently self-cancel (fp ⊕ fp = 0, rows 2×).
    * The replay guard is ATOMIC with the data: the last merged id lives in
    * the [[BatchCol]] column OF the store itself (a store+marker file pair
    * can crash between the two writes, after which the replayed batch
    * re-merges and corrupts the store — round-2 advice), and the store is
    * replaced through [[graft.core.AtomicStore]] (write-to-temp + delete +
    * rename, with completed-tmp adoption / partial-tmp deletion on
    * recovery — one shared implementation with the batch stores).
    * Filesystem ops go through the path's Hadoop filesystem —
    * `java.io.File` would see only the driver's local disk and treat an
    * object-store store as absent. */
  def mergeFingerprintBatch(spark: SparkSession, storePath: String,
      batch: DataFrame, partKeys: Seq[(String, org.apache.spark.sql.Column)],
      cols: Seq[org.apache.spark.sql.Column], batchId: Long = 0L): Unit = {
    // crash recovery + read through the shared AtomicStore discipline
    // (completed tmp adopted, partial tmp deleted — one implementation,
    // not a drifting copy of it)
    val stored = graft.core.AtomicStore.read(spark, storePath)
    // Replay guard. Read errors must PROPAGATE (failing the stream), not
    // silently disable the guard — a guard-less replay re-merges and
    // XOR-cancels the store, the exact corruption it exists to prevent.
    // The one soft case is an empty store (max → null); a store without
    // the batch-id column was not written here and fails loudly.
    def lastBatch: Option[Long] = stored.flatMap { df =>
      if (!df.columns.contains(BatchCol)) throw new IllegalStateException(
        s"fingerprint store at $storePath has no $BatchCol column — not a " +
          "replay-guarded store")
      Option(df.agg(max(col(BatchCol))).head().get(0)).map(_.asInstanceOf[Long])
    }
    if (lastBatch.exists(_ >= batchId)) return // at-least-once replay
    val delta = graft.fp.Fingerprint.byPartition(batch, partKeys, cols)
    val keyNames = partKeys.map(_._1)
    val merged = stored match {
      case Some(df) =>
        graft.fp.Fingerprint.mergeDelta(df.drop(BatchCol), delta, keyNames)
      case None => delta
    }
    val snapshot = merged.collect().toSeq // bounded: one row per partition
    graft.core.AtomicStore.replace(spark, storePath,
      spark.createDataFrame(
          spark.sparkContext.parallelize(snapshot, 1), merged.schema)
        .withColumn(BatchCol, lit(batchId)))
  }

  /** Streaming maintenance of the stored per-partition fingerprint table:
    * an actual stream over the events files folds each micro-batch into
    * the store with [[mergeFingerprintBatch]], so the store always equals
    * a full [[graft.fp.Fingerprint.byPartition]] recompute WITHOUT ever
    * rescanning history — the streaming form of the mergeDelta
    * O(delta + partitions) reconcile. Returns the final store. */
  def fingerprintStoreStream(spark: SparkSession, dir: String,
      storePath: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = "fingerprint_store_stream"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val contentCols = Seq(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val q = readEvents(spark, dir).writeStream
      .queryName(name)
      // checkpoint + per-batch idempotence marker: a restarted query
      // resumes instead of replaying history into the store
      .option("checkpointLocation", storePath + "_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeFingerprintBatch(spark, storePath, batch,
          Seq("event_type" -> col("event_type")), contentCols, batchId)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    readFingerprintStore(spark, storePath)
  }

  /** Fold one micro-batch of events into the persisted per-user FUNNEL
    * state store (the incremental form of
    * [[graft.operators.Behavior.funnelLevels]]).
    *
    * Layout: `(user_id, acc: array<long>, _graft_batch)` PARTITIONED by
    * `bucket = hash(user_id) mod nBuckets`, written per batch via
    * dynamic partition overwrite of ONLY the buckets the batch touches —
    * a batch that reaches 1% of users rewrites ~1% of the state, so the
    * per-batch cost is O(batch + state-in-touched-buckets), never an
    * O(all-users) whole-store rewrite (which the first cut of this store
    * paid; at 1B users that is the difference between a state UPDATE and
    * a nightly state COPY).
    *
    * Replay/crash protocol: the guard is IN-ROW and PER-BUCKET
    * (`_graft_batch` = the batch that last folded the bucket). Dynamic
    * overwrite commits partition dirs one by one, so a torn commit
    * leaves some buckets folded and some not — the replay folds exactly
    * the stale buckets (the fold is NOT idempotent from a post-fold
    * accumulator, so skipped-if-done is load-bearing, not an
    * optimisation) and the store converges to the clean state.
    *
    * Correct BY the fold's shape: funnel state is a LEFT FOLD over the
    * user's time-sorted step events, so folding batch k's events (sorted)
    * from the accumulator after batches 0..k-1 is bit-identical to one
    * pass over all events — provided batch admission is time-ordered
    * (the file-admission contract every gate stream here uses). A daily
    * funnel over 100 TB of history therefore costs O(day + touched
    * state), never a history rescan; state is one fixed-width array per
    * user. */
  def mergeFunnelBatch(spark: SparkSession, storePath: String,
      batch: DataFrame, stepOf: org.apache.spark.sql.Column, nSteps: Int,
      windowMs: Long, batchId: Long, nBuckets: Int = 64): Unit = {
    import graft.operators.Behavior
    val grouped = Behavior.funnelGrouped(
      Behavior.funnelStepped(batch, "user_id", "ts", stepOf, nSteps))
      .withColumn("bucket", pmod(xxhash64(col("user_id")), lit(nBuckets.toLong)))
    if (grouped.isEmpty) return // no funnel-step events in this batch
    val emptyEvs = array().cast("array<struct<t:bigint,ns:int>>")
    val init = Behavior.funnelInit(nSteps)
    val merged =
      if (!graft.core.Fs.exists(spark, storePath))
        grouped.select(col("bucket"), col("user_id"),
          Behavior.funnelAcc(col("evs"), init, windowMs).as("acc"),
          lit(batchId).as(BatchCol))
      else {
        // bounded driver collect: <= nBuckets longs by construction
        val touched = grouped.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq
        val old = spark.read.parquet(storePath)
          .filter(col("bucket").isin(touched: _*))
        // per-bucket replay guard: buckets already folded to >= batchId
        // (a torn previous commit) are NOT rewritten — refolding from a
        // post-fold accumulator would let an early event extend a chain
        // whose start the fold recorded from a LATER event
        val doneBuckets = old.filter(col(BatchCol) >= batchId)
          .select("bucket").distinct()
        val oldStale = old.filter(col(BatchCol) < batchId).drop(BatchCol)
        oldStale.withColumnRenamed("acc", "__acc")
          .join(grouped.join(doneBuckets, Seq("bucket"), "left_anti"),
            Seq("bucket", "user_id"), "full_outer")
          .select(col("bucket"), col("user_id"),
            Behavior.funnelAcc(coalesce(col("evs"), emptyEvs),
              coalesce(col("__acc"), init), windowMs).as("acc"),
            lit(batchId).as(BatchCol))
          .localCheckpoint(true) // materialise BEFORE overwriting the dirs it reads
      }
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(storePath)
  }

  /** The q142 window funnel as a LIVE STREAM over time-split event files:
    * per-user funnel state folds forward batch-over-batch through
    * [[mergeFunnelBatch]], and the final per-user levels must equal the
    * batch operator — same DuckDB oracle as q142. The corpus is split
    * into two time-ordered files (pinned ascending mtimes, oldest-first
    * admission = event-time order), so users spanning the boundary
    * genuinely exercise the seeded cross-batch fold. */
  def funnelStream(spark: SparkSession, dir: String, stepOf: org.apache.spark.sql.Column,
      nSteps: Int, windowMs: Long): DataFrame = withStateWidth(spark, 8) {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Behavior
    val name = "q145_streaming_funnel"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val scratch = scratchDir("graft_funnel_stream")
    val store = s"$scratch/state"
    val inDir = s"$scratch/in"
    try {
      val ev = graft.core.Tables.load(spark, dir, "events")
      val bounds = ev.agg(min(unix_millis(col("ts"))),
        max(unix_millis(col("ts")))).head()
      val mid = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
      // disjoint staging dirs, mtime order pinned after each write —
      // independent actions, overlapped (the q110 setup rationale)
      def stage(k: Int): Unit = {
        val part = if (k == 0) unix_millis(col("ts")) < mid
          else unix_millis(col("ts")) >= mid
        val d = s"$inDir/b$k"
        ev.filter(part).coalesce(1).write.mode("overwrite").parquet(d)
        val t = 1700000000000L + k * 60000L // strictly ascending mtimes
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
          .foreach(_.setLastModified(t))
      }
      graft.core.Par.both(stage(0), stage(1))
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true").parquet(inDir)
      val q = stream.writeStream.queryName(name)
        .option("checkpointLocation", s"$scratch/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          // bucket count sized to the gate corpus (the deployment knob is
          // user-hash fanout; 64 dirs for this state size is pure
          // small-file overhead — fold results are bucket-count-invariant)
          mergeFunnelBatch(b.sparkSession, store, b, stepOf, nSteps,
            windowMs, id, nBuckets = 8)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(store)
        .select(col("user_id"),
          Behavior.funnelLevel(col("acc")).as("funnel_level"))
        .orderBy("user_id")
        .localCheckpoint(true) // materialise before the scratch dir dies
    } finally graft.core.Fs.deleteRecursively(scratch)
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(lastTs: Long, sessions: Int, events: Long)
  final case class UserSessions(user_id: Long, n_sessions: Int, n_events: Long)

  /** Custom-state sessionization: counts 30-min-gap sessions per user.
    * The streaming analogue of PipelineQueries q46 (batch window form).
    *
    * State is one [[SessionState]] per distinct user (bounded by user
    * cardinality, not history; add a GroupStateTimeout eviction policy when
    * user churn makes even that too large). Emitted counts are CUMULATIVE
    * across micro-batches — both n_sessions and n_events — so the latest
    * row per user is always the current totals. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[UserSessions] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0, 0L))
          sorted.foreach { e =>
            val t = e.ts.getTime / 1000
            val ns = if (st.lastTs == Long.MinValue || t - st.lastTs > gapSeconds)
              st.sessions + 1 else st.sessions
            st = SessionState(t, ns, st.events + 1)
          }
          state.update(st)
          UserSessions(user, st.sessions, st.events)
      }
  }

  /** Per-user attribute-run event for [[scd2Stream]] (ts as epoch micros
    * — state and emissions stay integer until the final projection). */
  final case class Scd2Ev(user_id: Long, ts_us: Long, event_type: String,
    event_id: Long)
  /** Open run carried across micro-batches: current attribute, its start,
    * its 1-based version ordinal, events folded so far. */
  final case class Scd2State(attr: String, fromUs: Long, version: Long,
    n: Long)
  final case class Scd2Closed(user_id: Long, version: Long,
    event_type: String, from_us: Long, to_us: Long, n_events: Long)

  /** q135's SCD2 history computed by an ACTUAL stream —
    * `flatMapGroupsWithState` per user (the flatMap form: a batch can
    * CLOSE any number of runs for one user, unlike sessionize's
    * one-row-per-group mapGroups). State is the single OPEN run; closed
    * intervals are emitted append-mode as the attribute changes — the
    * unbounded-deployment shape, where an open interval is unemittable
    * by definition. The gate (q138) is therefore stream ≡ batch's CLOSED
    * rows: the q135 oracle with `valid_to IS NOT NULL`.
    *
    * Ordering contract: within a batch the group's rows are sorted
    * (bounded by the user's rows IN THAT BATCH, not history); across
    * batches the file source admits time-ordered files
    * oldest-modification-first ([[readEvents]] scaladoc), so run
    * boundaries never arrive out of order. State is ONE open run per
    * user — bounded by user cardinality, like sessionize. */
  def scd2Runs(events: Dataset[Scd2Ev]): Dataset[Scd2Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (user, rows, state: GroupState[Scd2State]) =>
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val closed = Vector.newBuilder[Scd2Closed]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              if (st == null)
                st = Scd2State(e.event_type, e.ts_us, 1L, 1L)
              else if (st.attr == e.event_type)
                st = st.copy(n = st.n + 1L)
              else {
                closed += Scd2Closed(user, st.version, st.attr, st.fromUs,
                  e.ts_us, st.n)
                st = Scd2State(e.event_type, e.ts_us, st.version + 1L, 1L)
              }
            }
            if (st != null) state.update(st)
            closed.result().iterator
        }
  }

  /** The q138 gate runner: stream the events files through [[scd2Runs]]
    * into an append parquet sink, return the closed intervals in the
    * q135 emission shape. */
  def scd2Stream(spark: SparkSession, dir: String): DataFrame = withStateWidth(spark, 8) {
    import spark.implicits._
    val src = readEvents(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("event_id"))
      .as[Scd2Ev]
    val (out, cleanup) = runToParquetSink(
      scd2Runs(src).toDF(), "scd2_stream", OutputMode.Append())
    try out.select(col("user_id"), col("version"), col("event_type"),
        timestamp_micros(col("from_us")).as("valid_from"),
        timestamp_micros(col("to_us")).as("valid_to"),
        col("n_events"))
      .orderBy("user_id", "version")
      .localCheckpoint(true) // materialise before the sink dir dies
    finally cleanup()
  }
}
