package graft.cli

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

import scala.jdk.CollectionConverters._

class GraftPipelineSpec extends SparkSpec {

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def cfgText(out: String) =
    s"""# pipeline fixture
       |input:
       |  path: $sf001
       |  table: documents
       |output:
       |  path: $out
       |steps: normalize,redact,dedup_exact,quality_filter,split,pack
       |quality_min: 0.3
       |test_pct: 1
       |pack_budget: 256
       |""".stripMargin

  test("config parse: valid file, required fields, unknown step rejected") {
    val cfg = GraftPipeline.fromKv(YamlConfig.parse(cfgText("/tmp/x"))).toOption.get
    assert(cfg.steps == Seq("normalize", "redact", "dedup_exact",
      "quality_filter", "split", "pack"))
    assert(cfg.qualityMin == 0.3 && cfg.packBudget == 256)
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "normalize,frobnicate")).swap.toOption.get.contains("frobnicate"))
    assert(GraftPipeline.fromKv(Map("steps" -> "normalize")).isLeft)
  }

  test("end-to-end run: split-partitioned shards, monotone row count, steps applied") {
    val out = tmpDir("pipe")
    val cfg = GraftPipeline.fromKv(YamlConfig.parse(cfgText(out))).toOption.get
    val (nIn, nOut) = GraftPipeline.run(spark, cfg)
    assert(nIn > 0 && nOut > 0 && nOut <= nIn) // filters only remove
    val shards = spark.read.parquet(out)
    // split partitioning reached the directory layout
    val splits = shards.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    // normalize ran: no uppercase or punctuation-class chars survive
    assert(shards.filter(col("text").rlike("[A-Z.,!?;:]")).count() == 0)
    // dedup_exact ran: texts are unique
    assert(shards.select("text").distinct().count() == nOut)
    // quality_filter ran: every kept doc scores >= 0.3 on the (normalized) text
    assert(shards.filter(graft.text.TextAnalysis.qualityScore(col("text")) < 0.3).count() == 0)
    // pack ids exist and start at 0 per source
    val firstPacks = shards.groupBy("source").agg(min("pack_id").as("p0"))
      .filter(col("p0") =!= 0)
    assert(firstPacks.count() == 0)
  }

  test("bucketed output: rows identical to plain layout; doc_id join-back plans with zero Exchange on the corpus side") {
    val outPlain = tmpDir("pipe_plain")
    val outBkt = tmpDir("pipe_bkt")
    val base = Map("input.path" -> sf001, "input.table" -> "documents",
      "steps" -> "normalize,dedup_exact,quality_filter", "quality_min" -> "0.3")
    GraftPipeline.run(spark,
      GraftPipeline.fromKv(base + ("output.path" -> outPlain)).toOption.get)
    val cfg = GraftPipeline.fromKv(base ++ Map("output.path" -> outBkt,
      "output.bucket_by" -> "doc_id", "output.buckets" -> "4")).toOption.get
    val (_, nOut) = GraftPipeline.run(spark, cfg)
    try {
      // same rows as the plain layout — bucketing is layout, not semantics
      val plainIds = spark.read.parquet(outPlain).select("doc_id")
        .collect().map(_.get(0)).toSet
      val bktIds = spark.table(cfg.tableName).select("doc_id")
        .collect().map(_.get(0)).toSet
      assert(bktIds == plainIds && nOut == plainIds.size)
      // one file per bucket (the explicit repartition pins writer tasks —
      // without it: tasks × buckets slivers)
      val files = new java.io.File(outBkt).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected 4 bucket files, got $files")
      // the join-back (snapshot-diff / store-probe shape): corpus ⋈ keys
      // on doc_id — the BUCKETED side must feed the join with NO Exchange
      // (its scan IS the partitioning); the q147 merge hint pins SMJ so a
      // broadcast cannot mask the layout claim at fixture scale
      val corpus = spark.table(cfg.tableName)
      val probe = spark.table(cfg.tableName).select("doc_id", "n_chars")
        .withColumnRenamed("n_chars", "prev_chars")
      val joined = corpus.hint("merge").join(probe, Seq("doc_id"))
      assert(joined.count() == nOut)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed join-back still exchanges:\n" + plan.take(2500))
      // the replay short-circuit resolves the committed output through the
      // session catalog (bucketing metadata intact), not a raw file read
      val seenDir = tmpDir("pipe_bkt_seen")
      val cfg2 = GraftPipeline.fromKv(base ++ Map("output.path" -> outBkt,
        "output.bucket_by" -> "doc_id", "output.buckets" -> "4",
        "steps" -> "normalize,dedup_exact,dedup_seen",
        "seen_store.path" -> seenDir, "shard_id" -> "s0")).toOption.get
      GraftPipeline.run(spark, cfg2)
      val (_, nReplay) = GraftPipeline.run(spark, cfg2) // short-circuits
      assert(nReplay == spark.table(cfg2.tableName).count())
    } finally spark.sql(s"DROP TABLE IF EXISTS ${cfg.tableName}")
  }

  test("bucketed output config: buckets must be positive and need bucket_by") {
    val base = Map("input.path" -> "a", "output.path" -> "b", "steps" -> "normalize")
    assert(GraftPipeline.fromKv(base ++ Map("output.bucket_by" -> "doc_id",
      "output.buckets" -> "0")).isLeft)
    assert(GraftPipeline.fromKv(base + ("output.buckets" -> "8")).isLeft)
    assert(GraftPipeline.fromKv(base ++ Map("output.bucket_by" -> "doc_id",
      "output.buckets" -> "8")).isRight)
  }

  test("dedup_minhash step drops planted near-duplicates but keeps originals") {
    import spark.implicits._
    val out = tmpDir("pipe2")
    // near-dup = same doc with one token changed; smaller id must survive
    val base = spark.read.parquet(s"$sf001/documents.parquet").limit(50)
    val planted = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 900000L)
      .withColumn("text", concat(col("text"), lit(" tail")))
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("dedup_minhash"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(Set(0L, 1L, 2L).subsetOf(kept))
    assert(kept.intersect(Set(900000L, 900001L, 900002L)).isEmpty)
  }

  test("dedup_chunks drops boilerplate-dominated docs, keeps unique ones") {
    import spark.implicits._
    val out = tmpDir("pipe3")
    val para = (1 to 80).map(i => s"shared$i").mkString(" ")
    Seq(
      (1L, para, "en", "src"),                                          // all-shared
      (2L, s"$para ${(1 to 8).map(i => s"b$i").mkString(" ")}", "en", "src"), // mostly shared
      (3L, (1 to 100).map(i => s"uniq$i").mkString(" "), "en", "src")   // unique
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("dedup_chunks"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      chunkOverlapMax = 0.5)
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L) && !kept.contains(1L) && !kept.contains(2L))
  }

  test("dedup_spans drops span-dominated docs, keeps unique and lightly-overlapping ones") {
    import spark.implicits._
    val out = tmpDir("pipe7")
    val span = (1 to 40).map(i => s"shared$i").mkString(" ")
    Seq(
      (1L, span, "en", "src"),                                               // 100% shared windows
      (2L, s"$span ${(1 to 60).map(i => s"b$i").mkString(" ")}", "en", "src"), // ~33% shared -> kept at 0.5
      (3L, (1 to 100).map(i => s"uniq$i").mkString(" "), "en", "src")        // unique
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("dedup_spans"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      spanOverlapMax = 0.5)
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
  }

  test("strip_dup_spans rewrites text in place, then a length filter can drop the husks") {
    import spark.implicits._
    val out = tmpDir("pipe8")
    val span = (1 to 40).map(i => s"shared$i").mkString(" ")
    val uniq = (1 to 60).map(i => s"u$i").mkString(" ")
    Seq(
      (1L, span, "en", "src"),              // all windows dup'd vs doc 2's prefix
      (2L, s"$span $uniq", "en", "src"),    // span stripped, unique tail survives
      (3L, (1 to 50).map(i => s"v$i").mkString(" "), "en", "src")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("strip_dup_spans"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    GraftPipeline.run(spark, cfg)
    val byId = spark.read.parquet(s"$out/shards").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) == "")          // rewritten, not dropped
    assert(byId(2L) == uniq, s"doc2: ${byId(2L).take(80)}")
    assert(byId(3L) == (1 to 50).map(i => s"v$i").mkString(" "))
  }

  test("strip_dup_spans passes NULL-id rows through with text intact") {
    import spark.implicits._
    val out = tmpDir("pipe8b")
    val span = (1 to 40).map(i => s"shared$i").mkString(" ")
    Seq(
      (Some(1L), span, "en", "src"),
      (Some(2L), s"$span tail1 tail2", "en", "src"),
      (None, "null id row keeps its original text", "en", "src")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("strip_dup_spans"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    val (nIn, nOut) = GraftPipeline.run(spark, cfg)
    assert(nIn == 3 && nOut == 3) // transform step: nothing drops
    val rows = spark.read.parquet(s"$out/shards").select("doc_id", "text")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1)).toMap
    assert(rows(Some(1L)) == "")
    assert(rows(Some(2L)) == "tail1 tail2")
    // removeDuplicateSpans excludes NULL ids by contract; the step must not
    // null their text (they behave like the filter-shaped steps: untouched)
    assert(rows(None) == "null id row keeps its original text")
  }

  test("index build and probe cannot share one run (stale-probe / schema-clash guard)") {
    val base = Map("input.path" -> "a", "output.path" -> "b",
      "bm25_index.path" -> "i", "ann_index.path" -> "j")
    val bm = GraftPipeline.fromKv(base + ("steps" -> "bm25_index,bm25_query"))
    assert(bm.swap.toOption.get.contains("cannot share a run"), bm)
    val ann = GraftPipeline.fromKv(base + ("steps" -> "ann_index,ann_query"))
    assert(ann.swap.toOption.get.contains("cannot share a run"), ann)
    // each alone stays valid
    assert(GraftPipeline.fromKv(base + ("steps" -> "bm25_index")).isRight)
    assert(GraftPipeline.fromKv(base + ("steps" -> "bm25_query")).isRight)
  }

  test("bigram_filter keeps coherent docs, drops scrambled and unscorable ones") {
    import spark.implicits._
    val out = tmpDir("pipe6")
    // five coherent docs share a sentence, so the corpus bigram table
    // vouches for every one of their bigrams (C(a,b)≈5 against C(a)≤12 →
    // score ≈ 0.6). The scrambled doc reuses the SAME tokens in an order
    // seen nowhere else: every bigram has C(a,b)=1 over common unigrams →
    // score ≈ 0.14. The one-token doc has no bigrams → unscorable → drops.
    val coherent = (1L to 5L).map(i => (i, "the cat sat on the mat", "en", "src"))
    val docs = coherent ++ Seq(
      (10L, "mat the on sat cat the", "en", "src"),
      (20L, "solo", "en", "src"))
    docs.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("bigram_filter"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      bigramMin = 0.3)
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L))
    // bigram_min wired from kv: default 0.0 keeps every scorable doc
    val cfg0 = GraftPipeline.fromKv(Map("input.path" -> out, "output.path" -> s"$out/shards0",
      "steps" -> "bigram_filter")).toOption.get
    assert(cfg0.bigramMin == 0.0)
    GraftPipeline.run(spark, cfg0)
    val kept0 = spark.read.parquet(s"$out/shards0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept0 == Set(1L, 2L, 3L, 4L, 5L, 10L)) // only the unscorable doc drops
  }

  test("mix keeps named sources at their rates, others fully; config requires rates") {
    val out = tmpDir("pipe5")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val victim = bySource.keys.toSeq.sorted.head
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = sf001, table = "documents", outputDir = s"$out/shards",
      steps = Seq("mix"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      mixRates = Map(victim -> 0.25))
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // unnamed sources untouched, the named one roughly quartered
    bySource.filter(_._1 != victim).foreach { case (s, n) => assert(kept(s) == n) }
    val frac = kept(victim).toDouble / bySource(victim)
    assert(frac > 0.1 && frac < 0.4, s"kept fraction $frac for rate 0.25")
    // rerun-deterministic: same rows kept
    GraftPipeline.run(spark, cfg.copy(outputDir = s"$out/shards2"))
    assert(spark.read.parquet(s"$out/shards2").select("doc_id").collect().map(_.getLong(0)).toSet ==
      spark.read.parquet(s"$out/shards").select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "mix")).swap.toOption.get.contains("mix_rates"))
    assert(GraftPipeline.parseRates("web:0.25, news:1.0") ==
      Right(Map("web" -> 0.25, "news" -> 1.0)))
    // strict parsing: malformed or out-of-range rates fail the config
    // instead of silently leaving a source unsampled
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "mix", "mix_rates" -> "web:0.2five,news:1.0"))
      .swap.toOption.get.contains("unparseable"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "mix", "mix_rates" -> "web:1.5"))
      .swap.toOption.get.contains("out of [0,1]"))
  }

  test("mix_temperature keeps the smallest source whole and tempers the big one exactly") {
    import spark.implicits._
    val out = tmpDir("pipe_mixt")
    val rows = (0 until 100).map(i => (i.toLong, s"big doc $i words here", "en", "big")) ++
      (1000 until 1025).map(i => (i.toLong, s"small doc $i words here", "en", "small"))
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("mix_temperature"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest source: rate 1e6 → everything survives
    assert(kept("small") == 25L, kept)
    // big source: rate floor(1e6·√(25/100)) = 500000 — the exact same
    // acceptance arithmetic, computed independently here
    val expectBig = (0 until 100).count(i =>
      Math.floorMod(i.toLong * 2654435761L + 7L, 1000000L) < 500000L)
    assert(kept("big") == expectBig.toLong, s"${kept("big")} vs $expectBig")
    // rerun determinism
    GraftPipeline.run(spark, cfg)
    val kept2 = spark.read.parquet(s"$out/shards").count()
    assert(kept2 == 25L + expectBig)
  }

  test("mix hash is independent of split's hash (downsampled source keeps train docs)") {
    val out = tmpDir("pipe6")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = sf001, table = "documents", outputDir = s"$out/shards",
      steps = Seq("mix", "split"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      mixRates = spark.read.parquet(s"$sf001/documents.parquet")
        .select("source").distinct().collect()
        .map(r => r.getString(0) -> 0.1).toMap)
    GraftPipeline.run(spark, cfg)
    val bySplit = spark.read.parquet(s"$out/shards").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // with a correlated hash, a 10% mix would leave ZERO train docs (all
    // survivors land in the low buckets split labels test/val)
    val total = bySplit.values.sum
    assert(bySplit.getOrElse("train", 0L).toDouble / total > 0.9,
      s"split distribution skewed by mix hash: $bySplit")
  }

  test("contamination_filter drops docs overlapping the benchmark set; config requires its path") {
    import spark.implicits._
    val out = tmpDir("pipe4")
    val leak = "the secret benchmark passage nobody should train on"
    Seq(
      (1L, s"normal document text one $leak", "en", "src"),
      (2L, "completely unrelated content here", "en", "src")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    Seq((100L, leak, "en", "bench")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/bench/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = out, table = "documents", outputDir = s"$out/shards",
      steps = Seq("contamination_filter"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      benchmarkDir = s"$out/bench")
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    // fromKv refuses the step without benchmark.path
    val bad = GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "contamination_filter"))
    assert(bad.swap.toOption.get.contains("benchmark.path"))
  }

  test("gopher_filter drops rule-failing docs; data_card lands beside the shards") {
    import spark.implicits._
    val out = tmpDir("pipe_card")
    val good = "the of " + (1 to 60).map(i => s"word$i").mkString(" ")
    val short = "the of too short" // fails the 50-word rule
    Seq((1L, good, "en", "web", good.length.toLong),
        (2L, short, "en", "web", short.length.toLong),
        (3L, good + " extra", "fr", "news", good.length + 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = s"$out/in", table = "documents", outputDir = s"$out/shards",
      steps = Seq("gopher_filter", "data_card"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    val (nIn, nOut) = GraftPipeline.run(spark, cfg)
    assert((nIn, nOut) == ((3L, 2L))) // the short doc fails the battery
    assert(spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val card = spark.read.parquet(s"$out/shards_card")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_gopher_keep"))).toMap
    // the card describes the WRITTEN relation: survivors only, all keepers
    assert(card == Map("web" -> ((1L, 1L)), "news" -> ((1L, 1L))))
  }

  test("c4_clean rewrites lines in place and drops rule-failing pages; mutator ordering guarded") {
    import spark.implicits._
    val out = tmpDir("pipe_c4")
    val keepable = "This sentence carries five proper words. " +
      "And a second full sentence follows here. Third one closes it out."
    val multiline = keepable + "\nno terminal punctuation on this line\n" +
      "A final proper closing sentence appears right here."
    val loremPage = "One full sentence. Two full sentences. lorem ipsum dolor sit amet."
    Seq((1L, multiline, "en", "web", multiline.length.toLong),
        (2L, loremPage, "en", "web", loremPage.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = s"$out/in", table = "documents", outputDir = s"$out/shards",
      steps = Seq("c4_clean"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    val (nIn, nOut) = GraftPipeline.run(spark, cfg)
    assert((nIn, nOut) == ((2L, 1L))) // the lorem page drops
    val text = spark.read.parquet(s"$out/shards")
      .select("text").head().getString(0)
    assert(text == keepable + "\nA final proper closing sentence appears right here.")
    // text-mutating ordering guard extends to c4_clean
    val bad = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards2",
      "steps" -> "dedup_seen,c4_clean", "seen_store.path" -> s"$out/seen"))
    assert(bad.isLeft && bad.swap.exists(_.contains("text-mutating")))
  }

  test("dsir_filter keeps target-like docs, drops off-target and unscorable ones; config requires target") {
    import spark.implicits._
    val out = tmpDir("pipe_dsir")
    // target model: "alpha beta" world; off-target: "zulu yankee" world
    val targetText = (1 to 30).map(_ => "alpha beta gamma delta").mkString(" ")
    val likeTarget = (1 to 10).map(_ => "alpha beta gamma delta").mkString(" ")
    val offTarget = (1 to 10).map(_ => "zulu yankee xray whiskey").mkString(" ")
    Seq((100L, targetText, "en", "ref", targetText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/target/documents.parquet")
    Seq((1L, likeTarget, "en", "web", likeTarget.length.toLong),
        (2L, offTarget, "en", "web", offTarget.length.toLong),
        (3L, "single", "en", "web", 6L)) // < 2 tokens: unscorable
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = s"$out/in", table = "documents", outputDir = s"$out/shards",
      steps = Seq("dsir_filter"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      dsirTargetDir = s"$out/target")
    val (nIn, nOut) = GraftPipeline.run(spark, cfg)
    assert((nIn, nOut) == ((3L, 1L)))
    assert(spark.read.parquet(s"$out/shards").select("doc_id")
      .head().getLong(0) == 1L)
    // config gate
    val bad = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards2",
      "steps" -> "dsir_filter"))
    assert(bad.isLeft && bad.swap.exists(_.contains("dsir.target_path")))
  }

  test("upsample replicates by exact fractional rates; ordering and config guarded") {
    import spark.implicits._
    val out = tmpDir("pipe_upsample")
    // 10 docs per source; hash draws make the fractional part exact-able
    val rows = for (s <- Seq("hq", "crawl"); i <- 0 until 10)
      yield (s.hashCode.toLong * 100 + i, s"doc $i of $s with words", "en", s, 20L)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "upsample,split",
      "upsample_rates" -> "hq:2.5,crawl:0.5")).toOption.get
    val (nIn, nOut) = GraftPipeline.run(spark, cfg)
    assert(nIn == 20L)
    val got = spark.read.parquet(s"$out/shards")
    // every hq doc appears 2 or 3 times; every crawl doc 0 or 1 times;
    // totals follow the deterministic hash draws exactly
    val perDoc = got.groupBy("doc_id", "source").count().collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(perDoc.filter(_._1 == "hq").forall(c => c._2 == 2 || c._2 == 3))
    assert(perDoc.filter(_._1 == "crawl").forall(_._2 == 1))
    assert(nOut == got.count())
    // copy_idx discriminates replicas; split is constant per doc
    assert(got.columns.contains("copy_idx"))
    assert(got.groupBy("doc_id").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count() == 0)
    // ordering guard: nothing but split may follow
    val bad = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards2",
      "steps" -> "upsample,pack", "upsample_rates" -> "hq:2.0"))
    assert(bad.isLeft && bad.swap.exists(_.contains("follow upsample")))
    // config gates: missing rates, negative rate
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "upsample")).swap.exists(_.contains("upsample_rates")))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "upsample", "upsample_rates" -> "hq:-1"))
      .swap.exists(_.contains("negative")))
  }

  test("dedup_cluster_keeper: best-quality member survives even with a larger id") {
    import spark.implicits._
    val out = tmpDir("pipe_keeper")
    val base = "the of " + (1 to 30).map(i => s"word$i").mkString(" ")
    val spam = base + " " + ("..... " * 6).trim // punct ratio > 0.1 -> quality drops
    // id 1 = degraded copy, id 2 = clean copy: min-id would keep the WRONG one
    Seq((1L, spam, "en", "src"), (2L, base, "en", "src"),
        (3L, "totally unrelated fresh content here with the of stopwords", "en", "src"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = s"$out/in", table = "documents", outputDir = s"$out/shards",
      steps = Seq("dedup_cluster_keeper"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1)
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"quality keeper must beat min-id: $kept")
  }

  test("dedup_seen: shard-over-shard incremental dedup through the persisted store") {
    import spark.implicits._
    val out = tmpDir("pipe5")
    val store = s"$out/seen_store"
    def doc(id: Long, text: String) = (id, text, "en", "src")
    // shard 1: three fresh docs
    Seq(doc(1, "alpha text"), doc(2, "beta text"), doc(3, "gamma text"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s1/documents.parquet")
    // shard 2: one fresh doc + two re-ingested copies of shard-1 content
    Seq(doc(10, "delta text"), doc(11, "alpha text"), doc(12, "beta text"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s2/documents.parquet")
    def cfg(in: String, shard: String) = GraftPipeline.PipelineConfig(
      inputDir = in, table = "documents", outputDir = s"$out/$shard",
      steps = Seq("dedup_seen"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      seenStorePath = store)
    val (in1, out1) = GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    assert((in1, out1) == ((3L, 3L))) // empty store: everything passes
    val (in2, out2) = GraftPipeline.run(spark, cfg(s"$out/s2", "shard2"))
    assert((in2, out2) == ((3L, 1L))) // the two re-ingested texts dropped
    assert(spark.read.parquet(s"$out/shard2").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(10L))
    // store now holds all four distinct content hashes
    assert(graft.dedup.SeenStore.read(spark, store).get.count() == 4)
    // REPLAY of a committed shard: the run must short-circuit — without
    // the guard, dedup_seen would drop every shard-1 row (all hashes are
    // now "seen") and overwrite the committed output with an empty
    // relation
    val (in1b, out1b) = GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    assert((in1b, out1b) == ((3L, 3L)))
    assert(spark.read.parquet(s"$out/shard1").count() == 3) // output intact
    assert(graft.dedup.SeenStore.read(spark, store).get.count() == 4) // store unchanged
    // compaction: same four hashes back, fewer files, guard intact (the
    // replayed shard still short-circuits, so the committed output and
    // the store survive a post-compaction replay too)
    val filesBefore = graft.core.AtomicStore.dataFileCount(spark, s"$store/hashes")
    assert(graft.dedup.SeenStore.compact(spark, store))
    assert(graft.core.AtomicStore.dataFileCount(spark, s"$store/hashes") < filesBefore)
    assert(graft.dedup.SeenStore.read(spark, store).get.count() == 4)
    assert(graft.dedup.SeenStore.processedShards(spark, store) ==
      Set(s"$out/s1", s"$out/s2"))
    val (in1c, out1c) = GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    assert((in1c, out1c) == ((3L, 3L)))
    assert(graft.dedup.SeenStore.read(spark, store).get.count() == 4)
    // torn update (hashes subtree written, meta not committed) stays
    // invisible to read/filter until the replayed update heals it
    Seq(doc(20, "epsilon text")).toDF("doc_id", "text", "lang", "source")
      .select(org.apache.spark.sql.functions.xxhash64(col("text")).as("content_hash"))
      .withColumn("shard", lit("shard3"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(s"$store/hashes")
    assert(graft.dedup.SeenStore.read(spark, store).get.count() == 4) // orphan hidden
    graft.dedup.SeenStore.update(spark, store,
      Seq(doc(20, "epsilon text")).toDF("doc_id", "text", "lang", "source"),
      "text", "shard3")
    assert(graft.dedup.SeenStore.read(spark, store).get.count() == 5)
    // fromKv refuses the step without seen_store.path
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "dedup_seen")).swap.toOption.get.contains("seen_store.path"))
  }

  test("dedup_neardup: shard-over-shard incremental near-dedup, replay heals the second store") {
    import spark.implicits._
    val out = tmpDir("pipe_nd")
    val store = s"$out/neardup_store"
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val b = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val c = "one two three four five six seven eight nine ten eleven twelve"
    def doc(id: Long, text: String) = (id, text, "en", "src")
    Seq(doc(1, a), doc(2, b)).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s1/documents.parquet")
    // shard 2: near-copy of a (one appended token: J=10/11), exact copy
    // of b, one fresh doc
    Seq(doc(10, a + " zulu"), doc(11, b), doc(12, c))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s2/documents.parquet")
    def cfg(in: String, shard: String, steps: Seq[String] = Seq("dedup_neardup")) =
      GraftPipeline.PipelineConfig(
        inputDir = in, table = "documents", outputDir = s"$out/$shard",
        steps = steps, qualityMin = 0.0,
        minhashThreshold = 0.5, packBudget = 512, testPct = 1,
        seenStorePath = s"$out/seen_store", nearDupStorePath = store)
    assert(GraftPipeline.run(spark, cfg(s"$out/s1", "shard1")) == ((2L, 2L)))
    assert(GraftPipeline.run(spark, cfg(s"$out/s2", "shard2")) == ((3L, 1L)))
    assert(spark.read.parquet(s"$out/shard2").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(12L))
    assert(graft.dedup.NearDupStore.read(spark, store).get.count() == 3)
    // replay short-circuits: committed output intact, store unchanged
    assert(GraftPipeline.run(spark, cfg(s"$out/s1", "shard1")) == ((2L, 2L)))
    assert(spark.read.parquet(s"$out/shard1").count() == 2)
    assert(graft.dedup.NearDupStore.read(spark, store).get.count() == 3)
    // torn two-store update: shard3 recorded in the SEEN store only (as if
    // the crash hit between the two post-write updates) — the replay
    // short-circuits on the seen record and heals the neardup store from
    // the committed output
    val both = Seq("dedup_seen", "dedup_neardup")
    Seq(doc(20, c + " extra")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s3/documents.parquet")
    val cfg3 = cfg(s"$out/s3", "shard3", both)
    GraftPipeline.run(spark, cfg3.copy(steps = Seq("dedup_seen"))) // seen only
    assert(!graft.dedup.NearDupStore.processedShards(spark, store)
      .contains(cfg3.shardId))
    assert(GraftPipeline.run(spark, cfg3)._2 == 1L) // short-circuit + heal
    assert(graft.dedup.NearDupStore.processedShards(spark, store)
      .contains(cfg3.shardId))
    assert(graft.dedup.NearDupStore.read(spark, store).get.count() == 4)
    // config guards: missing path; text mutator after the step
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "dedup_neardup")).swap.toOption.get.contains("neardup_store.path"))
    val err = GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "dedup_neardup,normalize", "neardup_store.path" -> "c"))
      .swap.toOption.get
    assert(err.contains("dedup_neardup"))
  }

  test("dedup_seen rejects text-mutating steps after it (hash-drift guard)") {
    def kv(steps: String) = Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> steps, "seen_store.path" -> "c")
    // mutator AFTER dedup_seen: the store would hold hashes of rewritten
    // text that can never match a future shard's filter-time hashes
    for (bad <- Seq("dedup_seen,normalize", "dedup_seen,redact",
                    "dedup_seen,strip_dup_spans",
                    "normalize,dedup_seen,quality_filter,strip_html")) {
      val err = GraftPipeline.fromKv(kv(bad)).swap.toOption.get
      assert(err.contains("dedup_seen"), s"steps=$bad should be rejected: $err")
    }
    // mutators BEFORE dedup_seen (and non-mutating steps after) are fine
    for (ok <- Seq("normalize,redact,dedup_seen", "dedup_seen,quality_filter,split",
                   "strip_html,dedup_seen,dedup_exact,pack"))
      assert(GraftPipeline.fromKv(kv(ok)).isRight, s"steps=$ok should parse")
  }

  test("replay of a recorded shard with missing output fails diagnosably") {
    import spark.implicits._
    val out = tmpDir("pipe7")
    val store = s"$out/seen_store"
    Seq((1L, "solo text", "en", "src")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s1/documents.parquet")
    def cfg(outputDir: String) = GraftPipeline.PipelineConfig(
      inputDir = s"$out/s1", table = "documents", outputDir = outputDir,
      steps = Seq("dedup_seen"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      seenStorePath = store, shardIdOverride = "shard1")
    GraftPipeline.run(spark, cfg(s"$out/committed"))
    // same shard id, but the caller points the replay at a fresh outputDir
    // (or the committed output was cleaned): explicit error, not a bare
    // AnalysisException from reading a nonexistent path
    val e = intercept[IllegalStateException] {
      GraftPipeline.run(spark, cfg(s"$out/elsewhere"))
    }
    assert(e.getMessage.contains("shard1") && e.getMessage.contains("missing"))
    // the real committed output still replays clean
    assert(GraftPipeline.run(spark, cfg(s"$out/committed")) == ((1L, 1L)))
  }

  test("replay short-circuit heals every post-write artifact from the committed output") {
    import spark.implicits._
    val root = tmpDir("pipe_heal")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = sf001, table = "documents", outputDir = s"$root/shards",
      steps = Seq("dedup_seen", "bm25_index", "data_card"),
      qualityMin = 0.0, minhashThreshold = 0.7, packBudget = 512, testPct = 1,
      seenStorePath = s"$root/seen", bm25IndexPath = s"$root/bm25",
      dataCardPath = s"$root/card", shardIdOverride = "s0")
    val (_, n1) = GraftPipeline.run(spark, cfg)
    assert(n1 > 0)
    // round-6 advice #1 crash window: the seen store recorded the shard
    // but the later post-write folds (index, card) never landed — before
    // the fix, the replay returned at the short-circuit and the shard was
    // silently never indexed
    graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(s"$root/bm25"))
    graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(s"$root/card"))
    val (_, n2) = GraftPipeline.run(spark, cfg) // short-circuits on the store
    assert(n2 == n1)
    assert(graft.text.Retrieval.indexExists(spark, s"$root/bm25"), "index not healed")
    assert(spark.read.parquet(s"$root/card").count() > 0, "card not healed")
    val q = Seq((1L, "dup")).toDF("query_id", "term")
    assert(graft.text.Retrieval.queryBm25Index(spark, s"$root/bm25", q, k = 3)
      .count() > 0)
  }

  test("ann_index mode append: shard-over-shard index probes like a one-shot ingest") {
    val out = tmpDir("pipe_ivf_append")
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$out/s1/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/s2/embeddings.parquet")
    def yaml(in: String, shipped: String) =
      s"""input:
         |  path: $in
         |  table: embeddings
         |output:
         |  path: $out/$shipped
         |steps: ann_index
         |ann_index:
         |  path: $out/ivf
         |  mode: append
         |ann:
         |  centroids: 8
         |""".stripMargin
    val cfg1 = GraftPipeline.fromKv(YamlConfig.parse(yaml(s"$out/s1", "ship1"))).toOption.get
    assert(cfg1.annMode == "append")
    GraftPipeline.run(spark, cfg1) // first shard: auto-build (no meta yet)
    val afterBuild = spark.read.parquet(s"$out/ivf/assigned").count()
    GraftPipeline.run(spark,
      GraftPipeline.fromKv(YamlConfig.parse(yaml(s"$out/s2", "ship2"))).toOption.get)
    assert(spark.read.parquet(s"$out/ivf/assigned").count() == emb.count())
    assert(afterBuild < emb.count())
    // probe covers BOTH shards: a neighbor from each parity must be reachable
    val res = graft.sim.Similarity.queryIvfIndex(spark, s"$out/ivf",
      emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 10, nProbe = 8)
    val parities = res.select(pmod(col("neighbor_id"), lit(2)))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(parities == Set(0L, 1L))
    // bad mode rejected at config time
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "ann_index", "ann_index.path" -> "c",
      "ann_index.mode" -> "merge")).swap.toOption.get.contains("ann_index.mode"))
  }

  test("pq_index mode rebalance: shard folds in, codebooks retrain on the accumulated corpus") {
    val out = tmpDir("pipe_pq_rebalance")
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$out/s1/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/s2/embeddings.parquet")
    emb.write.mode("overwrite").parquet(s"$out/all/embeddings.parquet")
    def yaml(in: String, shipped: String, mode: String) =
      s"""input:
         |  path: $in
         |  table: embeddings
         |output:
         |  path: $out/$shipped
         |steps: pq_index
         |pq_index:
         |  path: $out/pq
         |  mode: $mode
         |pq:
         |  m: 8
         |  k_codes: 16
         |pq.rebalance_corpus:
         |  path: $out/all
         |""".stripMargin
    GraftPipeline.run(spark, GraftPipeline.fromKv(
      YamlConfig.parse(yaml(s"$out/s1", "ship1", "append"))).toOption.get)
    // second shard ships with mode: rebalance — fold, then retrain over
    // the full accumulated corpus and flip generations
    GraftPipeline.run(spark, GraftPipeline.fromKv(
      YamlConfig.parse(yaml(s"$out/s2", "ship2", "rebalance"))).toOption.get)
    // the rebalanced index probes rank-for-rank like a fresh one-shot
    // build over the same corpus (same seeding/Lloyd discipline)
    val q = emb.filter(col("vec_id") < 4)
    val viaIdx = graft.sim.Similarity.queryPqIndex(spark, s"$out/pq",
      q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    val fresh = tmpDir("pipe_pq_rebalance_fresh")
    // train from the SAME files the rebalance read: identical partition
    // boundaries keep the Lloyd avg's FP aggregation order identical
    graft.sim.Similarity.buildPqIndex(
      spark.read.parquet(s"$out/all/embeddings.parquet"),
      "vec_id", "embedding", fresh, m = 8, kCodes = 16, lloydIters = 1)
    val viaFresh = graft.sim.Similarity.queryPqIndex(spark, fresh,
      q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    assert(viaIdx == viaFresh)
    // config gates: rebalance without a corpus path, and a bad mode
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "pq_index", "pq_index.path" -> "c",
      "pq_index.mode" -> "rebalance")).swap.toOption.get
      .contains("pq.rebalance_corpus.path"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "pq_index", "pq_index.path" -> "c",
      "pq_index.mode" -> "merge")).swap.toOption.get.contains("pq_index.mode"))
  }

  test("pq_index mode append + pq_query: shard-over-shard codes, probe equals library path") {
    val out = tmpDir("pipe_pq")
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$out/s1/embeddings.parquet")
    emb.filter(col("vec_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/s2/embeddings.parquet")
    def buildYaml(in: String, shipped: String) =
      s"""input:
         |  path: $in
         |  table: embeddings
         |output:
         |  path: $out/$shipped
         |steps: pq_index
         |pq_index:
         |  path: $out/pq
         |  mode: append
         |pq:
         |  m: 8
         |  k_codes: 16
         |""".stripMargin
    val cfg1 = GraftPipeline.fromKv(YamlConfig.parse(buildYaml(s"$out/s1", "ship1"))).toOption.get
    assert(cfg1.pqMode == "append" && cfg1.pqM == 8 && cfg1.pqKCodes == 16)
    GraftPipeline.run(spark, cfg1) // first shard: auto-build
    GraftPipeline.run(spark,
      GraftPipeline.fromKv(YamlConfig.parse(buildYaml(s"$out/s2", "ship2"))).toOption.get)
    assert(spark.read.parquet(s"$out/pq/codes").count() == emb.count())
    // probe via YAML: input relation is the query set
    emb.filter(col("vec_id") < 4)
      .write.mode("overwrite").parquet(s"$out/q/embeddings.parquet")
    val queryYaml =
      s"""input:
         |  path: $out/q
         |  table: embeddings
         |output:
         |  path: $out/knn
         |steps: pq_query
         |pq_index:
         |  path: $out/pq
         |ann:
         |  k: 5
         |""".stripMargin
    GraftPipeline.run(spark,
      GraftPipeline.fromKv(YamlConfig.parse(queryYaml)).toOption.get)
    val got = spark.read.parquet(s"$out/knn")
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank").collect().toSeq
    val want = graft.sim.Similarity.queryPqIndex(spark, s"$out/pq",
        spark.read.parquet(s"$out/q/embeddings.parquet"), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank").collect().toSeq
    assert(got == want && got.nonEmpty)
    // guards: build+probe same run; bad mode; missing path
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "pq_index,pq_query", "pq_index.path" -> "c"))
      .swap.toOption.get.contains("cannot share a run"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "pq_index", "pq_index.path" -> "c", "pq_index.mode" -> "merge"))
      .swap.toOption.get.contains("pq_index.mode"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "pq_query")).swap.toOption.get.contains("pq_index.path"))
  }

  test("ann_index + ann_query: build and probe a persisted IVF index via YAML") {
    val out = tmpDir("pipe8")
    // run 1: index the embeddings table (post-write, like fingerprint_store)
    val buildYaml =
      s"""input:
         |  path: $sf001
         |  table: embeddings
         |output:
         |  path: $out/shipped
         |steps: ann_index
         |ann_index:
         |  path: $out/ivf
         |ann:
         |  centroids: 8
         |""".stripMargin
    val buildCfg = GraftPipeline.fromKv(YamlConfig.parse(buildYaml)).toOption.get
    assert(buildCfg.annCentroids == 8 && buildCfg.annIndexPath == s"$out/ivf")
    val (nIn, nOut) = GraftPipeline.run(spark, buildCfg)
    assert(nIn == nOut && nOut > 0)
    assert(spark.read.parquet(s"$out/ivf/centroids").count() == 8)
    assert(spark.read.parquet(s"$out/ivf/assigned").count() == nOut)

    // run 2: probe it — input relation IS the query set, output the top-k
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter(col("vec_id") < 6)
      .write.mode("overwrite").parquet(s"$out/q/embeddings.parquet")
    val queryYaml =
      s"""input:
         |  path: $out/q
         |  table: embeddings
         |output:
         |  path: $out/knn
         |steps: ann_query
         |ann_index:
         |  path: $out/ivf
         |ann:
         |  k: 5
         |  n_probe: 4
         |""".stripMargin
    val queryCfg = GraftPipeline.fromKv(YamlConfig.parse(queryYaml)).toOption.get
    GraftPipeline.run(spark, queryCfg)
    val got = spark.read.parquet(s"$out/knn")
      .select("query_id", "neighbor_id", "cos", "rank")
    val want = graft.sim.Similarity.queryIvfIndex(spark, s"$out/ivf",
      spark.read.parquet(s"$out/q/embeddings.parquet"), "vec_id", "embedding",
      k = 5, nProbe = 4)
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.groupBy("query_id").count().filter(col("count") > 5).count() == 0)

    // config guards: path required; ann_query must be last
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "ann_index")).swap.toOption.get.contains("ann_index.path"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "ann_query,split", "ann_index.path" -> "c"))
      .swap.toOption.get.contains("final step"))
  }

  test("bm25_index + bm25_query: build and probe a persisted inverted index via YAML") {
    import spark.implicits._
    val out = tmpDir("pipe9")
    val buildYaml =
      s"""input:
         |  path: $sf001
         |  table: documents
         |output:
         |  path: $out/shipped
         |steps: bm25_index
         |bm25_index:
         |  path: $out/inv
         |""".stripMargin
    val buildCfg = GraftPipeline.fromKv(YamlConfig.parse(buildYaml)).toOption.get
    assert(buildCfg.bm25IndexPath == s"$out/inv")
    val (nIn, nOut) = GraftPipeline.run(spark, buildCfg)
    assert(nIn == nOut && nOut > 0)
    assert(graft.text.Retrieval.indexExists(spark, s"$out/inv"))

    // probe: input relation IS the (query_id, term) set
    Seq((1L, "dup"), (1L, "merge"), (2L, "vector"))
      .toDF("query_id", "term")
      .write.mode("overwrite").parquet(s"$out/q/terms.parquet")
    val queryYaml =
      s"""input:
         |  path: $out/q
         |  table: terms
         |output:
         |  path: $out/hits
         |steps: bm25_query
         |bm25_index:
         |  path: $out/inv
         |bm25:
         |  k: 4
         |""".stripMargin
    val queryCfg = GraftPipeline.fromKv(YamlConfig.parse(queryYaml)).toOption.get
    GraftPipeline.run(spark, queryCfg)
    val got = spark.read.parquet(s"$out/hits")
      .select("query_id", "doc_id", "rank", "score_u", "n_hit_terms")
    val want = graft.text.Retrieval.bm25TopK(
      spark.read.parquet(s"$sf001/documents.parquet"),
      Seq((1L, "dup"), (1L, "merge"), (2L, "vector")).toDF("query_id", "term"),
      "text", "doc_id", k = 4)
    assert(got.collect().toSet == want.collect().toSet)

    // config guards: path required; bm25_query must be last
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "bm25_index")).swap.toOption.get.contains("bm25_index.path"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "bm25_query,split", "bm25_index.path" -> "c"))
      .swap.toOption.get.contains("final step"))
  }

  test("fingerprint_store accumulates per-source (rows, fp) across shard runs") {
    import spark.implicits._
    val out = tmpDir("pipe6")
    val store = s"$out/fp_store"
    Seq((1L, "one text", "en", "web"), (2L, "two text", "en", "news"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s1/documents.parquet")
    Seq((3L, "three text", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/s2/documents.parquet")
    def cfg(in: String, shard: String) = GraftPipeline.PipelineConfig(
      inputDir = in, table = "documents", outputDir = s"$out/$shard",
      steps = Seq("fingerprint_store"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      fingerprintStorePath = store)
    GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    GraftPipeline.run(spark, cfg(s"$out/s2", "shard2"))
    // the accumulated store equals a one-shot recompute over both outputs
    val both = spark.read.parquet(s"$out/shard1")
      .unionByName(spark.read.parquet(s"$out/shard2"))
    val expect = graft.fp.Fingerprint.byPartition(both,
        Seq("source" -> col("source")),
        Seq(col("doc_id"), col("text"), col("source")))
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def got() = graft.fp.FingerprintStore.read(spark, store).get
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got() == expect)
    // replaying shard 1 (same input path = same default shard id) is a
    // no-op: the in-store guard refuses the double-fold
    GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    assert(got() == expect)
    assert(graft.fp.FingerprintStore.foldedShards(spark, store) ==
      Set(s"$out/s1", s"$out/s2"))
  }

  test("bm25_index mode append + compact: shard-over-shard index equals a rebuild, compaction shrinks it") {
    import spark.implicits._
    val out = tmpDir("pipe10")
    val inv = s"$out/inv"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    (0 until 3).foreach(i => docs
      .filter(col("doc_id").isNull && lit(i) === 0 || pmod(col("doc_id"), lit(3)) === i)
      .write.mode("overwrite").parquet(s"$out/in$i/documents.parquet"))
    def shardYaml(i: Int) =
      s"""input:
         |  path: $out/in$i
         |  table: documents
         |output:
         |  path: $out/shipped$i
         |steps: bm25_index
         |shard_id: shard$i
         |bm25_index:
         |  path: $inv
         |  mode: append
         |""".stripMargin
    (0 until 3).foreach { i =>
      val cfg = GraftPipeline.fromKv(YamlConfig.parse(shardYaml(i))).toOption.get
      assert(cfg.bm25Mode == "append")
      GraftPipeline.run(spark, cfg)
    }
    val terms = Seq((1L, "dup"), (1L, "merge"), (2L, "vector"), (3L, "stream"))
      .toDF("query_id", "term")
    def probe() = graft.text.Retrieval.queryBm25Index(spark, inv, terms, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    // three appended shards answer exactly like one full-corpus scan
    val direct = graft.text.Retrieval.bm25TopK(docs, terms, "text", "doc_id", k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(probe() == direct)
    // a replayed shard run (same shard_id) must not double-fold
    GraftPipeline.run(spark,
      GraftPipeline.fromKv(YamlConfig.parse(shardYaml(1))).toOption.get)
    assert(probe() == direct)
    // compact run: fewer files, identical probe
    val filesBefore = graft.core.AtomicStore.dataFileCount(spark, s"$inv/postings")
    val compactYaml =
      s"""input:
         |  path: $out/in0
         |  table: documents
         |output:
         |  path: $out/compact_out
         |steps: compact
         |bm25_index:
         |  path: $inv
         |""".stripMargin
    GraftPipeline.run(spark,
      GraftPipeline.fromKv(YamlConfig.parse(compactYaml)).toOption.get)
    assert(graft.core.AtomicStore.dataFileCount(spark, s"$inv/postings") < filesBefore)
    assert(probe() == direct)
    // config guards: bad mode rejected; compact with no store paths rejected
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "bm25_index", "bm25_index.path" -> "c",
      "bm25_index.mode" -> "merge")).swap.toOption.get.contains("mode"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "compact")).swap.toOption.get.contains("store path"))
  }

  test("bloom_decontaminate drops every exact-contaminated doc; config requires benchmark.path") {
    import spark.implicits._
    val out = tmpDir("pipe_bloom")
    val leak = "the secret benchmark passage nobody should train on"
    Seq(
      (1L, s"normal document text one $leak", "en", "src"),
      (2L, "completely unrelated content here", "en", "src"),
      (3L, s"another leaky page with $leak inside", "en", "src")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    Seq((100L, leak, "en", "bench")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/bench/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> out, "output.path" -> s"$out/shards",
      "steps" -> "bloom_decontaminate",
      "benchmark.path" -> s"$out/bench")).toOption.get
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // no false negatives: every doc sharing a shingle MUST drop; doc 2 may
    // only drop on a bloom false positive — impossible here (a 2^19-bit
    // filter over ~7 keys has FPR ~1e-10)
    assert(kept == Set(2L))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "bloom_decontaminate")).swap.toOption.get.contains("benchmark.path"))
  }

  test("dedup_containment drops the embedded doc, keeps wrapper and bystander; mutual keeps smaller id") {
    import spark.implicits._
    val out = tmpDir("pipe_contain")
    val small = (1 to 10).map(i => s"quote$i").mkString(" ")
    val filler = (1 to 200).map(i => s"body$i").mkString(" ")
    Seq(
      (1L, small, "en", "src"),                 // contained -> drops
      (2L, s"$filler $small", "en", "src"),     // the container -> stays
      (3L, (1 to 50).map(i => s"x$i").mkString(" "), "en", "src"), // bystander
      (4L, (1 to 30).map(i => s"m$i").mkString(" "), "en", "src"), // mutual pair:
      (5L, (1 to 30).map(i => s"m$i").mkString(" "), "en", "src")  // larger id drops
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "dedup_containment")).toOption.get
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("dedup_fuzzy drops the typo'd later doc, keeps the first and unrelated docs") {
    import spark.implicits._
    val out = tmpDir("pipe_fuzzy")
    val base = "the quick brown fox jumps over lazy dogs tonight"
    Seq(
      (1L, base, "en", "src"),                       // first -> stays
      (2L, base.replace("quick", "quack") , "en", "src"), // 1 sub in prefix -> drops
      (3L, base, "en", "src"),                       // exact dup -> drops
      (4L, "completely different text body here", "en", "src")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "dedup_fuzzy")).toOption.get
    GraftPipeline.run(spark, cfg)
    val kept = spark.read.parquet(s"$out/shards").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    // prefix-length knob reaches the join: full-width prefixes differ at
    // char 5 ("quick"/"quack") but a 4-char prefix makes 1-2 exact dups
    val cfg4 = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards4",
      "steps" -> "dedup_fuzzy", "fuzzy_prefix_len" -> "4")).toOption.get
    assert(cfg4.fuzzyPrefixLen == 4)
    GraftPipeline.run(spark, cfg4)
    val kept4 = spark.read.parquet(s"$out/shards4").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept4 == Set(1L, 4L))
  }

  test("unimax step: epoch-capped sources replicate exactly, uncapped share the budget; guards hold") {
    import spark.implicits._
    val out = tmpDir("pipe_unimax")
    // tokens: small 2x5=10 (cap 20), mid 10x10=100 (cap 200),
    // big 20x50=1000 (cap 2000); budget 300 -> small caps at 2.0 epochs,
    // mid/big split the remaining 280 at 140 each (epochs_u 1.4e6 / 0.14e6)
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val rows =
      (0 until 2).map(i => (100L + i, doc(5), "en", "small")) ++
      (0 until 10).map(i => (200L + i, doc(10), "en", "mid")) ++
      (0 until 20).map(i => (300L + i, doc(50), "en", "big"))
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "unimax",
      "unimax.budget_tokens" -> "300", "unimax.epochs" -> "2")).toOption.get
    GraftPipeline.run(spark, cfg)
    val perDoc = spark.read.parquet(s"$out/shards")
      .groupBy("doc_id", "source").count().collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    // capped source: exactly 2 copies of every doc (epochs_u = 2.0 exactly)
    assert(perDoc.count(_._1 == "small") == 2)
    assert(perDoc.filter(_._1 == "small").forall(_._2 == 2L))
    // uncapped: mid docs 1-2 copies (rate 1.4), big docs at most 1 (rate 0.14)
    assert(perDoc.filter(_._1 == "mid").forall(c => c._2 == 1L || c._2 == 2L))
    assert(perDoc.filter(_._1 == "big").forall(_._2 == 1L))
    // determinism: a rerun emits the identical multiset
    GraftPipeline.run(spark, cfg.copy(outputDir = s"$out/shards2"))
    val again = spark.read.parquet(s"$out/shards2")
      .groupBy("doc_id", "source").count().collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(perDoc.sorted == again.sorted)
    // guards: ordering, missing budget, zero epochs
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "unimax,pack", "unimax.budget_tokens" -> "10"))
      .swap.exists(_.contains("follow unimax")))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "unimax")).swap.exists(_.contains("budget_tokens")))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "unimax", "unimax.budget_tokens" -> "10",
      "unimax.epochs" -> "0")).swap.exists(_.contains("epochs")))
  }

  test("rollup step: shard-over-shard aggregate states, replay heals, compact invisible") {
    import spark.implicits._
    val out = tmpDir("pipe_rollup")
    val store = s"$out/rollup_store"
    def doc(id: Long, lang: String, n: Long) = (id, s"text $id", lang, "src", n)
    Seq(doc(1, "en", 10), doc(2, "en", 20), doc(3, "de", 5))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/s1/documents.parquet")
    Seq(doc(10, "en", 7), doc(11, "de", 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/s2/documents.parquet")
    def cfg(in: String, shard: String, steps: Seq[String] = Seq("rollup")) =
      GraftPipeline.PipelineConfig(
        inputDir = in, table = "documents", outputDir = s"$out/$shard",
        steps = steps, qualityMin = 0.0,
        minhashThreshold = 0.5, packBudget = 512, testPct = 1,
        rollupStorePath = store, rollupKeys = Seq("lang"))
    GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    GraftPipeline.run(spark, cfg(s"$out/s2", "shard2"))
    def merged = graft.agg.AggStore.merged(spark, store)
      .select("lang", "n", "sum_micros", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val expect = Set(("en", 3L, 37000000L, 7.0, 20.0), ("de", 2L, 8000000L, 3.0, 5.0))
    assert(merged == expect)
    // replay of a committed shard: short-circuits the run AND the fold
    // (shard-id guard in-store) — states unchanged
    GraftPipeline.run(spark, cfg(s"$out/s1", "shard1"))
    assert(merged == expect)
    // compact in a replay run: reader-invisible, fold still guarded
    GraftPipeline.run(spark, cfg(s"$out/s1", "shard1", Seq("rollup", "compact")))
    assert(merged == expect)
    assert(graft.agg.AggStore.processedShards(spark, store) ==
      Set(s"$out/s1", s"$out/s2"))
    // fromKv refuses the step without its store path, and refuses an
    // empty key list BEFORE anything runs (a post-write throw would wedge
    // the shard mid-protocol on every replay)
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup")).swap.exists(_.contains("rollup_store.path")))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.keys" -> " , ")).swap.exists(_.contains("rollup.keys")))
  }

  test("sample step: deterministic keyed fraction; config validates the window") {
    val out = tmpDir("pipe_sample")
    def cfg(o: String) = GraftPipeline.PipelineConfig(
      inputDir = sf001, table = "documents", outputDir = o,
      steps = Seq("sample"), qualityMin = 0.0,
      minhashThreshold = 0.5, packBudget = 512, testPct = 1,
      sampleFraction = 0.5)
    val (nIn, nOut) = GraftPipeline.run(spark, cfg(s"$out/a"))
    assert(nOut > 0 && nOut < nIn)
    // binomial(500, 0.5): +-5 sigma ~ 56
    assert(math.abs(nOut - nIn / 2) < 60, s"kept $nOut of $nIn at fraction 0.5")
    // replay-stable: the same rows survive a second run (the property the
    // shard-replay protocol depends on through this step)
    GraftPipeline.run(spark, cfg(s"$out/b"))
    def ids(p: String) = spark.read.parquet(p).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(s"$out/a") == ids(s"$out/b"))
    // config validation: fraction required in (0,1], offset window bounded
    def bad(kv: (String, String)*) = GraftPipeline.fromKv(Map("input.path" -> "a",
      "output.path" -> "b", "steps" -> "sample") ++ kv.toMap).swap.toOption.get
    assert(bad().contains("sample.fraction"))
    assert(bad("sample.fraction" -> "1.5").contains("sample.fraction"))
    assert(bad("sample.fraction" -> "0.5", "sample.offset" -> "0.8")
      .contains("offset"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "sample", "sample.fraction" -> "0.25",
      "sample.offset" -> "0.5")).isRight)
  }

  test("rollup step: multi-measure YAML config; malformed measures rejected pre-run") {
    import spark.implicits._
    val out = tmpDir("pipe_rollup_m")
    val store = s"$out/rollup_store"
    Seq((1L, "t1", "en", "src", 10L), (2L, "t2", "en", "src", 20L),
        (3L, "t3", "de", "src", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "rollup", "rollup_store.path" -> store,
      "rollup.keys" -> "lang",
      "rollup.measures" -> "chars:n_chars, half:n_chars * 0.5")).toOption.get
    assert(cfg.rollupMeasures ==
      Seq("chars" -> "n_chars", "half" -> "n_chars * 0.5"))
    GraftPipeline.run(spark, cfg)
    val m = graft.agg.AggStore.merged(spark, store)
      .select("lang", "n", "chars_sum_u", "half_sum_u")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(m == Set(("en", 2L, 30000000L, 15000000L), ("de", 1L, 6000000L, 3000000L)))
    // malformed entries fail the CONFIG, not the post-write fold
    def bad(ms: String) = GraftPipeline.fromKv(Map("input.path" -> "a",
      "output.path" -> "b", "steps" -> "rollup",
      "rollup_store.path" -> "c", "rollup.measures" -> ms)).swap.toOption.get
    assert(bad("chars").contains("name:expression"))
    assert(bad("bad:)(").contains("unparseable"))
    // duplicate measure names and key/state-name collisions must ALSO
    // fail at config time (post-write they'd throw after the shard
    // output committed, re-failing on every replay)
    assert(bad("a:n_chars,a:n_tokens").contains("duplicate"))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a",
      "output.path" -> "b", "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.keys" -> "chars_min", "rollup.measures" -> "chars:n_chars"))
      .swap.exists(_.contains("collide")))
  }

  test("rollup step: moments/co_moments states — variance and corr from the pipeline store") {
    import spark.implicits._
    val out = tmpDir("pipe_rollup_mom")
    val store = s"$out/rollup_store"
    Seq((1L, "t1", "en", "src", 10L), (2L, "t2", "en", "src", 20L),
        (3L, "t3", "de", "src", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "rollup", "rollup_store.path" -> store,
      "rollup.keys" -> "lang",
      "rollup.measures" -> "chars:n_chars",
      "rollup.moments" -> "chars",
      "rollup.co_moments" -> "cv:n_chars:doc_id")).toOption.get
    GraftPipeline.run(spark, cfg)
    val m = graft.agg.AggStore.merged(spark, store).collect()
      .map(r => r.getString(r.fieldIndex("lang")) -> r).toMap
    // en: chars {10, 20} → var_samp 50; (n_chars, doc_id) perfectly
    // correlated → corr 1, cov_samp (50 − 30·3/2)/1 = 5
    assert(math.abs(m("en").getAs[Double]("chars_var") - 50.0) < 1e-9)
    assert(m("de").isNullAt(m("de").fieldIndex("chars_var")),
      "singleton group must read NULL var_samp")
    assert(math.abs(m("en").getAs[Double]("cv_corr") - 1.0) < 1e-9)
    assert(math.abs(m("en").getAs[Double]("cv_cov") - 5.0) < 1e-9)
    // misconfig fails at CONFIG time, not in the post-write fold
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.measures" -> "chars:n_chars", "rollup.moments" -> "nope"))
      .swap.exists(_.contains("rollup.moments")))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.co_moments" -> "cv:n_chars:doc_id"))
      .swap.exists(_.contains("rollup.co_moments")))
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.measures" -> "chars:n_chars", "rollup.co_moments" -> "bad:x"))
      .swap.exists(_.contains("name:x_column:y_column")))
  }

  test("rollup step: register_mv — corpus-root aggregates answer from the store, fresh per shard") {
    import spark.implicits._
    val out = tmpDir("pipe_rollup_mv")
    val root = s"$out/corpus"
    val store = s"$out/rollup_store" // OUTSIDE the corpus root
    def doc(id: Long, lang: String, n: Long) = (id, s"text $id", lang, "src", n)
    Seq(doc(1, "en", 10), doc(2, "en", 20), doc(3, "de", 5))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in_a/documents.parquet")
    Seq(doc(10, "en", 7), doc(11, "de", 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in_b/documents.parquet")
    // shard outputs live under the partition-discoverable corpus root
    def cfg(in: String, shard: String) = GraftPipeline.fromKv(Map(
      "input.path" -> in, "output.path" -> s"$root/shard=$shard",
      "steps" -> "rollup", "rollup_store.path" -> store,
      "rollup.keys" -> "lang", "rollup.measures" -> "chars:n_chars",
      "rollup.register_mv" -> "true",
      "rollup.mv_raw_path" -> root)).toOption.get
    try {
      GraftPipeline.run(spark, cfg(s"$out/in_a", "a"))
      def q = spark.read.parquet(root).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(graft.agg.AggStore.micros(col("n_chars"))).as("chars_u"))
      def scansRoot(df: org.apache.spark.sql.DataFrame) =
        graft.plans.MaterializedRollups.scanPaths(df).exists(_.contains("corpus"))
      assert(!scansRoot(q), "corpus-root aggregate should answer from the store")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("en", 2L, 30000000L), ("de", 1L, 5000000L)))
      // second shard lands: BEFORE its run re-registers, a fresh read of
      // the grown root must FALL BACK (stale signature), never undercount
      GraftPipeline.run(spark, cfg(s"$out/in_b", "b"))
      assert(!scansRoot(q), "re-registration should cover the grown root")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("en", 3L, 37000000L), ("de", 2L, 8000000L)))
      // a file landing WITHOUT a pipeline run (no re-register): fallback
      Seq(doc(99, "en", 100)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$root/shard=c")
      assert(scansRoot(q), "a grown root without re-registration must scan raw")
      assert(q.filter(col("lang") === "en").head().getLong(1) == 4L)
      // config gate: register_mv without measures or raw path fails pre-run
      assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
        "steps" -> "rollup", "rollup_store.path" -> "c",
        "rollup.register_mv" -> "true",
        "rollup.mv_raw_path" -> root)).swap.exists(_.contains("register_mv")))
      assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
        "steps" -> "rollup", "rollup_store.path" -> "c",
        "rollup.measures" -> "chars:n_chars",
        "rollup.register_mv" -> "true")).swap.exists(_.contains("register_mv")))
    } finally graft.plans.MaterializedRollups.clear()
  }

  test("rollup step: sketch/map states from config (distinct, quantile, sum_map)") {
    import spark.implicits._
    val out = tmpDir("pipe_rollup_st")
    val store = s"$out/rollup_store"
    Seq((1L, "a", "en", "s1", 10L), (2L, "b", "en", "s2", 20L),
        (3L, "c", "de", "s1", 6L), (4L, "d", "en", "s1", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "rollup", "rollup_store.path" -> store,
      "rollup.keys" -> "lang",
      "rollup.distinct_column" -> "source",
      "rollup.quantile_column" -> "n_chars",
      "rollup.sum_map" -> "by_source:source:n_chars",
      "rollup.top_k" -> "source:8")).toOption.get
    assert(cfg.rollupSumMap == Seq(("by_source", "source", "n_chars")))
    assert(cfg.rollupTopK == ("source", 8))
    GraftPipeline.run(spark, cfg)
    val en = graft.agg.AggStore.merged(spark, store)
      .filter(col("lang") === "en").head
    // uniqState: en has sources {s1, s2} — HLL exact at this cardinality
    assert(en.getAs[Long]("n_distinct_est") == 2L)
    // quantileState: the estimate is a group data value (rank-bounded)
    assert(Seq(10.0, 20.0, 30.0).contains(en.getAs[Double]("q_p50")))
    // sumMapState: key-wise micro-unit sums per source
    assert(en.getAs[Map[String, Long]]("by_source_summap") ==
      Map("s1" -> 40000000L, "s2" -> 20000000L))
    // topKState: under capacity (2 distinct < k=8) the kept counts are
    // the exact per-item counts, sorted count-desc then item
    assert(en.getSeq[org.apache.spark.sql.Row](en.fieldIndex("topk_items"))
      .map(r => (r.getString(0), r.getLong(1))).toList == List(("s1", 2L), ("s2", 1L)))
    // malformed top_k entries fail the CONFIG too
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.top_k" -> "source:zero")).swap.exists(_.contains("rollup.top_k")))
    // malformed sum_map entries fail the CONFIG, not the post-write fold
    def bad(sm: String) = GraftPipeline.fromKv(Map("input.path" -> "a",
      "output.path" -> "b", "steps" -> "rollup",
      "rollup_store.path" -> "c", "rollup.sum_map" -> sm)).swap.toOption.get
    assert(bad("onlyname").contains("name:key_column:value_column"))
    assert(bad("a:k:v,a:k2:v2").contains("duplicate"))
    // a grouping key colliding with a configured map-state name fails too
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.keys" -> "m_summap", "rollup.sum_map" -> "m:k:v"))
      .swap.exists(_.contains("collide")))
  }

  test("rollup step: uniq_upto state from config — exact below the cap, sentinel above") {
    import spark.implicits._
    val out = tmpDir("pipe_rollup_upto")
    val store = s"$out/rollup_store"
    // en: 4 distinct sources (> cap 3 → sentinel 4); de: 2 (exact)
    Seq((1L, "a", "en", "s1", 10L), (2L, "b", "en", "s2", 20L),
        (3L, "c", "en", "s3", 5L), (4L, "d", "en", "s4", 7L),
        (5L, "e", "de", "s1", 6L), (6L, "f", "de", "s2", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/in/documents.parquet")
    val cfg = GraftPipeline.fromKv(Map(
      "input.path" -> s"$out/in", "output.path" -> s"$out/shards",
      "steps" -> "rollup", "rollup_store.path" -> store,
      "rollup.keys" -> "lang",
      "rollup.uniq_upto" -> "source:3")).toOption.get
    assert(cfg.rollupUniqUpTo == ("source", 3))
    GraftPipeline.run(spark, cfg)
    val got = graft.agg.AggStore.merged(spark, store)
      .select("lang", "n_distinct_upto")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en" -> 4L, "de" -> 2L))
    // malformed entries fail the CONFIG
    def bad(v: String) = GraftPipeline.fromKv(Map("input.path" -> "a",
      "output.path" -> "b", "steps" -> "rollup",
      "rollup_store.path" -> "c", "rollup.uniq_upto" -> v)).swap.toOption.get
    assert(bad("source").contains("column:N"))
    assert(bad("source:0").contains("column:N"))
    // a key colliding with the configured state name fails too
    assert(GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
      "steps" -> "rollup", "rollup_store.path" -> "c",
      "rollup.keys" -> "uniq_upto_3_sk", "rollup.uniq_upto" -> "source:3"))
      .swap.exists(_.contains("collide")))
  }

  /** Run `f`, returning the (output path, query plan) of every file write
    * it executes. */
  private def fileWrites[T](f: => T): (T, Seq[(String, String)]) = {
    val writes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand => c }
          .foreach(c => writes.synchronized(
            writes += (c.outputPath.toUri.getPath -> c.query.toString)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val result =
      try { val r = f; ListenerBus.drain(spark.sparkContext); r }
      finally spark.listenerManager.unregister(listener)
    (result, writes.synchronized(writes.toSeq))
  }

  /** Every file under `dir`: relative path -> (bytes, mtime). */
  private def fileStamps(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val it = java.nio.file.Files.walk(root)
    try it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        ((p.toFile.length(), p.toFile.lastModified()))).toMap
    finally it.close()
  }

  private def cardRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("data_card: a replay of a completed run keeps the card — no file rewritten, no card write") {
    val root = tmpDir("pipe_card_keep")
    val cfg = GraftPipeline.PipelineConfig(
      inputDir = sf001, table = "documents", outputDir = s"$root/shards",
      steps = Seq("dedup_seen", "data_card"),
      qualityMin = 0.0, minhashThreshold = 0.7, packBudget = 512, testPct = 1,
      seenStorePath = s"$root/seen", dataCardPath = s"$root/card",
      shardIdOverride = "s0")
    val first = GraftPipeline.run(spark, cfg)
    val before = fileStamps(s"$root/card")
    assert(before.contains(GraftPipeline.CardRecord))
    val (again, writes) = fileWrites(GraftPipeline.run(spark, cfg))
    assert(again == first)
    assert(fileStamps(s"$root/card") == before)
    assert(!writes.exists(_._1.startsWith(s"$root/card")), writes.map(_._1))
    assert(cardRows(spark.read.parquet(s"$root/card")) ==
      cardRows(GraftPipeline.dataCard(spark.read.parquet(s"$root/shards"))))
  }

  test("data_card: rebuilt when the output changed under it, or its record is missing or unparseable") {
    val root = tmpDir("pipe_card_rebuild")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$root/a/documents.parquet")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$root/b/documents.parquet")
    def cfg(in: String, steps: String*) = GraftPipeline.PipelineConfig(
      inputDir = s"$root/$in", table = "documents", outputDir = s"$root/shards",
      steps = steps, qualityMin = 0.0, minhashThreshold = 0.7, packBudget = 512,
      testPct = 1, seenStorePath = s"$root/seen", dataCardPath = s"$root/card",
      shardIdOverride = in)
    def card() = cardRows(spark.read.parquet(s"$root/card"))
    def fresh() = cardRows(GraftPipeline.dataCard(spark.read.parquet(s"$root/shards")))
    def parts() = fileStamps(s"$root/card").keySet.filter(_.endsWith(".parquet"))
    GraftPipeline.run(spark, cfg("a", "dedup_seen", "data_card"))
    // shard b rewrites the output at the same paths and the run stops
    // before the card: the card still describes shard a's output
    GraftPipeline.run(spark, cfg("b", "dedup_seen"))
    assert(card() != fresh())
    // the replay short-circuits on the seen store and re-derives the card
    GraftPipeline.run(spark, cfg("b", "dedup_seen", "data_card"))
    assert(card() == fresh())
    val record = java.nio.file.Paths.get(s"$root/card/${GraftPipeline.CardRecord}")
    val recordCrc = java.nio.file.Paths.get(s"$root/card/.${GraftPipeline.CardRecord}.crc")
    for (damage <- Seq[() => Unit](
        // a card without a record, as written before cards carried one
        () => java.nio.file.Files.delete(record),
        () => java.nio.file.Files.write(record, "{\"format\": ".getBytes("UTF-8")))) {
      val stale = parts()
      damage()
      java.nio.file.Files.deleteIfExists(recordCrc)
      GraftPipeline.run(spark, cfg("b", "dedup_seen", "data_card"))
      assert(parts() != stale, "card not rebuilt")
      assert(card() == fresh())
      assert(java.nio.file.Files.exists(record))
    }
    // and the rebuilt record is kept by the next replay
    val kept = fileStamps(s"$root/card")
    GraftPipeline.run(spark, cfg("b", "dedup_seen", "data_card"))
    assert(fileStamps(s"$root/card") == kept)
  }

  test("dedup_neardup: the fold reuses the probe's signatures and equals the text-recomputed fold") {
    val root = tmpDir("pipe_nd_sigs")
    val store = s"$root/neardup"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(col("doc_id").isNotNull)
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$root/in1/documents.parquet")
    // shard 2: the odd docs, near copies of three even docs (one appended
    // token) under new ids, and a second, low-quality copy of one odd id
    val good = docs.filter(graft.text.TextAnalysis.qualityScore(col("text")) >= 0.5 &&
      length(col("text")) > 200)
    val dupId = good.filter(col("doc_id") % 2 === 1).agg(min("doc_id")).head().getLong(0)
    val near = good.filter(col("doc_id") % 2 === 0).orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + 900000L)
      .withColumn("text", concat(col("text"), lit(" zzqx")))
    val lowQuality = docs.filter(col("doc_id") === dupId)
      .withColumn("text", lit("?? !! ##"))
    docs.filter(col("doc_id") % 2 === 1).unionByName(near).unionByName(lowQuality)
      .write.parquet(s"$root/in2/documents.parquet")
    def cfg(k: Int, steps: String*) = GraftPipeline.PipelineConfig(
      inputDir = s"$root/in$k", table = "documents", outputDir = s"$root/out$k",
      steps = steps, qualityMin = 0.3, minhashThreshold = 0.7, packBudget = 512,
      testPct = 1, seenStorePath = s"$root/seen", nearDupStorePath = store,
      shardIdOverride = s"n$k")
    val steps = Seq("dedup_neardup", "quality_filter")
    GraftPipeline.run(spark, cfg(1, steps: _*))
    val (_, writes) = fileWrites(GraftPipeline.run(spark, cfg(2, steps: _*)))
    val out2 = spark.read.parquet(s"$root/out2")
    assert(out2.filter(col("doc_id") >= 900000L).count() == 0, "planted near copies kept")
    assert(out2.filter(col("doc_id") === dupId).count() == 1)
    // shard 2 probed a non-empty store: its fold read the probe's
    // signatures, no minhash ran on the written text
    val folds = writes.filter(_._1 == s"$store/sigs")
    assert(folds.size == 1 && !folds.head._2.contains("minhash_shingled"), folds)
    // heal path: shard 3 recorded in the seen store only; the replay
    // short-circuits and folds it from the committed text
    docs.filter(col("doc_id") % 2 === 1).limit(5)
      .withColumn("doc_id", col("doc_id") + 800000L)
      .withColumn("text", concat(lit("fresh prefix words here "), col("text")))
      .write.parquet(s"$root/in3/documents.parquet")
    GraftPipeline.run(spark, cfg(3, "dedup_seen"))
    val (_, healWrites) = fileWrites(
      GraftPipeline.run(spark, cfg(3, "dedup_seen", "dedup_neardup")))
    val heal = healWrites.filter(_._1 == s"$store/sigs")
    assert(heal.size == 1 && heal.head._2.contains("minhash_shingled"), heal)
    // canonical store rows equal a fold recomputed from each committed
    // output's text, shard by shard
    val ref = s"$root/ref"
    for (k <- 1 to 3)
      graft.dedup.NearDupStore.update(spark, ref,
        spark.read.parquet(s"$root/out$k"), "text", "doc_id", s"n$k")
    def rows(p: String) = graft.dedup.NearDupStore.read(spark, p).get
      .select(col("id"), col("sig"), array_sort(col("ts")).as("ts"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(store) == rows(ref))
    assert(graft.dedup.NearDupStore.read(spark, store).get
      .filter(col("id") === dupId).count() == 1)
  }

  test("pack: pack_id equals the flat per-source running sum, and the output write scans no input") {
    val out = tmpDir("pipe_pack_flat")
    val cfg = GraftPipeline.fromKv(Map("input.path" -> sf001, "output.path" -> out,
      "steps" -> "normalize,redact,quality_filter,split,pack", "pack_budget" -> "16"))
      .toOption.get
    // file scans under the output write: before the pack input was
    // materialised, its bases and row branches each scanned the input
    val scans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[InsertIntoHadoopFsRelationCommand])
          Plans.collect(qe.executedPlan) {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }.foreach(f => scans.synchronized(
            scans ++= f.relation.location.rootPaths.map(_.toUri.getPath)))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val (_, nOut) =
      try { val r = GraftPipeline.run(spark, cfg); ListenerBus.drain(spark.sparkContext); r }
      finally spark.listenerManager.unregister(listener)
    assert(scans.isEmpty, scans)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val got = spark.read.parquet(out).select("doc_id", "pack_id")
    val want = spark.read.parquet(out)
      .withColumn("nt", graft.text.TextAnalysis.tokenCount(col("text")).cast("long"))
      .select(col("doc_id"),
        floor(coalesce(sum("nt").over(w), lit(0L)) / 16).cast("long").as("pack_id"))
    assert(got.count() == nOut && got.select("pack_id").distinct().count() > 10)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("config: overlapping post-write store paths fail naming both keys") {
    def cfg(extra: (String, String)*) = GraftPipeline.fromKv(Map(
      "input.path" -> "/in", "output.path" -> "/w/corpus/shard=1",
      "steps" -> "dedup_seen,dedup_neardup,fingerprint_store,rollup,bm25_index,data_card",
      "seen_store.path" -> "/w/seen", "neardup_store.path" -> "/w/neardup",
      "fingerprint_store.path" -> "/w/fp", "rollup_store.path" -> "/w/rollup",
      "rollup.measures" -> "chars:n_chars", "rollup.register_mv" -> "true",
      "rollup.mv_raw_path" -> "/w/corpus", "bm25_index.path" -> "/w/bm25",
      "data_card.path" -> "/w/cards/shard_1") ++ extra)
    // the benchmark layout: output inside the MV corpus root, stores apart
    assert(cfg().isRight, cfg())
    def clash(keys: String*)(extra: (String, String)*) = {
      val err = cfg(extra: _*).swap.getOrElse(fail(s"accepted $extra"))
      keys.foreach(k => assert(err.contains(k), err))
    }
    clash("seen_store.path", "neardup_store.path")("neardup_store.path" -> "/w/seen")
    clash("seen_store.path", "fingerprint_store.path")("fingerprint_store.path" -> "/w/seen/fp")
    clash("rollup_store.path", "bm25_index.path")("rollup_store.path" -> "/w/bm25/")
    clash("ann_index.path", "pq_index.path")(
      "ann_index.path" -> "/w/idx", "pq_index.path" -> "/w/idx/pq")
    clash("bm25_index.path", "output.path")("bm25_index.path" -> "/w/corpus/shard=1/bm25")
    clash("fingerprint_store.path", "output.path")("output.path" -> "/w/fp/out")
    clash("seen_store.path", "rollup.mv_raw_path")("seen_store.path" -> "/w/corpus/seen")
    clash("data_card.path", "rollup.mv_raw_path")("data_card.path" -> "/w/corpus/card")
    // the default card path sits beside the output, so inside the MV root
    clash("data_card.path (default)", "rollup.mv_raw_path")("data_card.path" -> "")
    // a prefix that is not a parent is no overlap
    assert(cfg("neardup_store.path" -> "/w/seen2").isRight)
  }
}
