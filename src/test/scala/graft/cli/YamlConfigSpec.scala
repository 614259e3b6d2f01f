package graft.cli

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.GraftPipeline.PipelineConfig

/** The config boundary: YAML through [[YamlConfig.parse]], typed decoding
  * through [[GraftPipeline.fromKv]] and [[YamlConfig.fromText]]. No Spark. */
class YamlConfigSpec extends AnyFunSuite {

  private val base = "input:\n  path: /in\noutput:\n  path: /out\nsteps: normalize\n"

  private def pipeline(yaml: String): Either[String, PipelineConfig] =
    scala.util.Try(YamlConfig.parse(yaml)).toEither.left.map(_.getMessage)
      .flatMap(GraftPipeline.fromKv)

  test("parse: scalar source text, inline comments dropped, nested keys flattened") {
    val kv = YamlConfig.parse(
      """# leading comment
        |shard_id: 007
        |minhash_threshold: 0.9   # stricter
        |input:
        |  path: "/data/x # not a comment"
        |pq.rebalance_corpus:
        |  path: /p
        |""".stripMargin)
    assert(kv == Map("shard_id" -> "007", "minhash_threshold" -> "0.9",
      "input.path" -> "/data/x # not a comment", "pq.rebalance_corpus.path" -> "/p"))
    assert(YamlConfig.parse("") == Map.empty)
    assert(YamlConfig.parse("# only a comment\n") == Map.empty)
  }

  test("parse: duplicate keys, sequences, anchors and non-mappings fail naming the key") {
    def err(yaml: String) = intercept[YamlConfig.ConfigError](YamlConfig.parse(yaml)).getMessage
    assert(err("quality_min: 0.3\nquality_min: 0.5\n").contains("quality_min"))
    // the same flattened key written both dotted and nested
    assert(err("pq.m: 8\npq:\n  m: 4\n").contains("pq.m"))
    // a block written twice, even with different keys in each
    assert(err("input:\n  path: /a\ninput:\n  table: t\n").contains("input"))
    assert(err("rollup:\n  keys:\n    - lang\n").contains("rollup.keys"))
    assert(err("input:\n  path: &p /in\noutput:\n  path: *p\n").contains("input.path"))
    assert(err("- a\n- b\n").contains("mapping"))
    assert(err("steps: [unclosed\n").contains("malformed YAML"))
  }

  test("fromKv: an inline comment after a non-default value keeps the value") {
    val cfg = pipeline(base + "minhash_threshold: 0.9  # x\nshard_id: 007\n").toOption.get
    assert(cfg.minhashThreshold == 0.9)
    assert(cfg.shardId == "007")
    assert(cfg.inputDir == "/in" && cfg.outputDir == "/out")
  }

  test("fromKv: the documented example config decodes to its stated values") {
    val src = scala.io.Source.fromResource("graft/cli/pipeline-example.yaml")(scala.io.Codec.UTF8)
    val cfg = try pipeline(src.mkString).toOption.get finally src.close()
    assert(cfg == PipelineConfig(inputDir = "/data/corpus", table = "documents",
      outputDir = "/data/shards", steps = Seq("normalize", "redact", "dedup_exact",
        "dedup_minhash", "quality_filter", "split", "pack"),
      qualityMin = 0.3, minhashThreshold = 0.7, packBudget = 512, testPct = 1,
      bucketBy = "doc_id", buckets = 8, outputTable = "my_corpus"))
  }

  test("fromKv: unknown keys and malformed values fail naming the key") {
    val typo = pipeline(base + "minhash_treshold: 0.9\n")
    assert(typo.swap.exists(_.contains("minhash_treshold")), typo)
    val comma = pipeline(base + "minhash_threshold: 0,9\n")
    assert(comma.swap.exists(e => e.contains("minhash_threshold") && e.contains("0,9")), comma)
    for ((k, v) <- Seq("pack_budget" -> "5l2", "output.buckets" -> "eight",
        "unimax.budget_tokens" -> "1e3", "sample.fraction" -> "half",
        "rollup.register_mv" -> "yes", "rollup.register_mv" -> "True",
        "rollup.sum_map" -> ":", "rollup.co_moments" -> "a:b")) {
      val got = GraftPipeline.fromKv(Map("input.path" -> "a", "output.path" -> "b",
        "steps" -> "normalize", k -> v))
      assert(got.swap.exists(_.contains(k)), s"$k: $v -> $got")
    }
    assert(pipeline(base + "quality_min: 0.3\nquality_min: 0.5\n")
      .swap.exists(_.contains("quality_min")))
  }

  test("fromKv: a map decodes the same as the YAML that flattens to it") {
    val kv = Map("input.path" -> "/in", "output.path" -> "/out/shard=1",
      "shard_id" -> "shard-1", "steps" -> "normalize,dedup_seen,rollup,bm25_index",
      "seen_store.path" -> "/s/seen", "rollup_store.path" -> "/s/rollup",
      "rollup.measures" -> "chars:n_chars", "rollup.register_mv" -> "true",
      "rollup.mv_raw_path" -> "/out", "bm25_index.path" -> "/s/bm25",
      "bm25_index.mode" -> "append")
    val want = PipelineConfig(inputDir = "/in", outputDir = "/out/shard=1",
      shardIdOverride = "shard-1",
      steps = Seq("normalize", "dedup_seen", "rollup", "bm25_index"),
      seenStorePath = "/s/seen", rollupStorePath = "/s/rollup",
      rollupMeasures = Seq("chars" -> "n_chars"), rollupRegisterMv = true,
      rollupMvRawPath = "/out", bm25IndexPath = "/s/bm25", bm25Mode = "append")
    assert(GraftPipeline.fromKv(kv) == Right(want))
    assert(pipeline(
      """input:
        |  path: /in
        |output:
        |  path: /out/shard=1
        |shard_id: shard-1
        |steps: normalize,dedup_seen,rollup,bm25_index
        |seen_store:
        |  path: /s/seen
        |rollup_store:
        |  path: /s/rollup
        |rollup:
        |  measures: chars:n_chars
        |  register_mv: true
        |  mv_raw_path: /out
        |bm25_index:
        |  path: /s/bm25
        |  mode: append
        |""".stripMargin) == Right(want))
  }

  test("fromText: the copy config rejects a malformed port and an unknown key by name") {
    def err(yaml: String) = intercept[YamlConfig.ConfigError](YamlConfig.fromText(yaml)).getMessage
    val port = err("source:\n  port: 90o0\n")
    assert(port.contains("source.port") && port.contains("90o0"), port)
    assert(err("source:\n  tabel: t\n").contains("source.tabel"))
    // the reference's dead worker-pool knobs load and change nothing
    assert(YamlConfig.fromText("worker_pool:\n  num_retry: 50\n  chan_len: 100\n") ==
      YamlConfig.GraftConfig())
  }
}
