package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** 10⁴-query batched-retrieval stress (round-10 verdict #7): q152/q154/
  * q155 gate the batched probe paths at 10³ queries; the round-9 10k
  * record covered BM25 only. This main runs BM25, IVF, and hybrid-RRF
  * batched probes at BOTH 10³ and 10⁴ queries in one dedicated JVM
  * (the full-catalog bench JVM cannot host the 10k aggregation state —
  * see the comment on the q152 gate in PipelineQueries), with:
  *
  *  - the no-BNLJ / no-cartesian PLAN GUARD asserted on every probe's
  *    executed plan — the distributed equi-join assignment must survive
  *    batch-scale query relations (a BroadcastNestedLoopJoin here means
  *    the probe degenerated to |queries| × corpus work);
  *  - per-phase splits (build vs probe) and the 10k/1k per-query cost
  *    ratio — flat per-query cost (ratio ≈ 10 for 10× the queries) is
  *    the scaling claim the record certifies.
  *
  * IVF 10k queries: the sf0.1 embeddings corpus holds 2000 vectors, so
  * the 10⁴ batch replicates each corpus vector under 5 distinct query
  * ids — probe-side volume and routing are what is being stressed, and
  * each replica routes/joins independently of its siblings.
  *
  * Record: one JSON line, also written to tmp/bench_batch10k.json.
  */
object BatchStress {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    /** The batch-scale plan guard: a probe plan that fell off the
      * equi-join path shows up as a cartesian product or a BNLJ whose
      * build side is real data. The ONE legitimate BNLJ in these probes
      * is the single-row centroid-array/stats literal (the CatalogPlanSpec
      * whitelist shape) — allowed iff the build side is a LocalTableScan
      * literal, never a file scan. */
    def guarded(tag: String, df: DataFrame): DataFrame = {
      val exec = df.queryExecution.executedPlan
      require(!exec.toString.contains("CartesianProduct"),
        s"$tag probe plan degenerated (cartesian):\n${exec.toString.take(2000)}")
      // collect() does not descend into the AdaptiveSparkPlanExec wrapper
      // (the inner plan is a field, not a child) — unwrap it explicitly,
      // or the BNLJ sweep is vacuously green under AQE
      val root = exec match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      val bnljs = root.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      require(bnljs.nonEmpty || !root.toString.contains("BroadcastNestedLoop"),
        s"$tag: BNLJ present but not collectible — guard cannot vouch for this plan")
      bnljs.foreach { b =>
        val build = (b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case _ => b.right
        }).toString
        require(build.contains("LocalTableScan") && !build.contains("FileScan"),
          s"$tag: BNLJ build side is not a bounded literal:\n${build.take(2000)}")
      }
      df
    }
    def drain(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val nVec = emb.count()
    // materialised (localCheckpoint): the replication crossJoin is query
    // GENERATION, not probe work — it must be neither in the probe plan
    // (the BNLJ guard below watches probe joins) nor in the probe timing
    def ivfQueries(n: Int): DataFrame = {
      val reps = ((n + nVec - 1) / nVec).toInt
      emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(spark.range(reps.toLong).select(col("id").as("__r"))))
        .select((col("vec_id") + col("__r") * nVec).as("vec_id"), col("embedding"))
        .filter(col("vec_id") < n)
        .localCheckpoint(true)
    }

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // ---- BM25 ----
    val bmDir = graft.core.Fs.scratchDir("graft_stress_bm25")
    try {
      phases("bm25_build") = timed(graft.text.Retrieval.buildBm25Index(
        docs, "text", "doc_id", bmDir.toString, buckets = 8))
      // warm (codegen) then timed, per batch size
      for (n <- Seq(1000, 1000, 10000)) {
        val t = timed(drain(guarded(s"bm25_$n",
          graft.text.Retrieval.queryBm25IndexBatched(spark, bmDir.toString,
            graft.queries.PipelineQueries.batchQueryDf(spark, n), k = 5))))
        phases(s"bm25_probe_${n / 1000}k") = t
      }
    } finally graft.core.Fs.deleteRecursively(bmDir)
    // ---- IVF ----
    val ivfDir = graft.core.Fs.scratchDir("graft_stress_ivf")
    try {
      phases("ivf_build") = timed(Similarity.buildIvfIndex(
        emb, "vec_id", "embedding", ivfDir.toString, nCentroids = 16))
      for (n <- Seq(1000, 1000, 10000)) {
        val t = timed(drain(guarded(s"ivf_$n",
          Similarity.queryIvfIndexBatched(spark, ivfDir.toString,
            ivfQueries(n), "vec_id", "embedding", k = 10, nProbe = 4))))
        phases(s"ivf_probe_${n / 1000}k") = t
      }
      // ---- hybrid RRF: batched sparse + batched dense, fused ----
      val bmDir2 = graft.core.Fs.scratchDir("graft_stress_bm25b")
      try {
        graft.text.Retrieval.buildBm25Index(docs, "text", "doc_id",
          bmDir2.toString, buckets = 8)
        for (n <- Seq(1000, 1000, 10000)) {
          val t = timed {
            val sparse = guarded(s"hybrid_sparse_$n",
              graft.text.Retrieval.queryBm25IndexBatched(spark, bmDir2.toString,
                graft.queries.PipelineQueries.batchQueryDf(spark, n), k = 10))
            val dense = guarded(s"hybrid_dense_$n",
              Similarity.queryIvfIndexBatched(spark, ivfDir.toString,
                ivfQueries(n), "vec_id", "embedding", k = 10, nProbe = 4))
              .withColumnRenamed("neighbor_id", "doc_id")
            drain(graft.sim.Hybrid.rrfFuse(Seq(sparse, dense), k = 10))
          }
          phases(s"hybrid_probe_${n / 1000}k") = t
        }
      } finally graft.core.Fs.deleteRecursively(bmDir2)
    } finally graft.core.Fs.deleteRecursively(ivfDir)

    def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def ratio(fam: String): String =
      fmt(phases(s"${fam}_probe_10k") / math.max(phases(s"${fam}_probe_1k"), 1e-9))
    val phasesJson = phases.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"batch_stress","sf":"$sfDir","n_small":1000,""" +
      s""""n_large":10000,"phases":$phasesJson,"per_query_ratio_10x":{""" +
      s""""bm25":${ratio("bm25")},"ivf":${ratio("ivf")},"hybrid":${ratio("hybrid")}},""" +
      s""""plan_guard":"no BNLJ / no cartesian on every probe (asserted)"}"""
    try {
      Files.createDirectories(Paths.get("tmp"))
      Files.writeString(Paths.get("tmp/bench_batch10k.json"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[stress] file write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
