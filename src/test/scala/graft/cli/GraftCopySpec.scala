package graft.cli

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.cli.GraftCopy._

class GraftCopySpec extends SparkSpec {

  private val Key = "date_format(l_shipdate, 'yyyyMM')"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Run `f`, counting the file scans of every query it executes by the
    * root path each scan reads (a path-only form, scheme dropped). */
  private def scansByRoot[T](f: => T): (T, Map[String, Int]) = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
          .flatMap(_.relation.location.rootPaths)
          .foreach(p => counts.synchronized(counts(p.toUri.getPath) += 1))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val result =
      try { val r = f; ListenerBus.drain(spark.sparkContext); r }
      finally spark.listenerManager.unregister(listener)
    (result, counts.synchronized(counts.toMap))
  }

  private def partDirs(table: String): Seq[java.io.File] =
    new java.io.File(table).listFiles().filter(_.getName.startsWith("__part=")).sortBy(_.getName).toSeq

  test("parseMode: exactly one mode flag (main.go:25-43)") {
    assert(parseMode(Seq("--info", "a", "b")) == Right(Info))
    assert(parseMode(Seq("-s")) == Right(Sync))
    assert(parseMode(Seq("--version")) == Right(Version))
    assert(parseMode(Seq("a", "b")).isLeft)
    assert(parseMode(Seq("--info", "--sync")).isLeft)
  }

  test("parseDebug: composes with any mode, never a mode itself (main.go:52)") {
    assert(GraftCopy.parseDebug(Seq("--info", "-d")))
    assert(GraftCopy.parseDebug(Seq("--debug", "--sync")))
    assert(!GraftCopy.parseDebug(Seq("--info")))
    // debug alone is still a usage error: a mode is required
    assert(parseMode(Seq("--debug")).isLeft)
    // and it does not break mode parsing
    assert(parseMode(Seq("-d", "-i")) == Right(Info))
  }

  test("version mode exits clean without a session") {
    assert(GraftCopy.run(Seq("--version")) == Status.Ok)
  }

  test("usage errors return the usage status") {
    assert(GraftCopy.run(Seq("--info", "onlyonearg")) == Status.UsageFail)
    // an unreadable or undecodable config file is a usage error, not a throw
    val dir = tmpDir("graftcfg-bad")
    assert(GraftCopy.run(Seq("--info", "--config", s"$dir/missing.yaml")) == Status.UsageFail)
    val bad = java.nio.file.Paths.get(s"$dir/bad.yaml")
    java.nio.file.Files.writeString(bad, "source:\n  port: 90o0\n")
    assert(GraftCopy.run(Seq("--info", "--config", bad.toString)) == Status.UsageFail)
  }

  test("copy-config booleans: true/false (and the reference's 'fasle') decode, anything else fails by key") {
    def cfg(yaml: String) = YamlConfig.fromText(yaml)
    assert(cfg("check_hashes: true\n").checkHashes)
    assert(!cfg("check_hashes: false\n").checkHashes)
    assert(!cfg("check_hashes: fasle\n").checkHashes)
    assert(cfg("source:\n  secure: true\n").source.secure)
    val dir = tmpDir("graftcfg-bool")
    for ((key, yaml) <- Seq("source.secure" -> "source:\n  secure: True\n",
        "destination.skip_verify" -> "destination:\n  skip_verify: yes\n",
        "skip_delete" -> "skip_delete: ture\n")) {
      val err = intercept[YamlConfig.ConfigError](cfg(yaml)).getMessage
      assert(err.contains(key), err)
      val f = java.nio.file.Paths.get(s"$dir/${key.replace('.', '_')}.yaml")
      java.nio.file.Files.writeString(f, yaml)
      assert(GraftCopy.run(Seq("--info", "--config", f.toString)) == Status.UsageFail, key)
    }
  }

  test("flat single-file destination: info compares; sync migrates to partitioned layout") {
    val dst = tmpDir("graftcopy-flat")
    val key = "date_format(l_shipdate, 'yyyyMM')"
    // flat layout: dst/<table>.parquet file, as the fixture dirs use
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/lineitem.parquet"),
      java.nio.file.Paths.get(s"$dst/lineitem.parquet"))
    // identical content -> clean compare against the flat file
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.Ok)
    // different source -> sync migrates the flat file to a partitioned dir
    val src2 = "/root/testdata/sf0.01"
    assert(reconcile(spark, src2, dst, "lineitem", key, execute = true) == Status.Ok)
    assert(!new java.io.File(s"$dst/lineitem.parquet").exists)
    assert(new java.io.File(s"$dst/lineitem").isDirectory)
    assert(reconcile(spark, src2, dst, "lineitem", key, execute = false) == Status.Ok)
  }

  test("yaml config: reference-shaped file parses, drives info/sync (config.go:29-71)") {
    val src = tmpDir("graftcfg-src")
    val dst = tmpDir("graftcfg-dst")
    // multi-file source table (directory layout)
    spark.read.parquet(s"$sf001/lineitem.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    val yaml =
      s"""# reference-shaped config
         |source:
         |  user: "default"
         |  password: ""
         |  path: "$src"
         |  table: "lineitem"
         |  skip_verify: true
         |destination:
         |  path: '$dst'
         |  table: "lineitem"
         |
         |worker_pool:
         |  num_workers: 10
         |  num_retry: 50
         |
         |partition_key: "date_format(l_shipdate, 'yyyyMM')"
         |debug: false
         |check_hashes: fasle
         |skip_delete: false
         |skip_reimport: false
         |use_virtual_column: false
         |""".stripMargin
    val cfgPath = s"${tmpDir("graftcfg")}/config.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), yaml)
    val cfg = YamlConfig.load(cfgPath)
    assert(cfg.source.table == "lineitem" && cfg.source.dir == src)
    assert(cfg.numWorkers == 10)
    assert(!cfg.checkHashes, "the reference's own 'fasle' typo reads as false")
    assert(YamlConfig.check(cfg).isRight)
    assert(YamlConfig.check(cfg.copy(source = cfg.source.copy(table = ""))).isLeft)
    // lifecycle through the config path
    assert(runConfigured(spark, cfg, execute = false) == Status.DataFail)
    assert(runConfigured(spark, cfg, execute = true) == Status.Ok)
    assert(runConfigured(spark, cfg, execute = false) == Status.Ok)
    // missing partition_key without virtual column -> usage error
    assert(runConfigured(spark, cfg.copy(partitionKey = ""), execute = false) == Status.UsageFail)
  }

  test("use_virtual_column: repairs only the corrupted file's partition (copy.go:207-211)") {
    val src = tmpDir("graftvc-src")
    val dst = tmpDir("graftvc-dst")
    spark.read.parquet(s"$sf001/lineitem.parquet").repartition(4)
      .write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    def sync() = reconcile(spark, src, dst, "lineitem", "", execute = true, byFile = true)
    def info() = reconcile(spark, src, dst, "lineitem", "", execute = false, byFile = true)
    assert(info() == Status.DataFail)
    assert(sync() == Status.Ok)
    assert(info() == Status.Ok)
    // per-file partition dirs exist, one per source part file
    val partDirs = new java.io.File(s"$dst/lineitem").listFiles()
      .filter(_.getName.startsWith("__part=")).sortBy(_.getName)
    assert(partDirs.length == 4, partDirs.mkString(","))
    // corrupt exactly one file's partition: drop its data files
    val victim = partDirs.head
    victim.listFiles().foreach(_.delete())
    val untouched = partDirs.tail.flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    assert(info() == Status.HashFail)
    assert(sync() == Status.Ok)
    assert(info() == Status.Ok)
    // every other partition's files have identical paths + mtimes
    partDirs.tail.flatMap(_.listFiles()).foreach { f =>
      assert(untouched(f.getPath) == f.lastModified(), s"${f.getPath} was rewritten")
    }
    assert(victim.listFiles().nonEmpty, "victim partition repaired")
  }

  test("dest-only partitions are reported but do not fail info (copy.go:170-199)") {
    val dst = tmpDir("graftdo")
    val key = "date_format(l_shipdate, 'yyyyMM')"
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = true) == Status.Ok)
    // plant an extra partition on the dest that the source does not have:
    // rows dated outside the source's shipdate range (1995-01..2001-11)
    import org.apache.spark.sql.functions.{lit, expr => sexpr}
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.limit(5)
      .withColumn("l_shipdate", lit("2029-01-15 00:00:00").cast("timestamp_ntz"))
      .withColumn("__part", sexpr(key))
      .write.mode("append").partitionBy("__part").parquet(s"$dst/lineitem")
    // reference semantics: source partitions all clean -> Ok, dest-only ignored
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.Ok)
    // sync is a no-op, and info stays Ok afterwards (no perpetual HashFail)
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = true) == Status.Ok)
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.Ok)
  }

  test("info/sync lifecycle: copy-all, detect corruption, repair, clean") {
    val dst = tmpDir("graftcopy")
    val key = "date_format(l_shipdate, 'yyyyMM')"
    // 1. dest missing -> info flags, sync full-copies
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.DataFail)
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = true) == Status.Ok)
    // 2. now consistent
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.Ok)
    // 3. corrupt one partition in dest (delete its directory)
    val partDir = new java.io.File(s"$dst/lineitem/__part=199603")
    assert(partDir.exists)
    partDir.listFiles().foreach(_.delete()); partDir.delete()
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.HashFail)
    // 4. sync repairs, then clean again
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = true) == Status.Ok)
    assert(reconcile(spark, sf001, dst, "lineitem", key, execute = false) == Status.Ok)
  }

  test("sync reads each side once for its verdicts; repair reuses the collected rows") {
    val dst = tmpDir("graftcopy-scans")
    val srcRoot = s"$sf001/lineitem.parquet"
    val dstRoot = s"$dst/lineitem"
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = true) == Status.Ok)
    // damage: one partition missing, one with three extra rows
    val Seq(missing, divergent) = partDirs(dstRoot).take(2)
    missing.listFiles().foreach(_.delete()); missing.delete()
    spark.read.parquet(srcRoot).filter(org.apache.spark.sql.functions.expr(Key) ===
        divergent.getName.stripPrefix("__part=")).limit(3)
      .write.mode("append").parquet(divergent.getPath)
    def scans(execute: Boolean) =
      scansByRoot(reconcile(spark, sf001, dst, "lineitem", Key, execute))
    val (infoStatus, infoScans) = scans(execute = false)
    assert(infoStatus == Status.HashFail)
    assert(infoScans == Map(srcRoot -> 1, dstRoot -> 1), infoScans)
    // sync: the verdict pass reads each side once, the write reads the source
    val (syncStatus, syncScans) = scans(execute = true)
    assert(syncStatus == Status.Ok)
    assert(syncScans == Map(srcRoot -> 2, dstRoot -> 1), syncScans)
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = false) == Status.Ok)
  }

  test("GraftSession.local(n) lists partition dirs with at most n tasks") {
    val n = 4 // SparkSpec.session is GraftSession.local(4)
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism") == n.toString)
    val dir = s"${tmpDir("graftcopy-listing")}/t"
    val parts = 40 // above the 32-path parallel-listing threshold
    spark.range(parts).withColumn("p", org.apache.spark.sql.functions.col("id"))
      .write.partitionBy("p").parquet(dir)
    val listingTasks = scala.collection.mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files")))
          listingTasks.synchronized(listingTasks ++= j.stageInfos.map(_.numTasks))
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(spark.read.parquet(dir).count() == parts)
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listingTasks.nonEmpty, "no parallel listing job")
    assert(listingTasks.forall(_ <= n), listingTasks)
  }

  test("repair overwrites per write: the session conf stays static, skipped files stay put") {
    val dst = tmpDir("graftcopy-static")
    val dstRoot = s"$dst/lineitem"
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = true) == Status.Ok)
    val victim +: rest = partDirs(dstRoot)
    victim.listFiles().foreach(_.delete())
    val untouched = rest.flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(mode)
    spark.conf.set(mode, "static")
    try {
      assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = true) == Status.Ok)
      assert(spark.conf.get(mode) == "static")
    } finally spark.conf.set(mode, prev)
    val after = rest.flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    assert(after == untouched, "a skipped partition's files were rewritten")
    assert(victim.listFiles().exists(_.getName.endsWith(".parquet")), "victim partition repaired")
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = false) == Status.Ok)
  }

  test("directory-form flat destination: sync migrates it and removes the flat dir") {
    val dst = tmpDir("graftcopy-flatdir")
    // a stale flat copy: part files missing every seventh order
    spark.read.parquet(s"$sf001/lineitem.parquet").filter("l_orderkey % 7 != 0").repartition(3)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = false) == Status.HashFail)
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = true) == Status.Ok)
    assert(!new java.io.File(s"$dst/lineitem.parquet").exists, "flat copy left behind")
    assert(new java.io.File(s"$dst/lineitem").isDirectory)
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = false) == Status.Ok)
  }

  test("the source is listed afresh on every reconcile") {
    val src = tmpDir("graftcopy-grow-src")
    val dst = tmpDir("graftcopy-grow-dst")
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.repartition(2).write.parquet(s"$src/lineitem.parquet")
    assert(reconcile(spark, src, dst, "lineitem", Key, execute = true) == Status.Ok)
    assert(reconcile(spark, src, dst, "lineitem", Key, execute = false) == Status.Ok)
    // the source grows by one part file within the same session
    li.limit(5).write.mode("append").parquet(s"$src/lineitem.parquet")
    assert(reconcile(spark, src, dst, "lineitem", Key, execute = false) == Status.HashFail)
  }

  test("a destination on another filesystem is found: a clean second sync writes no data file") {
    graft.core.FaultFs.install(spark)
    val dst = graft.core.FaultFs.uri(tmpDir("graftcopy-faultfs"))
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = true) == Status.Ok)
    val (status, mutations) = graft.core.FaultFs.recording(
      reconcile(spark, sf001, dst, "lineitem", Key, execute = true))
    assert(status == Status.Ok)
    assert(!mutations.exists(_.paths.exists(_.endsWith(".parquet"))), mutations)
    assert(reconcile(spark, sf001, dst, "lineitem", Key, execute = false) == Status.Ok)
  }
}
