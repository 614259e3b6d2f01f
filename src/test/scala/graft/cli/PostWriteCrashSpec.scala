package graft.cli

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.FaultFs

import scala.jdk.CollectionConverters._

/** Crash points of the concurrent post-write folds ([[GraftPipeline.run]]
  * step 2), enumerated over every filesystem mutation (after Pillai et
  * al., "All File Systems Are Not Created Equal", OSDI 2014).
  *
  * A whole-process kill stops every leg at once, each at some mutation of
  * its own. When no two legs mutate the same tree, that kill leaves each
  * store exactly as a crash of its own leg at that point would, so
  * enumerating each leg's crash points covers the kill. The spec first
  * records which trees each leg mutates and asserts the legs are
  * disjoint. Then, for every leg L and every N, starting from the
  * committed shard output: it runs the concurrent [[GraftPipeline.postWrite]]
  * with L crashing at its N-th create/rename/delete/mkdirs (every later
  * mutation of L fails too: a killed writer does no cleanup) while the
  * other legs run; checks that each store's own reader sees its
  * pre-ingest or its post-ingest state; replays the shard through
  * [[GraftPipeline.run]]; and checks that every store equals the no-crash
  * store: the rows of every parquet file, the bytes of every other file. */
class PostWriteCrashSpec extends SparkSpec {

  /** The steps of the `pipeline_ingest` benchmark. */
  private val Steps = Seq("normalize", "redact", "dedup_seen", "dedup_neardup",
    "quality_filter", "split", "pack", "fingerprint_store", "rollup", "bm25_index",
    "data_card")

  /** Store name → directory under the work dir. */
  private val Stores = Seq("seen" -> "seen", "neardup" -> "neardup", "fp" -> "fp",
    "rollup" -> "rollup", "bm25" -> "bm25", "card" -> "cards/shard_1")

  private def cfg(work: String, input: String, k: Int): GraftPipeline.PipelineConfig = {
    val w = FaultFs.uri(work)
    GraftPipeline.fromKv(Map(
      "input.path" -> input, "output.path" -> s"$w/corpus/shard=$k",
      "shard_id" -> s"shard-$k", "steps" -> Steps.mkString(","),
      "seen_store.path" -> s"$w/seen", "neardup_store.path" -> s"$w/neardup",
      "fingerprint_store.path" -> s"$w/fp", "rollup_store.path" -> s"$w/rollup",
      "rollup.measures" -> "chars:n_chars", "rollup.register_mv" -> "true",
      "rollup.mv_raw_path" -> s"$w/corpus", "bm25_index.path" -> s"$w/bm25",
      "bm25_index.mode" -> "append", "data_card.path" -> s"$w/cards/shard_$k"))
      .fold(e => fail(e), identity)
  }

  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString("0x", "", "")

  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => hex(b)
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("<", ",", ">")
    case x => x.toString
  }
  private def rows(df: DataFrame): Seq[String] = df.collect().map(canon).sorted.toSeq

  /** A parquet record as stored, binary values as hex. */
  private def canon(g: Group): String = {
    val t = g.getType
    (0 until t.getFieldCount).map { i =>
      val f = t.getType(i)
      (0 until g.getFieldRepetitionCount(i)).map { j =>
        if (!f.isPrimitive) canon(g.getGroup(i, j))
        else if (f.asPrimitiveType.getPrimitiveTypeName.javaType == classOf[org.apache.parquet.io.api.Binary])
          hex(g.getBinary(i, j).getBytes)
        else g.getValueToString(i, j)
      }.mkString(s"${f.getName}=<", ",", ">")
    }.mkString("{", " ", "}")
  }
  /** Decoded files by (path, length, mtime): a restored tree keeps the
    * snapshot's files unchanged, so most files decode once. */
  private val decoded = scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Seq[String]]
  private def parquetRows(file: JPath): Seq[String] =
    decoded.getOrElseUpdate((file.toString, Files.size(file), Files.getLastModifiedTime(file).toMillis), {
      val r = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file.toUri)).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).map(canon).toList
      finally r.close()
    })

  private def walk(dir: String): Seq[JPath] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val it = Files.walk(root)
      try it.iterator().asScala.filter(Files.isRegularFile(_)).toList finally it.close()
    }
  }

  /** What each store's own reader sees. */
  private def readerState(work: String): Map[String, Seq[String]] = {
    val w = FaultFs.uri(work)
    def opt(df: Option[DataFrame]) = df.map(rows).getOrElse(Seq("<absent>"))
    val terms = spark.createDataFrame(Seq((1, "fox"), (1, "owl"), (2, "the"), (2, "and")))
      .toDF("query_id", "term")
    val readers = Seq[(String, () => Seq[String])](
      "seen" -> (() => opt(graft.dedup.SeenStore.read(spark, s"$w/seen")) ++
        graft.dedup.SeenStore.processedShards(spark, s"$w/seen").toSeq.sorted),
      "neardup" -> (() => opt(graft.dedup.NearDupStore.read(spark, s"$w/neardup")
        .map(_.select(col("id"), col("sig"), array_sort(col("ts")).as("ts")))) ++
        graft.dedup.NearDupStore.processedShards(spark, s"$w/neardup").toSeq.sorted),
      "fp" -> (() => opt(graft.fp.FingerprintStore.read(spark, s"$w/fp")) ++
        graft.fp.FingerprintStore.foldedShards(spark, s"$w/fp").toSeq.sorted),
      "rollup" -> (() => opt(graft.agg.AggStore.states(spark, s"$w/rollup")) ++
        graft.agg.AggStore.processedShards(spark, s"$w/rollup").toSeq.sorted),
      "bm25" -> (() => rows(graft.text.Retrieval.queryBm25Index(spark, s"$w/bm25", terms, k = 100))),
      "card" -> (() => opt(graft.core.AtomicStore.read(spark, s"$w/cards/shard_1"))))
    // the readers share nothing: run them together
    readers.map(_._1).zip(graft.core.Par.all(readers.map(_._2))).toMap
  }

  /** Every store as stored: the rows of each visible parquet file, keyed
    * by its directory (file names are random per write, so the rows of a
    * directory are compared as a multiset), and the bytes of every other
    * visible file. The card's record names the listing fingerprint of the
    * output it describes, which changes with every write of the output;
    * it must name the committed output's. */
  private def storedState(work: String): Map[String, Seq[String]] = {
    val output = graft.core.FileListing.signature(
      spark.read.parquet(FaultFs.uri(s"$work/corpus/shard=1"))).get
    Stores.map { case (name, dir) =>
      val root = Paths.get(s"$work/$dir")
      val files = walk(root.toString).map(p => root.relativize(p).toString -> p)
        .filterNot(_._1.split("/").exists(c => c.startsWith(".") || c.startsWith("_")))
      val (parquet, other) = files.partition(_._1.endsWith(".parquet"))
      val data = parquet.flatMap { case (f, p) =>
        val d = f.split("/").dropRight(1).mkString("/")
        parquetRows(p).map(r => s"$d: $r")
      }.sorted
      val bytes = other.sortBy(_._1).map { case (f, p) => s"$f: " + new String(Files.readAllBytes(p), "UTF-8") }
      val record = root.resolve(GraftPipeline.CardRecord)
      val card = if (!Files.exists(record)) Nil
        else Seq(new String(Files.readAllBytes(record), "UTF-8").replace(output, "<committed output>"))
      name -> (data ++ bytes ++ card)
    }.toMap
  }

  /** The first path component below `work`: the tree a mutation lands in. */
  private def tree(work: String)(p: String): String =
    if (FaultFs.under(p, work)) p.stripPrefix(work).stripPrefix("/").takeWhile(_ != '/') else p

  /** A killed writer's lease lock stays behind; a replay comes after its
    * TTL ([[graft.core.WriterLease]] breaks a lock idle for longer). */
  private def ageLeaseLocks(work: String): Unit =
    walk(work).filter(_.getFileName.toString.endsWith(".__writer.lock"))
      .foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000L)))

  test("post-write legs mutate disjoint trees, and a crash at every mutation of every leg heals on replay") {
    FaultFs.install(spark)
    // some thousands of Spark jobs: their INFO lines would dominate the run
    spark.sparkContext.setLogLevel("WARN")
    try enumerate() finally spark.sparkContext.setLogLevel("INFO")
  }

  test("a crashed leg's lease lock does not hold up the replay (no aging)") {
    FaultFs.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val local = tmpDir("pw_lock")
      val work = s"$local/work"
      spark.read.parquet(s"$sf001/documents.parquet").orderBy("doc_id").limit(20)
        .write.parquet(s"$local/in_0/documents.parquet")
      spark.createDataFrame(Seq((1000L, "the fox and the owl", "en", "s0", 19L),
          (1001L, "the owl and the fox", "en", "s1", 19L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$local/in_1/documents.parquet")
      val c1 = cfg(work, s"$local/in_1", 1)
      GraftPipeline.run(spark, cfg(work, s"$local/in_0", 0))
      val (out, sigs) = GraftPipeline.plan(spark, c1)
      out.write.mode("overwrite").partitionBy("split").parquet(c1.outputDir)
      // the seen leg dies after taking its lease: its lock stays behind
      val (_, fault) = FaultFs.armed(p => tree(work)(p).startsWith("seen"), 2)(
        GraftPipeline.postWrite(spark, c1, spark.read.parquet(c1.outputDir), sigs))
      assert(fault.tripped)
      assert(Files.exists(Paths.get(s"$work/seen.__writer.lock")))
      GraftPipeline.run(spark, c1)
      assert(graft.dedup.SeenStore.processedShards(spark, FaultFs.uri(s"$work/seen"))("shard-1"))
      assert(!Files.exists(Paths.get(s"$work/seen.__writer.lock")))
    } finally spark.sparkContext.setLogLevel("INFO")
  }

  private def enumerate(): Unit = {
    val local = tmpDir("pw_crash")
    val (work, mid) = (s"$local/work", s"$local/mid")
    // shard 0: 30 fixture docs of >= 40 words. Shard 1: four new docs over
    // four words (the BM25 append writes a file per bucket its terms hash
    // to), an exact and a near duplicate of shard-0 docs.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 40).orderBy("doc_id").limit(30).cache()
    docs.write.parquet(s"$local/in_0/documents.parquet")
    val plant = docs.orderBy("doc_id").limit(2).collect()
    val fresh = Seq("the fox and the owl", "the owl and the fox", "and the fox and the owl",
      "the owl and the owl")
    val shard1 = fresh.zipWithIndex.map { case (t, i) => (1000L + i, t, "en", s"src$i", t.length.toLong) } ++
      Seq((2000L, plant(0).getString(1), plant(0).getString(2), plant(0).getString(3), plant(0).getLong(4)), {
        val t = plant(1).getString(1).split(" ").dropRight(1).mkString(" ") + " zzplanted"
        (2001L, t, plant(1).getString(2), plant(1).getString(3), t.length.toLong)
      })
    spark.createDataFrame(shard1).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$local/in_1/documents.parquet")
    docs.unpersist()
    val c1 = cfg(work, s"$local/in_1", 1)

    GraftPipeline.run(spark, cfg(work, s"$local/in_0", 0))
    val pre = readerState(work)
    // shard 1 up to its committed output, as run writes it; the probe's
    // signatures are a local checkpoint and serve every post-write below
    val (out, sigs) = GraftPipeline.plan(spark, c1)
    assert(sigs.isDefined)
    out.write.mode("overwrite").partitionBy("split").parquet(c1.outputDir)
    FaultFs.copyTree(work, mid)
    def written() = spark.read.parquet(c1.outputDir)

    // the no-crash post-write: its mutations and the stores it leaves
    val (_, refMutations) = FaultFs.recording(GraftPipeline.postWrite(spark, c1, written(), sigs))
    val post = readerState(work)
    val refStored = storedState(work)
    Stores.foreach { case (s, _) => assert(pre(s) != post(s), s"the ingest left $s unchanged") }
    // a replay of the completed shard changes no store
    val want = GraftPipeline.run(spark, c1)
    assert(want._2 == 4, s"shard 1 should keep its four new docs: $want")
    assert(storedState(work) == refStored)

    // each leg alone: the trees it mutates
    val legNames = GraftPipeline.postWriteLegs(spark, c1, written(), sigs).map(_._1)
    assert(legNames == Seq("fingerprint_store", "rollup", "dedup_seen", "dedup_neardup",
      "bm25_index", "data_card"))
    val footprint = legNames.map { leg =>
      FaultFs.restore(mid, work)
      val body = GraftPipeline.postWriteLegs(spark, c1, written(), sigs).toMap.apply(leg)
      val (_, ms) = FaultFs.recording(body())
      leg -> ms.flatMap(_.paths).map(tree(work)).toSet
    }.toMap
    footprint.foreach { case (leg, trees) => assert(trees.nonEmpty && !trees("corpus"), s"$leg: $trees") }
    for (Seq(a, b) <- legNames.combinations(2))
      assert(footprint(a).intersect(footprint(b)).isEmpty,
        s"legs $a and $b both mutate ${footprint(a).intersect(footprint(b))}")
    // every mutation of the concurrent post-write lies in one leg's trees
    val stray = refMutations.filterNot(_.paths.map(tree(work)).forall(footprint.values.flatten.toSet))
    assert(stray.isEmpty, stray)

    val t0 = System.nanoTime()
    val counts = legNames.map(leg => leg -> refMutations.count(_.paths.map(tree(work)).exists(footprint(leg))))
    // the crash points, shared by a few workers, each in its own work dir
    // (a copy of the same committed state; no store records its path)
    val points = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Int)](
      (for ((leg, n) <- counts; k <- 1 to n) yield (leg, k, n)).asJava)
    @volatile var failed = false
    def worker(i: Int)(): Unit = {
      val dir = s"$local/work_$i"
      val c = cfg(dir, s"$local/in_1", 1)
      def written() = spark.read.parquet(c.outputDir)
      try Iterator.continually(points.poll()).takeWhile(_ != null && !failed).foreach { case (leg, k, n) =>
        val at = s"$leg crashed at mutation $k of $n"
        FaultFs.restore(mid, dir)
        val (_, fault) = FaultFs.armed(p => footprint(leg)(tree(dir)(p)), k)(
          GraftPipeline.postWrite(spark, c, written(), sigs))
        // a crash at a cleanup the leg swallows (its lease-lock release)
        // lets postWrite return; the stores are checked all the same
        assert(fault.tripped, s"$at: never reached")
        // (a) before the replay each store reads as before or after the ingest
        val seen = readerState(dir)
        Stores.foreach { case (s, _) =>
          assert(seen(s) == pre(s) || seen(s) == post(s), s"$at: $s reads neither state")
        }
        // (b) the replay heals every store to the no-crash state
        ageLeaseLocks(dir)
        assert(GraftPipeline.run(spark, c) == want, at)
        val healed = storedState(dir)
        Stores.foreach { case (s, _) =>
          assert(healed(s) == refStored(s), s"$at: $s differs after the replay:\n" +
            healed(s).diff(refStored(s)).take(5).mkString("\n") + "\nwanted:\n" +
            refStored(s).diff(healed(s)).take(5).mkString("\n"))
        }
      } catch { case e: Throwable => failed = true; throw e }
    }
    graft.core.Par.all((0 until 3).map(worker))
    System.err.println(f"[crash-enum] ${counts.map(_._2).sum} crash points ($counts) " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
