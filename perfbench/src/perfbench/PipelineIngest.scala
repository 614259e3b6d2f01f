package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.cli.GraftPipeline

/** `pipeline_ingest`: `GraftPipeline.run` over seeded shards of sf0.1
  * `documents`.
  *
  * Shard 0, the first 2000 documents, is ingested once by the untimed
  * warm-up, and the stores it leaves are snapshotted. Every later operation
  * restores that snapshot (untimed), ingests shard 1 into it and replays
  * shard 1, so every timed operation does the same work however many fit
  * in a run.
  *
  * Shard 1 is a copy of the 5000 documents with its own token space (every
  * token suffixed with the shard number, the scheme `ScaleBench` uses),
  * plus planted exact and near duplicates of documents of shard 0 and a few
  * documents carrying a unique term. */
object PipelineIngest {
  val Steps = Seq("normalize", "redact", "dedup_seen", "dedup_neardup", "quality_filter",
    "split", "pack", "fingerprint_store", "rollup", "bm25_index", "data_card")
  /** Documents of shard 0: it creates the stores and runs every code path
    * once. With 500 the first timed calls still ran while the JIT was busy,
    * and a run's figures moved with how far it had got. */
  val WarmDocs = 2000
  /** Planted duplicates of shard 1, as shares of its 5000 copied documents.
    * Synthetic: no measured rate backs them (sf0.1 `documents` itself holds
    * 8 exact duplicates in 5000). They set how many rows the dedup steps
    * drop and so every size downstream of them. */
  val ExactShare = 0.05
  val NearShare = 0.05
  /** Duplicates are planted from documents of at least this many words. A
    * near duplicate replaces the last word, which keeps its word-3-shingle
    * Jaccard with the original at >= 37/39 = 0.95, above `dedup_neardup`'s
    * 0.8 cut; its 8-band MinHash misses such a pair with probability about
    * 2e-6, so the planted drops repeat exactly. */
  val MinPlantWords = 40
  /** Shard-1 documents given a unique term, which a probe must return. */
  val UniquePerShard = 4
  /** Replays per timed ingest. A run holds one timed ingest, so its
    * replays are the only samples of the follow-up metric; their median
    * over six damps the 5-10% that one replay varies by. A traced run,
    * whose figures are per operation, replays three times to stay well
    * within its time limit, and the warm-up replays once. */
  val ReplayReps = 6
  val TracedReplayReps = 3
  val IdStride = 1000000L
  private val PlantedBase = 500000L

  /** One generated input shard and what was planted in it. */
  final case class Shard(k: Int, input: String, exact: Set[Long], near: Set[Long],
      unique: Map[String, Long], bytes: Long)

  /** Output root and stores of one ingest stream, all under `dir`. */
  final case class Corpus(dir: String) {
    val root = s"$dir/corpus"
    val stores: Map[String, String] = Map("output" -> root, "seen" -> s"$dir/seen",
      "neardup" -> s"$dir/neardup", "fp" -> s"$dir/fp", "rollup" -> s"$dir/rollup",
      "bm25" -> s"$dir/bm25", "card" -> s"$dir/cards")
  }

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Digits spelled as letters, so a planted term never looks like a
    * number the `redact` step would mask. */
  def alpha(n: Long): String = n.abs.toString.map(d => ('a' + (d - '0')).toChar)

  type Docs = IndexedSeq[(Long, String, String, String)]

  def baseDocs(ctx: Ctx): Docs =
    ctx.spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toIndexedSeq

  private def suffixed(text: String, k: Int) =
    text.trim.split("\\s+").map(t => s"${t}_$k").mkString(" ")

  /** Indices into `base` of the documents shard `k` copies. */
  private def members(base: Docs, k: Int): IndexedSeq[Int] =
    if (k == 0) base.indices.take(WarmDocs) else base.indices

  /** Write shard `k` (0 or 1) under `dir`. Its content depends on the seed
    * and `k` only. */
  def genShard(ctx: Ctx, base: Docs, dir: String, k: Int): Shard = {
    val rnd = new Random(ctx.seed * 1000003L + k)
    val uniq = rnd.shuffle(members(base, k).toList).take(UniquePerShard).toSet
    val unique = mutable.Map.empty[String, Long]
    val docs = members(base, k).map(i => (base(i), i)).map { case ((id, text, lang, src), i) =>
      val t0 = suffixed(text, k)
      val t = if (uniq(i)) {
        val term = s"uq${alpha(ctx.seed)}x${alpha(k)}x${alpha(i)}"
        unique(term) = k * IdStride + id
        s"$t0 $term"
      } else t0
      (k * IdStride + id, t, lang, src)
    }
    // duplicates of long documents of shard 0, never of a planted one
    val exact = mutable.Set.empty[Long]
    val near = mutable.Set.empty[Long]
    val plantedDocs = if (k == 0) Nil else {
      val from = members(base, 0).filter(i => base(i)._2.split("\\s+").length >= MinPlantWords)
      val nExact = math.round(base.size * ExactShare).toInt
      val nNear = math.round(base.size * NearShare).toInt
      (0 until nExact + nNear).map { n =>
        val (_, text, lang, src) = base(from(rnd.nextInt(from.size)))
        val orig = suffixed(text, 0)
        val id = k * IdStride + PlantedBase + n
        if (n < nExact) { exact += id; (id, orig, lang, src) }
        else {
          near += id
          (id, orig.split(" ").dropRight(1).mkString(" ") + s" nd${alpha(k)}x${alpha(n)}", lang, src)
        }
      }
    }
    val rows = (docs ++ plantedDocs).map { case (id, t, l, s) => Row(id, t, l, s, t.length.toLong) }
    val in = s"$dir/in_$k"
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), DocSchema)
      .write.mode("overwrite").parquet(s"$in/documents.parquet")
    Shard(k, in, exact.toSet, near.toSet, unique.toMap, Files2.bytes(s"$in/documents.parquet"))
  }

  def config(c: Corpus, s: Shard): GraftPipeline.PipelineConfig = {
    val st = c.stores
    GraftPipeline.fromKv(Map(
      "input.path" -> s.input,
      "output.path" -> s"${c.root}/shard=${s.k}",
      "shard_id" -> s"shard-${s.k}",
      "steps" -> Steps.mkString(","),
      "seen_store.path" -> st("seen"),
      "neardup_store.path" -> st("neardup"),
      "fingerprint_store.path" -> st("fp"),
      "rollup_store.path" -> st("rollup"),
      "rollup.measures" -> "chars:n_chars",
      "rollup.register_mv" -> "true",
      "rollup.mv_raw_path" -> c.root,
      "bm25_index.path" -> st("bm25"),
      "bm25_index.mode" -> "append",
      "data_card.path" -> s"${st("card")}/shard_${s.k}")) match {
      case Right(cfg) => cfg
      case Left(err) => throw new IllegalArgumentException(s"pipeline config: $err")
    }
  }

  /** Every file of the output and store dirs: absolute path -> bytes. */
  def storeListing(c: Corpus): Map[String, Long] =
    c.stores.values.toSeq.flatMap(d => Files2.listing(d).map { case (r, b) => s"$d/$r" -> b }).toMap

  def storeFigures(ctx: Ctx, c: Corpus): Unit =
    c.stores.foreach { case (name, d) =>
      val l = Files2.listing(d)
      ctx.figures(s"store.$name.files") = l.size.toDouble
      ctx.figures(s"store.$name.bytes") = l.values.sum.toDouble
    }

  /** Ingest stream state: the two shards and the stores they go into. */
  final class State(val dir: String, val base: Docs, val corpus: Corpus,
      val shards: IndexedSeq[Shard], val replays: Int) {
    /** Copy of the stores after the warm-up ingest of shard 0. */
    val snapshot = s"$dir/snapshot"
    var warmed = false
    /** Shards the stores hold now. */
    var ingested = 0
    /** Output doc ids of the shards the stores hold now, and of shard 0. */
    val outputIds: mutable.Set[Long] = mutable.Set.empty
    var warmIds: Set[Long] = Set.empty
    /** Input docs of shard 1, as the pipeline counted them. */
    var timedDocs = 0L
    /** Over the operations that ingested shard 1. */
    var writtenBytes = 0L
    var inputBytes = 0L
    var plantedDropped = 0L
    var plantedTotal = 0L
  }

  /** Set-up: the two input shards and empty stores. `replays` is the
    * number of replays per timed ingest. */
  def setup(ctx: Ctx, rep: Int, storesDir: String, replays: Int): State = {
    val dir = ctx.dir("inputs", s"rep_$rep")
    Files2.delete(dir)
    Files2.delete(storesDir)
    val base = baseDocs(ctx)
    new State(dir, base, Corpus(storesDir), (0 to 1).map(genShard(ctx, base, dir, _)), replays)
  }

  /** The first call ingests shard 0 and snapshots the stores; every later
    * call restores the snapshot and ingests shard 1. Each ingest is
    * replayed. Checks that the replay returns the first run's (in, out)
    * and that no planted exact duplicate survives. */
  def op(ctx: Ctx, st: State, c: OpChecks): Unit = {
    val s = if (!st.warmed) st.shards(0) else {
      Files2.delete(st.corpus.dir)
      Files2.copyTree(st.snapshot, st.corpus.dir)
      st.outputIds.clear()
      st.outputIds ++= st.warmIds
      st.shards(1)
    }
    st.ingested = s.k
    val cfg = config(st.corpus, s)
    val before = storeListing(st.corpus)
    val first = ctx.call("ingest", "cli")(GraftPipeline.run(ctx.spark, cfg))
    // a replay short-circuits on a shard the dedup stores recorded
    val replays = Seq.fill(if (st.warmed) st.replays else 1)(
      ctx.call("replay", "cli")(GraftPipeline.run(ctx.spark, cfg)))
    st.ingested = s.k + 1
    replays.filter(_ != first).foreach(again =>
      c.fail(s"replay of shard ${s.k} returned $again, first run $first"))
    c.check(first._2 > 0 && first._2 <= first._1, s"shard ${s.k} wrote ${first._2} of ${first._1} rows")
    val ids = ctx.spark.read.parquet(s"${st.corpus.root}/shard=${s.k}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    c.check(ids.size == first._2, s"shard ${s.k} output holds ${ids.size} ids, run said ${first._2}")
    val survivors = s.exact.intersect(ids)
    c.check(survivors.isEmpty, s"${survivors.size} planted exact duplicates survived in shard ${s.k}")
    st.outputIds ++= ids
    if (!st.warmed) {
      Files2.copyTree(st.corpus.dir, st.snapshot)
      st.warmIds = ids
      st.warmed = true
    } else {
      st.timedDocs = first._1
      st.inputBytes += s.bytes
      st.writtenBytes += storeListing(st.corpus)
        .collect { case (p, b) if before.get(p).forall(_ != b) => b }.sum
      val planted = s.exact ++ s.near
      st.plantedDropped += (planted -- ids).size
      st.plantedTotal += planted.size
    }
  }

  def figures(ctx: Ctx, st: State): Unit = {
    ctx.figures("main_rows") = st.timedDocs.toDouble
    ctx.figures("ingest_write_amp") = st.writtenBytes.toDouble / math.max(1L, st.inputBytes)
    ctx.figures("space_amp") = storeListing(st.corpus).values.sum.toDouble /
      math.max(1L, st.shards.take(st.ingested).map(_.bytes).sum)
    ctx.figures("dedup.planted_drop_ratio") =
      if (st.plantedTotal > 0) st.plantedDropped.toDouble / st.plantedTotal else 0.0
    storeFigures(ctx, st.corpus)
  }
}
