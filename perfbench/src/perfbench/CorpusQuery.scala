package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.agg.AggStore
import graft.plans.MaterializedRollups
import graft.text.Retrieval

/** Reads of the corpus an ingest stream has built, made after each timed
  * ingest of `pipeline_ingest`, so a store layout that speeds writes but slows
  * reads shows in the same run:
  *  - a top-10 `Retrieval.queryBm25Index` probe of seeded terms drawn from
  *    the corpus vocabulary, and one of a planted unique term, which must
  *    return its document and only it;
  *  - a per-`source` aggregate over the corpus root in the shape
  *    `RollupRewrite` serves, `count(1)` plus `sum(AggStore.micros(n_chars))`,
  *    which must equal the same aggregate over the shard directories (a
  *    relation no rollup is registered for). */
object CorpusQuery {
  val TopK = 10
  val TermsPerProbe = 2

  final class Tally { var aggs = 0; var hits = 0 }

  def aggregate(df: DataFrame): DataFrame =
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(AggStore.micros(col("n_chars"))).as("chars_u"))

  private def rows(df: DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** The corpus words of shard `k`, as the `normalize` step writes them. */
  def vocab(st: PipelineIngest.State, k: Int): IndexedSeq[String] =
    st.base.flatMap(_._2.toLowerCase.replaceAll("[.,!?;:]", "").trim.split("\\s+"))
      .distinct.sorted.map(w => s"${w}_$k")

  def probe(ctx: Ctx, st: PipelineIngest.State, c: OpChecks, terms: Seq[String],
      want: Option[Long]): Unit = {
    import ctx.spark.implicits._
    val q = terms.map(t => (1L, t)).toDF("query_id", "term")
    val got = ctx.call("bm25_probe", "text") {
      Retrieval.queryBm25Index(ctx.spark, st.corpus.stores("bm25"), q, k = TopK).collect()
    }
    val ids = got.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq
    c.check(ids.size <= TopK, s"probe returned ${ids.size} rows for top-$TopK")
    want match {
      case Some(id) if st.outputIds(id) =>
        c.check(ids == Seq(id), s"unique-term probe returned $ids, want $id")
      case Some(_) => c.check(ids.isEmpty, s"unique term of a dropped doc returned $ids")
      case None => c.check(ids.nonEmpty, s"probe of corpus terms ${terms.mkString(",")} returned nothing")
    }
  }

  def mvAggregate(ctx: Ctx, st: PipelineIngest.State, c: OpChecks, raw: Set[(String, Long, Long)],
      tally: Tally): Unit = {
    val df = aggregate(ctx.spark.read.parquet(st.corpus.root))
    val got = ctx.call("mv_agg", "plans")(rows(df))
    c.check(got == raw, "corpus-root aggregate differs from the raw answer")
    tally.aggs += 1
    if (!MaterializedRollups.scanPaths(df).exists(_.contains(st.corpus.root))) tally.hits += 1
  }

  /** Two probes and two aggregates over everything ingested so far. */
  def reads(ctx: Ctx, st: PipelineIngest.State, c: OpChecks, tally: Tally): Unit = {
    val root = st.corpus.root
    val ingested = st.shards.take(st.ingested).toSeq
    val raw = rows(aggregate(ctx.spark.read.option("basePath", root)
      .parquet(ingested.map(s => s"$root/shard=${s.k}"): _*)))
    val rnd = new Random(ctx.seed * 7919L + st.ingested)
    val words = vocab(st, ingested(rnd.nextInt(ingested.size)).k)
    val unique = ingested.flatMap(_.unique).sortBy(_._1)
    val (term, id) = unique(rnd.nextInt(unique.size))
    probe(ctx, st, c, Seq.fill(TermsPerProbe)(words(rnd.nextInt(words.size))), None)
    mvAggregate(ctx, st, c, raw, tally)
    probe(ctx, st, c, Seq(term), Some(id))
    mvAggregate(ctx, st, c, raw, tally)
  }
}
