package perfbench

import java.nio.file.Paths

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.GraftCopy
import graft.core.Tables
import graft.fp.Fingerprint
import graft.recon.Reconciler
import graft.schema.SchemaReconciler

/** `copy_sync`: reconcile sf0.1 `lineitem` (83 monthly partitions) into a
  * partitioned destination with schema drift and seeded damage.
  *
  * The destination drops `l_tax`, stores `l_quantity` as `decimal(12,2)`
  * and `l_linenumber` as `bigint`, so the sync goes through
  * `SchemaReconciler.castPlan` and the cast-side fingerprint asymmetry.
  * About 10% of its partitions are missing, about 10% diverge, and one
  * partition exists only in the destination.
  *
  * One operation restores the damaged destination (untimed), times
  * `GraftCopy.reconcile(execute = true)`, then times a re-verify
  * `reconcile(execute = false)`. */
object CopySync {
  val Table = "lineitem"
  val PartKey = "date_format(l_shipdate,'yyyyMM')"
  val DamageShare = 0.10

  final case class Damage(missing: Set[String], divergent: Set[String], destOnly: String) {
    def expected(part: String): String =
      if (missing(part)) Reconciler.Verdict.Copy
      else if (divergent(part)) Reconciler.Verdict.DeleteRecopy
      else if (part == destOnly) Reconciler.Verdict.DestOnly
      else Reconciler.Verdict.Skip
  }

  final case class Verdict(part: String, srcRows: Long, dstRows: Long, verdict: String)

  /** The destination as it would be after a clean copy: drifted schema,
    * keyed by the partition expression. */
  def drifted(src: DataFrame): DataFrame =
    src.drop("l_tax")
      .withColumn("l_quantity", col("l_quantity").cast("decimal(12,2)"))
      .withColumn("l_linenumber", col("l_linenumber").cast("bigint"))
      .withColumn("__part", expr(PartKey))

  /** Write the damaged destination template under `dir` from the seed.
    *
    * Divergent partitions either lose a seeded subset of rows or have
    * `l_quantity` bumped on it (cast back to `decimal(12,2)`, or the
    * destination would not read). The dest-only partition is one source
    * month moved 15 years past the source range, since the destination
    * key is recomputed from `l_shipdate`. */
  def buildTemplate(ctx: Ctx, dir: String): Damage = {
    val spark = ctx.spark
    val src = spark.read.parquet(s"${ctx.sfDir}/$Table.parquet")
    val parts = src.select(expr(PartKey).as("p")).distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val rnd = new Random(ctx.seed)
    val n = math.max(1, math.round(parts.size * DamageShare).toInt)
    val shuffled = rnd.shuffle(parts)
    val missing = shuffled.take(n).toSet
    val divergent = shuffled.slice(n, 2 * n)
    val dropRows = divergent.filter(_ => rnd.nextBoolean()).toSet
    val bumpRows = divergent.toSet -- dropRows
    val movedFrom = shuffled(2 * n + rnd.nextInt(parts.size - 2 * n))
    val salt = rnd.nextInt(1 << 20)
    val picked = pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(salt)), lit(97)) === 0

    val base = drifted(src)
    val kept = base
      .filter(!col("__part").isin(missing.toSeq: _*))
      .filter(!(col("__part").isin(dropRows.toSeq: _*) && picked))
      .withColumn("l_quantity",
        when(col("__part").isin(bumpRows.toSeq: _*) && picked,
          (col("l_quantity") + lit(1)).cast("decimal(12,2)"))
          .otherwise(col("l_quantity")))
    val moved = drifted(src.filter(expr(PartKey) === movedFrom)
      .withColumn("l_shipdate", col("l_shipdate") + expr("INTERVAL 180 MONTHS")))
    kept.unionByName(moved)
      .repartition(col("__part"))
      .write.partitionBy("__part").mode("overwrite").parquet(s"$dir/$Table")
    val destOnly = moved.select("__part").head().getString(0)
    Damage(missing, divergent.toSet, destOnly)
  }

  private val VerdictLine = """\[graft-copy\] part=(\S+) src=(\d+) dst=(\d+) -> (\S+)""".r

  /** Run a public `GraftCopy` call, returning its exit status and the
    * per-partition verdict lines it printed. */
  def graftCopy(ctx: Ctx, dst: String, execute: Boolean): (Int, Seq[Verdict]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val status = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      GraftCopy.reconcile(ctx.spark, ctx.sfDir, dst, Table, PartKey, execute)
    }
    val lines = buf.toString("UTF-8").split("\n").toSeq
    (status, lines.collect { case VerdictLine(p, s, d, v) => Verdict(p, s.toLong, d.toLong, v) })
  }

  /** Per-partition (rows, fingerprint) of a destination, for comparing
    * the outcome of two repair paths. */
  def destFingerprint(ctx: Ctx, dst: String): Set[(String, Long, Long)] = {
    val d = ctx.spark.read.parquet(s"$dst/$Table")
    val cols = drifted(ctx.spark.read.parquet(s"${ctx.sfDir}/$Table.parquet"))
      .columns.filter(_ != "__part").map(col).toSeq
    Fingerprint.byPartition(d.withColumn("__part", expr(PartKey)),
      Seq("__part" -> col("__part")), cols)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  }

  final class State(val template: String, val damage: Damage) {
    var referenceVerdicts: Seq[Verdict] = Nil
    var referenceFp: Set[(String, Long, Long)] = Set.empty
    var rowsWritten = 0L
    var rowsExpected = 0L
    var partitionsRepaired = 0L
    var sourceRows = 0L
    var ops = 0
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val dir = ctx.dir("copy", s"template_$rep")
    Files2.delete(dir)
    new State(dir, buildTemplate(ctx, dir))
  }

  private def restore(ctx: Ctx, st: State): String = {
    val dst = ctx.dir("copy", "dst")
    Files2.delete(dst)
    Files2.copyTree(st.template, dst)
    dst
  }

  private def checkVerdicts(c: OpChecks, st: State, vs: Seq[Verdict]): Unit = {
    c.check(vs.nonEmpty, "no verdict lines")
    val bad = vs.filter(v => v.verdict != st.damage.expected(v.part))
    c.check(bad.isEmpty, s"verdicts differ from the planted damage: ${bad.take(3).mkString(", ")}")
    val planted = st.damage.missing ++ st.damage.divergent + st.damage.destOnly
    val seen = vs.map(_.part).toSet
    c.check(planted.subsetOf(seen), s"planted partitions without a verdict: ${(planted -- seen).take(3)}")
  }

  /** Rows of the data files a sync created, vs the source rows of the
    * partitions it had to rewrite. */
  private def account(st: State, dst: String, before: Map[String, Long], vs: Seq[Verdict]): Unit = {
    val after = Files2.listing(s"$dst/$Table")
    val created = after.keySet.diff(before.keySet).filter(Files2.isData)
    st.rowsWritten += Files2.parquetRows(created.map(r => Paths.get(s"$dst/$Table").resolve(r)))
    val dirty = vs.filter(v => v.verdict == Reconciler.Verdict.Copy ||
      v.verdict == Reconciler.Verdict.DeleteRecopy)
    st.rowsExpected += dirty.map(_.srcRows).sum
    st.partitionsRepaired += dirty.size
    st.sourceRows = vs.map(_.srcRows).sum
    st.ops += 1
  }

  /** One closed-loop operation through the public `GraftCopy` entry point. */
  def op(ctx: Ctx, st: State, c: OpChecks): Unit = {
    val dst = restore(ctx, st)
    val before = Files2.listing(s"$dst/$Table")
    val (status, vs) = ctx.call("sync", "cli")(graftCopy(ctx, dst, execute = true))
    c.check(status == GraftCopy.Status.Ok, s"sync returned status $status")
    checkVerdicts(c, st, vs)
    account(st, dst, before, vs)
    val (vStatus, vvs) = ctx.call("verify", "cli")(graftCopy(ctx, dst, execute = false))
    c.check(vStatus == GraftCopy.Status.Ok, s"re-verify returned status $vStatus")
    c.check(vvs.forall(v => v.verdict == Reconciler.Verdict.Skip || v.part == st.damage.destOnly),
      "re-verify still finds dirty partitions")
    if (st.referenceVerdicts.isEmpty) {
      st.referenceVerdicts = vs
      st.referenceFp = destFingerprint(ctx, dst)
    }
  }

  /** The same sync driven layer by layer (`castPlan` -> `Reconciler.verdicts`
    * -> `Reconciler.repair`) so each layer gets its own span. It must give
    * the verdict rows and the repaired destination that
    * `GraftCopy.reconcile` gives on the same seed, or it has drifted from
    * the product path it stands in for. */
  def tracedOp(ctx: Ctx, st: State, c: OpChecks): Unit = {
    val spark = ctx.spark
    val dst = restore(ctx, st)
    val dstPath = s"$dst/$Table"
    val before = Files2.listing(dstPath)
    val rows = ctx.call("sync", "cli") {
      val src = Tables.load(spark, ctx.sfDir, Table)
      val dstDf = spark.read.parquet(dstPath)
      val plan = ctx.call("castPlan", "recon")(SchemaReconciler.castPlan(src.schema, dstDf.schema))
      val srcCast = plan.map(_._2)
      val srcK = src.withColumn("__part", expr(PartKey))
      val verdicts = Reconciler.verdicts(srcK, dstDf.withColumn("__part", expr(PartKey)),
        Seq("__part" -> col("__part")), srcCast, plan.map(p => col(p._1)))
      val rows = ctx.call("verdicts", "recon")(verdicts.orderBy("__part").collect())
      ctx.call("repair", "recon")(Reconciler.repair(spark, verdicts,
        srcK.select((srcCast :+ col("__part")): _*), "__part", dstPath))
      rows
    }
    val vs = rows.map(r => Verdict(r.getString(0), r.getAs[Long]("src_rows"),
      r.getAs[Long]("dst_rows"), r.getAs[String]("verdict"))).toSeq
    checkVerdicts(c, st, vs)
    c.check(st.referenceVerdicts.isEmpty || vs == st.referenceVerdicts,
      "layer-driven verdict rows differ from GraftCopy.reconcile's")
    account(st, dst, before, vs)
    val (vStatus, _) = ctx.call("verify", "cli")(graftCopy(ctx, dst, execute = false))
    c.check(vStatus == GraftCopy.Status.Ok, s"re-verify returned status $vStatus")
    c.check(st.referenceFp.isEmpty || destFingerprint(ctx, dst) == st.referenceFp,
      "layer-driven repair left a destination unlike GraftCopy.reconcile's")
  }

  def figures(ctx: Ctx, st: State): Unit = {
    ctx.figures("sync_rewrite_ratio") =
      if (st.rowsExpected > 0) st.rowsWritten.toDouble / st.rowsExpected else 0.0
    ctx.figures("recon.partitions_repaired") = st.partitionsRepaired.toDouble / math.max(1, st.ops)
    ctx.figures("recon.rows_written") = st.rowsWritten.toDouble / math.max(1, st.ops)
    ctx.figures("main_rows") = st.sourceRows.toDouble
    ctx.figures("space_amp") = Files2.bytes(ctx.dir("copy", "dst", Table)).toDouble /
      Files2.bytes(s"${ctx.sfDir}/$Table.parquet")
  }
}
