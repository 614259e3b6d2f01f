package graft.cli

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.recon.{Reconciler, VerdictLedger}

/** Spec helpers around one `GraftCopy.reconcile` call and the verdict
  * passes it makes. */
object CopyRun {

  /** A reconcile's exit status, its verdict lines and its pass record
    * (null when it made no verdict pass). */
  final case class Run(status: Int, verdicts: Seq[String], record: JsonNode) {
    def ledger: String = record.get("ledger").asText
    def side(name: String, field: String): Long = record.get(name).get(field).asLong
  }

  private val Json = new ObjectMapper()

  def apply(spark: SparkSession, src: String, dst: String, execute: Boolean, key: String,
      byFile: Boolean = false): Run = {
    val buf = new java.io.ByteArrayOutputStream()
    val status = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(
      GraftCopy.reconcile(spark, src, dst, "lineitem", key, execute, byFile = byFile))
    val lines = buf.toString("UTF-8").split("\n").toSeq
    val records = lines.filter(_.startsWith("{\"event\":\"verdict_pass\""))
    require(records.size <= 1, lines)
    Run(status, lines.filter(_.contains("] part=")), records.headOption.map(Json.readTree).orNull)
  }

  /** The verdict line GraftCopy prints for a verdict row. */
  def line(r: Row): String =
    s"[graft-copy] part=${r.get(0)} src=${r.get(1)} dst=${r.get(2)} -> ${r.getAs[String]("verdict")}"

  /** The table path of the destination `dst` (flat or partitioned). */
  def dstPath(spark: SparkSession, dst: String): String =
    if (Tables.exists(spark, dst, "lineitem")) s"$dst/lineitem.parquet" else s"$dst/lineitem"

  /** The ledger pass (read-only) and the lazy ledger-free full pass over
    * the same tree, with the sides GraftCopy builds. */
  def passes(spark: SparkSession, src: String, dst: String, key: String,
      byFile: Boolean = false): (VerdictLedger.Pass, Seq[Row]) = {
    Tables.invalidate(src)
    val path = dstPath(spark, dst)
    val (s, d) = GraftCopy.sides(Tables.load(spark, src, "lineitem"), spark.read.parquet(path), key, byFile)
    val pass = VerdictLedger.pass(spark, Seq("__part"), s, d, Reconciler.Config(),
      VerdictLedger.path(path), readOnly = true).get
    val full = Reconciler.verdicts(s.df.withColumn("__part", s.keys.head),
      d.df.withColumn("__part", d.keys.head), Seq("__part" -> col("__part")), s.cols, d.cols)
      .orderBy("__part").collect().toSeq
    (pass, full)
  }
}
