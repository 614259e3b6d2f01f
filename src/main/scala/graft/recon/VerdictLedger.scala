package graft.recon

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{AtomicStore, FileListing, Par}
import graft.fp.Fingerprint

/** The incremental verdict pass and its ledger: a reconcile hashes only
  * the files that changed since the last `--sync`.
  *
  * Each side is hashed as per-file partials ([[Fingerprint.byFile]]:
  * per source file and partition key, a row count and an XOR of row
  * hashes). Count and XOR compose, so the per-key sums and XORs over a
  * side's files equal [[Fingerprint.byPartition]] exactly, and a file
  * whose partials are already known need not be read again. The P
  * per-key rows of the two sides are merged on the driver into a local
  * relation and decided by [[Reconciler.decide]], the ladder the lazy
  * [[Reconciler.verdicts]] applies: the verdict rows, `src_fp` and
  * `dst_fp` included, are those of a full pass.
  *
  * The ledger is one strict JSON meta at `<dstPath>.__graft_verdicts.json`
  * (a sibling of the table, never in its listing), committed by
  * [[AtomicStore.writeMetaJson]]:
  * {{{
  * {"format": "verdict_ledger/1", "plan": "<md5 of keys, columns, schemas>",
  *  "src": {"<file path>": {"id": "<len>:<mtime>", "parts": [[<key>..., rows, fp], ...]}, ...},
  *  "dst": {...}}
  * }}}
  * Key values are strings in Catalyst's form for their Spark type (a null
  * key is JSON null), so an int or date key reads back with its type. Its
  * size is bounded by Σ files × partition keys per file over both sides.
  *
  * Trust: an entry is reused when its file's path, length and mtime (the
  * relation's own file index, [[FileListing.files]]) equal the recorded
  * ones, and when the plan digest (key expressions, hashed columns, both
  * schemas) is unchanged. So each entry validates itself: a repair never
  * updates the ledger (the files it writes are new paths, hashed by the
  * next pass), and deleting the ledger file forces a full pass. A rewrite
  * that keeps a file's path, length and mtime goes unseen — the limit the
  * materialized-view freshness guard ([[graft.plans.RollupRewrite]])
  * accepts too. */
object VerdictLedger {

  val Format = "verdict_ledger/1"

  /** Where the ledger of a destination table lives. */
  def path(dstPath: String): String = dstPath.stripSuffix("/") + ".__graft_verdicts.json"

  /** One side of a reconcile: a file scan, its partition-key expressions
    * (one per key name, evaluated on the scan) and its hashed columns. */
  final case class Side(df: DataFrame, keys: Seq[Column], cols: Seq[Column])

  /** A file's partial for one partition key, the key in Catalyst's
    * internal form. */
  final case class Partial(key: Seq[Any], rows: Long, fp: Long)
  final case class Entry(id: String, parts: Seq[Partial])
  final case class Ledger(plan: String, keyTypes: Seq[DataType],
      src: Map[String, Entry], dst: Map[String, Entry])

  final case class SideStats(listed: Int, hashed: Int, reused: Int, rowsHashed: Long)

  /** A verdict pass: the verdict rows (a local relation, and those rows
    * collected in key order), the ledger status (`used`, `none`,
    * `corrupt: <file>`, `plan changed`), per-side counts, and the ledger
    * of the current listing. */
  final case class Pass(verdicts: DataFrame, rows: Seq[Row], status: String,
      src: SideStats, dst: SideStats, ledger: Ledger)

  /** The verdict pass over `src` and `dst`, reusing the partials of every
    * file the ledger at `ledgerPath` records with the file's current
    * identity; the two sides run concurrently. `readOnly` reads the ledger
    * without healing it (nothing is mutated). None when a side is not a
    * plain file scan or a key type has no ledger form: the caller runs
    * the lazy [[Reconciler.verdicts]] instead. */
  def pass(spark: SparkSession, keyNames: Seq[String], src: Side, dst: Side,
      conf: Reconciler.Config, ledgerPath: String, readOnly: Boolean): Option[Pass] = {
    val keyTypes = src.df.select(src.keys: _*).schema.map(_.dataType)
    val listed = for {
      s <- FileListing.files(src.df)
      d <- FileListing.files(dst.df)
      if keyTypes.forall(codable) && dst.df.select(dst.keys: _*).schema.map(_.dataType) == keyTypes
    } yield (s, d)
    listed.map { case (sFiles, dFiles) =>
      val plan = planDigest(keyNames, keyTypes, src, dst)
      val (prior, status) = read(spark, ledgerPath, plan, keyTypes, readOnly)
      val ((sEntries, sStats), (dEntries, dStats)) = Par.both(
        hash(src, sFiles, prior.fold(Map.empty[String, Entry])(_.src), keyNames, keyTypes),
        hash(dst, dFiles, prior.fold(Map.empty[String, Entry])(_.dst), keyNames, keyTypes))
      val verdicts = decided(spark, keyNames, keyTypes, sEntries, dEntries, conf)
      Pass(verdicts, verdicts.collect().toSeq, status, sStats, dStats,
        Ledger(plan, keyTypes, sEntries, dEntries))
    }
  }

  /** Hash the files of `files` that `prior` does not record with their
    * current identity, through a `_metadata.file_path IN (…)` filter the
    * scan prunes its file list by (no filter when every file is fresh, no
    * scan when none is); keep the recorded partials of the rest. */
  private def hash(side: Side, files: Seq[FileListing.Listed], prior: Map[String, Entry],
      keyNames: Seq[String], keyTypes: Seq[DataType]): (Map[String, Entry], SideStats) = {
    val (reused, fresh) = files.partition(f => prior.get(f.path).exists(_.id == f.id))
    val hashed: Map[String, Seq[Partial]] =
      if (fresh.isEmpty) Map.empty
      else {
        val scan = if (reused.isEmpty) side.df
          else side.df.filter(col("_metadata.file_path").isin(fresh.map(_.uri): _*))
        val toInternal = keyTypes.map(CatalystTypeConverters.createToCatalystConverter)
        val n = keyNames.size
        val pathOf = fresh.map(f => f.uri -> f.path).toMap
        val byUri = Fingerprint.byFile(scan, keyNames.zip(side.keys), side.cols).collect().toSeq
          .groupBy(_.getString(0))
        val strays = byUri.keySet -- pathOf.keySet
        if (strays.nonEmpty)
          throw new IllegalStateException(s"hashed files outside the listing: ${strays.take(3)}")
        byUri.map { case (uri, rs) =>
          pathOf(uri) -> rs.map(r => Partial((0 until n).map(i => toInternal(i)(r.get(1 + i))),
            r.getLong(1 + n), r.getLong(2 + n)))
        }
      }
    val entries = reused.map(f => f.path -> prior(f.path)) ++
      fresh.map(f => f.path -> Entry(f.id, hashed.getOrElse(f.path, Nil)))
    (entries.toMap, SideStats(files.size, fresh.size, reused.size, hashed.values.flatten.map(_.rows).sum))
  }

  /** Merge each side's partials per key and decide every key present on
    * either side, in ascending key order (nulls first, as `orderBy`). */
  private def decided(spark: SparkSession, keyNames: Seq[String], keyTypes: Seq[DataType],
      src: Map[String, Entry], dst: Map[String, Entry], conf: Reconciler.Config): DataFrame = {
    def merged(entries: Map[String, Entry]): Map[Seq[Any], (Long, Long)] =
      entries.valuesIterator.flatMap(_.parts).foldLeft(Map.empty[Seq[Any], (Long, Long)]) { (m, p) =>
        val (rows, fp) = m.getOrElse(p.key, (0L, 0L))
        m.updated(p.key, (rows + p.rows, fp ^ p.fp))
      }
    val (s, d) = (merged(src), merged(dst))
    val order = RowOrdering.createNaturalAscendingOrdering(keyTypes)
    val keys = (s.keySet ++ d.keySet).toSeq
      .sortWith((a, b) => order.compare(InternalRow.fromSeq(a), InternalRow.fromSeq(b)) < 0)
    val toScala = keyTypes.map(CatalystTypeConverters.createToScalaConverter)
    def side(m: Map[Seq[Any], (Long, Long)], k: Seq[Any]): (Any, Any) =
      m.get(k).fold[(Any, Any)]((null, null)) { case (r, f) => (r, f) }
    val rows = keys.map { k =>
      val ((sRows, sFp), (dRows, dFp)) = (side(s, k), side(d, k))
      Row.fromSeq(k.zip(toScala).map { case (v, c) => c(v) } ++ Seq(sRows, dRows, sFp, dFp))
    }
    val schema = StructType(keyNames.zip(keyTypes).map { case (n, t) => StructField(n, t) } ++
      Seq("src_rows", "dst_rows", "src_fp", "dst_fp").map(StructField(_, LongType)))
    Reconciler.decide(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), keyNames, conf)
  }

  /** What a file's partials depend on besides its bytes: the key names
    * and types, each side's key and column expressions and its schema. */
  private def planDigest(keyNames: Seq[String], keyTypes: Seq[DataType], sides: Side*): String = {
    val text = keyNames ++ keyTypes.map(_.catalogString) ++ sides.flatMap { s =>
      s.df.schema.catalogString +: (s.df.select(s.keys ++ s.cols: _*).queryExecution.analyzed match {
        case p: Project => p.projectList.map(_.sql)
        case other => Seq(other.toString)
      })
    }
    java.security.MessageDigest.getInstance("MD5").digest(text.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Partition-key types with a ledger form. */
  private def codable(t: DataType): Boolean = t match {
    case _: StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  private def encode(v: Any): String = v match {
    case x: Float => java.lang.Float.toString(x)
    case x: Double => java.lang.Double.toString(x)
    case x: Decimal => x.toJavaBigDecimal.toPlainString
    case x => x.toString // UTF8String, Boolean, Byte, Short, Int (date), Long (timestamps)
  }

  private def decode(s: String, t: DataType): Any = t match {
    case _: StringType => UTF8String.fromString(s)
    case BooleanType => s.toBoolean
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType | DateType => s.toInt
    case LongType | TimestampType | TimestampNTZType => s.toLong
    case FloatType => java.lang.Float.parseFloat(s)
    case DoubleType => java.lang.Double.parseDouble(s)
    case d: DecimalType => Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
  }

  /** Commit `ledger` at `path` (tmp, delete, rename). */
  def write(spark: SparkSession, path: String, ledger: Ledger): Unit =
    AtomicStore.writeMetaJson(spark, path) { root =>
      root.put("format", Format)
      root.put("plan", ledger.plan)
      for ((name, entries) <- Seq("src" -> ledger.src, "dst" -> ledger.dst)) {
        val side = root.putObject(name)
        entries.toSeq.sortBy(_._1).foreach { case (file, e) =>
          val f = side.putObject(file)
          f.put("id", e.id)
          val parts = f.putArray("parts")
          e.parts.foreach { p =>
            val a = parts.addArray()
            p.key.foreach(v => if (v == null) a.addNull() else a.add(encode(v)))
            a.add(p.rows)
            a.add(p.fp)
          }
        }
      }
    }

  /** The ledger at `path` if it was written for `plan`, and the status of
    * the read. A damaged ledger is named, never trusted. */
  private def read(spark: SparkSession, path: String, plan: String, keyTypes: Seq[DataType],
      readOnly: Boolean): (Option[Ledger], String) =
    try AtomicStore.readMetaJson(spark, path, recover = !readOnly) { doc =>
      require(doc.required("format").asText == Format, s"not a $Format document")
      if (doc.required("plan").asText != plan) None
      else Some(Ledger(plan, keyTypes,
        entries(doc.required("src"), keyTypes), entries(doc.required("dst"), keyTypes)))
    } match {
      case None => (None, "none")
      case Some(None) => (None, "plan changed")
      case Some(l) => (l, "used")
    } catch { case _: IllegalStateException => (None, s"corrupt: $path") }

  private def entries(node: JsonNode, keyTypes: Seq[DataType]): Map[String, Entry] = {
    require(node.isObject, "a side must be an object")
    val n = keyTypes.size
    def long(v: JsonNode): Long = { require(v.isIntegralNumber && v.canConvertToLong, s"not a long: $v"); v.longValue }
    node.properties().asScala.map { e =>
      val f = e.getValue
      val id = f.required("id")
      require(id.isTextual, s"not an id: $id")
      val parts = f.required("parts").elements().asScala.map { a =>
        require(a.isArray && a.size == n + 2, s"not a partial: $a")
        val key = (0 until n).map { i =>
          val v = a.get(i)
          if (v.isNull) null
          else { require(v.isTextual, s"not a key value: $v"); decode(v.textValue, keyTypes(i)) }
        }
        Partial(key, long(a.get(n)), long(a.get(n + 1)))
      }.toSeq
      e.getKey -> Entry(id.textValue, parts)
    }.toMap
  }
}
