package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Catalog access over the parquet fixture layout (one `<name>.parquet` per
  * table under a scale-factor dir), mirroring the reference's introspection
  * surface:
  *
  *  - `EXISTS db.table`       (`/root/reference/database/database.go:342-364`) → [[exists]]
  *  - `DESCRIBE TABLE`        (`/root/reference/database/database.go:322-330`) → [[describe]]
  *  - `SELECT count(*)`       (`/root/reference/database/database.go:366-388`) → `df.count()`
  *  - `system.tables` meta    (`/root/reference/database/database.go:332-340`) → [[TableHandle.partitionKey]]
  *
  * The same handle abstraction would front a JDBC ClickHouse source in
  * production (`spark.read.format("jdbc")`); parquet is the fixture path.
  * Both are lazy scans — Catalyst pushes filters/projections into either.
  */
object Tables {

  // Resolved-relation cache: file listing + footer schema inference cost a
  // driver job per spark.read.parquet; a 40-query batch re-resolving the
  // same 10 tables pays it dozens of times. Safe for the immutable fixture
  // dirs this loads; a caller that mutates a cached dir (repair flows read
  // dest paths via spark.read directly, not here) must invalidate() first,
  // as must one whose dir may change under it (GraftCopy's source).
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Drop cached resolutions for a dir (all tables, all sessions) — call
    * after writing into a directory previously read through [[load]]. */
  def invalidate(dir: String): Unit =
    cache.keys.filter(_._2 == dir).foreach(cache.remove)

  /** Fixture tables whose row count tracks the corpus (at 100 TB: the fact
    * tables and the document/embedding corpora). Their scans are
    * registered with [[graft.plans.CorpusScale]] so the
    * DemoteCorpusBroadcast rule strips broadcast eligibility from
    * corpus↔corpus joins regardless of what compile-time estimates claim.
    * Dimensions (region/nation/customer/supplier/part) stay unregistered —
    * corpus ⋈ dimension broadcasts are correct and wanted. */
  private val CorpusTables = Set("documents", "embeddings", "events", "lineitem", "orders")

  /** Load a fixture table. `dir` is e.g. "/root/testdata/sf0.01". */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (CorpusTables(name)) graft.plans.CorpusScale.register(s"$dir/$name.parquet")
    cache.getOrElseUpdate((spark, dir, name), {
      // Runtime-settable; required before first read of events.parquet (ns ts).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** Normalize `events.ts` to session-zone TimestampType regardless of the
    * fixture's physical encoding. The fixture generator has shipped two
    * shapes across rounds: INT64 epoch-NANOS (reads as Long under
    * `nanosAsLong`) and parquet timestamp[us] with isAdjustedToUTC=false
    * (reads as TIMESTAMP_NTZ). Every downstream query works on one
    * canonical TimestampType, so both shapes must land there. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    // INTEGER division — double division would lose precision (ns epoch
    // values exceed 2^53) and land ±1us off.
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // NTZ→LTZ is wall-clock-preserving under the UTC session zone pinned
    // two lines above (GraftSession pins it too).
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** A1/A2 table scan with projection applied at the source: the Spark
    * analogue of the reference embedding the column list in its generated
    * `SELECT … FROM remote(…)` (`/root/reference/database/database.go:488-489`). */
  def scan(spark: SparkSession, dir: String, name: String, cols: Seq[String] = Nil): DataFrame = {
    val df = load(spark, dir, name)
    if (cols.isEmpty) df else df.select(cols.map(col): _*)
  }

  /** Does the table's `<name>.parquet` exist under `dir`? Asked through
    * the path's Hadoop FileSystem, so an `hdfs:` or `s3a:` dir answers
    * truly (a `java.io.File` probe reads false for every non-local path). */
  def exists(spark: SparkSession, dir: String, name: String): Boolean =
    Fs.exists(spark, s"$dir/$name.parquet")

  /** [[exists]] through the active session's Hadoop configuration. */
  def exists(dir: String, name: String): Boolean = exists(SparkSession.active, dir, name)

  /** Register the fixture table as a REAL session-catalog table — an
    * EXTERNAL parquet table pointing at the fixture file (no copy; DROP
    * removes only metadata). This is the `system.tables` analogue done
    * through `spark.catalog` instead of paths: existence is
    * `spark.catalog.tableExists`, DESCRIBE is `spark.catalog.listColumns`,
    * reads are `spark.table(name)`. A fresh UUID-suffixed name per call
    * keeps concurrent registrations (Bench runs each query 3x in one
    * session) from colliding. Caller drops the table when done. */
  def registerExternal(spark: SparkSession, dir: String, name: String): String = {
    val tbl = s"graft_${name}_${java.util.UUID.randomUUID.toString.take(8)}"
    // resolve through load() first so session confs (ns timestamps, UTC)
    // are applied before the catalog relation is cached
    load(spark, dir, name)
    spark.catalog.createTable(tbl, s"$dir/$name.parquet", "parquet")
    tbl
  }

  /** Write `df` as a Hive-style PARTITIONED external catalog table at
    * `path`, partitioned by `partCol` — the layout `SHOW PARTITIONS` and
    * partition pruning operate on. Caller drops + deletes. */
  def writePartitionedTable(df: DataFrame, table: String, path: String,
      partCol: String): Unit =
    df.write.partitionBy(partCol).format("parquet")
      .option("path", path).mode("overwrite").saveAsTable(table)

  /** DESCRIBE TABLE as data: (col_name, col_type) rows in schema order. */
  def describe(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = load(spark, dir, name).schema
    describeSchema(spark, schema)
  }

  def describeSchema(spark: SparkSession, schema: StructType): DataFrame = {
    import spark.implicits._
    schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString)).toDF("col_name", "col_type")
  }
}

/** Resolved table: the Spark analogue of the reference's `tableSettings`
  * struct (`/root/reference/database/database.go:42-50`, assembled by
  * `CreateTableSettings` `:52-62`). Row data never materialises on the
  * driver — `df` is a lazy plan; `totalRows` is an action run on demand.
  *
  * @param partitionKey partition-key *expressions* in Spark SQL syntax, the
  *   analogue of `system.tables.partition_key` (e.g. ClickHouse
  *   `toYYYYMM(date)` ≙ `date_format(l_shipdate,'yyyyMM')`). Functional keys
  *   need no regex parsing here (reference:
  *   `/root/reference/database/sidefunctions.go:17-50`) — Catalyst's `expr()`
  *   parses them directly.
  */
final case class TableHandle(
    spark: SparkSession,
    dir: String,
    name: String,
    partitionKey: Seq[String]) {

  def df: DataFrame = Tables.load(spark, dir, name)
  def schema: StructType = df.schema
  def exists: Boolean = Tables.exists(spark, dir, name)
  def totalRows: Long = df.count()
  def partitionKeyCols: Seq[Column] = partitionKey.map(expr)
}
