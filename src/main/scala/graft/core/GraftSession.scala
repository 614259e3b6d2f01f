package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * The reference (noperformance/clickhouse-table-copier) keeps a lazily
  * initialised singleton connection per server (`database/database.go:28-34`,
  * `once.Do`); in Spark the session IS that singleton. The reference's
  * timezone paranoia (fatal mismatch between the two servers,
  * `copy/copy.go:151-160`) collapses to pinning one session zone: UTC.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replace any hand-tuned partition counts.
  *  - `shuffle.partitions` here is only the local-mode floor; on a real
  *    cluster AQE's advisory size drives the effective number. The
  *    partition-discovery (listing) parallelism is pinned to the same
  *    local core count.
  */
object GraftSession {

  /** Apply engine-standard runtime confs to an existing session (safe to call
    * on a session we did not build — all of these are runtime-settable). */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    // events.parquet carries INT64 TIMESTAMP(NANOS) which vanilla Spark
    // refuses to read; read as Long nanoseconds and convert explicitly.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.parquet.filterPushdown", "true")
    // cached relations (the shard-ingest persist in Retrieval, pqKnn's
    // codebook) otherwise pin their below-cache shuffles to the static
    // partition count and block AQE re-planning above them — with the
    // flag on, AQE may re-coalesce around InMemoryRelation output (safe:
    // consumers here are order-free aggregates and pinned-count writes)
    c.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // Partition ids stay strings end-to-end (the reference round-trips them
    // as strings, database/sidefunctions.go:11-15); inference would turn
    // part=199605 into an int on read-back and break verdict joins.
    c.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    c.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // structural corpus-join broadcast guard (round-7): every entry point
    // that tunes a session gets the rule — per-site merge hints are no
    // longer the only thing between a pruned-scan size estimate and a
    // corpus-wide broadcast build
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DemoteCorpusBroadcast))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DemoteCorpusBroadcast
    // materialized-view auto-rewrite (round-10): aggregates over a raw
    // table with a registered rollup store read merged states instead —
    // a no-op while MaterializedRollups is empty
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RollupRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RollupRewrite
    spark
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        // a read of more than 32 partition dirs lists them in a Spark job
        // with one task per dir (up to 10,000) by default; one per core
        // costs the same listing for a fraction of the task launches. Set
        // here, not in `tune`: a cluster session may report a low
        // parallelism before its executors register.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate())
}
