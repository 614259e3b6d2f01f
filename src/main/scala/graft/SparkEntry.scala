package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries.{BehaviorQueries, CurationQueries, ExtendedQueries, GraphQueries, PipelineQueries, ReferenceQueries, RollupQueries, ScaleQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query implementations live in graft.queries.*; this object is the flat
  * registry the driver consumes. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reconciliation verdict — the reference's core semantic
    * (`/root/reference/copy/copy.go:194-271`) — over a derived src/dst pair. */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.reconVerdict(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.all ++ PipelineQueries.all ++ ExtendedQueries.all ++
      CurationQueries.all ++ ScaleQueries.all ++ GraphQueries.all ++
      BehaviorQueries.all ++ RollupQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracles ++ PipelineQueries.oracles ++ ExtendedQueries.oracles ++
      CurationQueries.oracles ++ ScaleQueries.oracles ++ GraphQueries.oracles ++
      BehaviorQueries.oracles ++ RollupQueries.oracles
}
