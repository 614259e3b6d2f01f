package graft.fp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprints.
  *
  * Reference semantics: `SELECT groupBitXor(cityHash64(*)) FROM (SELECT cols
  * FROM t WHERE …)` (`/root/reference/database/database.go:509-530`) — XOR of
  * per-row 64-bit hashes, so equal row-multisets produce equal fingerprints
  * regardless of order. CityHash64 bit-parity is NOT required: the hash is
  * only ever compared against the same hash on the other side
  * (`/root/reference/copy/copy.go:237-241`), so any good 64-bit row hash
  * works. We use Spark's codegen'd `xxhash64` + `bit_xor` builtins — the
  * whole fingerprint stays inside whole-stage codegen and partial
  * aggregation, so at 100 TB each executor folds its partitions locally and
  * only 8 bytes per partition-group cross the shuffle.
  *
  * XOR caveat (inherited from the reference): rows appearing an even number
  * of times cancel out. We therefore always pair the fingerprint with a
  * count, as the reference pairs `CheckPartitionRowCount` with the hash
  * compare (`/root/reference/copy/copy.go:215,237`).
  */
object Fingerprint {

  /** 64-bit per-row hash over the given columns (null-safe: xxhash64 folds
    * nulls into the seed deterministically). */
  def rowHash(cols: Seq[Column]): Column = xxhash64(cols: _*)

  /** Aggregate fingerprint column: XOR of per-row hashes. */
  def agg(cols: Seq[Column]): Column = bit_xor(rowHash(cols))

  /** Whole-relation fingerprint + row count (single pass). */
  def ofDataFrame(df: DataFrame, cols: Seq[String] = Nil): (Long, Long) = {
    val cs = (if (cols.isEmpty) df.columns.toSeq else cols).map(col)
    val row = df.agg(
      coalesce(agg(cs), lit(0L)).as("fp"),
      count(lit(1)).as("rows")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** ORACLE-PORTABLE fingerprint family. xxhash64 (the production row hash
    * above) has no DuckDB twin, so queries emitting it are invisible to the
    * external DuckDB correctness gate. Both engines DO share `md5` over
    * strings, so the portable variant hashes a canonical string form of the
    * row and parses the first 15 hex chars (60 bits — the largest md5 prefix
    * that fits a signed 64-bit int in both engines) as the row hash. Same
    * XOR-of-row-hashes aggregate semantics as [[agg]]
    * (`/root/reference/database/database.go:509-530`), same codegen'd
    * builtins-only plan shape. Measured ~6x the xxhash64 form at full
    * 11-column width (decimal→string rendering dominates, not the md5), so
    * the xxhash64 form stays the production default and this one is the
    * externally-verifiable audit mirror. DuckDB mirror SQL:
    * `bit_xor(CAST('0x' || substr(md5(concat_ws(chr(1), …)), 1, 15) AS BIGINT))`
    * (generated by graft.queries.PortableSql, kept in lockstep with this). */
  def portableRowHash(canonCols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("\u0001", canonCols: _*)), 1, 15), 16, 10)
      .cast(LongType)

  /** Canonical cross-engine string form of a column for [[portableRowHash]]:
    * both engines must render the SAME characters for the same value.
    *  - timestamps → epoch MICROSECONDS as a string (`unix_micros` ↔ DuckDB
    *    `epoch_us`): integer-exact, full precision, and pure arithmetic —
    *    rendering the wall-clock form per row costs a formatter pass and
    *    engine default casts disagree on sub-second/zone rendering anyway
    *  - float/double → via try_cast to DECIMAL(38,6) (both engines render
    *    decimals with the full scale; raw double→string shortest-round-trip
    *    forms differ). try_cast in BOTH engines: a double beyond 1e32 maps
    *    to the NULL sentinel on both sides instead of erroring under ANSI
    *    (Spark) / always (DuckDB) — magnitude beyond the decimal range is
    *    collapsed rather than fatal. Parity domain (measured): exact for
    *    any double whose value×10^6 fits 2^53 (ties round identically);
    *    beyond ~9e9 DuckDB scales in double space while Spark expands
    *    exactly, so last-microdigit divergence is possible — a documented
    *    canonicalization limit, far outside the reference's money/metric
    *    value ranges.
    *  - everything else → plain string cast (integers/strings agree)
    * NULL -> chr(0) sentinel AFTER conversion (concat_ws silently drops nulls
    * in both engines, which would conflate (a,NULL,b) with (a,b)). */
  def portableCanonical(c: Column, dt: DataType): Column = {
    val s = dt match {
      case TimestampType => unix_micros(c).cast(StringType)
      // NTZ wall-clock == UTC instant under the engine's pinned-UTC session,
      // which is exactly how DuckDB's epoch_us reads a naive timestamp
      case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
      case DoubleType | FloatType => c.try_cast(DecimalType(38, 6)).cast(StringType)
      case _ => c.cast(StringType)
    }
    coalesce(s, lit("\u0000"))
  }

  /** Portable aggregate fingerprint (coalesced to 0 on empty input, matching
    * the DuckDB mirror's coalesce). */
  def portableAgg(canonCols: Seq[Column]): Column =
    coalesce(bit_xor(portableRowHash(canonCols)), lit(0L))

  /** FUSED native form of [[portableCanonical]]+[[portableRowHash]]: one
    * expression streams each RAW column's canonical bytes into a reused
    * MD5 and reads the 60-bit prefix off the digest — no per-row
    * concat/hex/conv strings (measured ~6x on the 11-column lineitem row;
    * see [[graft.functions.expressions.PortableRowHash60]]). The builtin
    * chain above stays as the executable spec this is bit-parity-tested
    * against, and as the 1:1 mirror of the DuckDB oracle SQL. */
  def portableRowHashNative(cols: Seq[Column]): Column =
    graft.functions.expressions.PortableHashExpression.portableRowHash60(cols)

  /** [[portableAgg]] over the fused native row hash. NOTE: as an
    * aggregate-input expression the CodegenFallback hash pulls the whole
    * HashAggregate stage out of whole-stage codegen — prefer
    * [[portableOfDataFrame]] / [[byPartitionPortable]], which keep the
    * hash in its own projection (measured 1.7x at sf0.1). */
  def portableAggNative(cols: Seq[Column]): Column =
    coalesce(bit_xor(portableRowHashNative(cols)), lit(0L))

  /** Whole-relation portable fingerprint + count, hash pre-projected so
    * the aggregate stays codegen'd. Output columns (fp_portable, n_rows). */
  def portableOfDataFrame(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(portableRowHashNative(cols.map(col)).as("__ph"))
      .agg(coalesce(bit_xor(col("__ph")), lit(0L)).as("fp_portable"),
        count(lit(1)).as("n_rows"))

  /** [[portableCanonical]] columns for `cols` of `df`, resolving data types
    * from the schema. */
  def portableCanonicalCols(df: DataFrame, cols: Seq[String]): Seq[Column] =
    cols.map(n => portableCanonical(col(n), df.schema(n).dataType))

  /** Per-partition fingerprints: one shuffle computes (partKey, rows, fp) for
    * every partition at once — the set-based replacement for the reference's
    * per-partition query loop (`/root/reference/copy/copy.go:194-271`), which
    * would issue 2×P scans. At 1000 executors this is a single map-side
    * partially-aggregated pass over the table.
    *
    * @param partKeys (alias, expression) pairs forming the partition key
    * @param cols     content columns to fingerprint (post-cast on the source
    *                 side — see Reconciler for the B18 asymmetry)
    */
  def byPartition(df: DataFrame, partKeys: Seq[(String, Column)], cols: Seq[Column]): DataFrame =
    df.groupBy(partKeys.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("rows"), agg(cols).as("fp"))

  /** The column [[byFile]] names each row's source file by. */
  val FileCol = "__file"

  /** [[byPartition]]'s per-file partials: one (`__file`, partKey, rows, fp)
    * row per source file and partition key, `__file` being the scan's
    * `_metadata.file_path` (the file's qualified URI). Count and XOR
    * compose, so the per-key sum of `rows` and XOR of `fp` over a
    * relation's files equal [[byPartition]] over it exactly — a caller
    * that kept the partials of unchanged files hashes only the others
    * (see [[graft.recon.VerdictLedger]]). `df` must be a file scan
    * (possibly filtered or projected). */
  def byFile(df: DataFrame, partKeys: Seq[(String, Column)], cols: Seq[Column]): DataFrame =
    df.groupBy((col("_metadata.file_path").as(FileCol) +:
        partKeys.map { case (n, c) => c.as(n) }): _*)
      .agg(count(lit(1)).as("rows"), agg(cols).as("fp"))

  /** [[byPartition]] in the oracle-portable (md5-derived) hash family —
    * same one-shuffle plan, same (key, count, xor-fingerprint) shape,
    * externally verifiable against the DuckDB mirror. Output columns
    * (…, n_rows, fp_portable). */
  def byPartitionPortable(df: DataFrame, partKeys: Seq[(String, Column)],
      cols: Seq[String]): DataFrame =
    // hash in its OWN projection (see portableAggNative's codegen note)
    df.select(partKeys.map { case (n, c) => c.as(n) } :+
        portableRowHashNative(cols.map(col)).as("__ph"): _*)
      .groupBy(partKeys.map { case (n, _) => col(n) }: _*)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(bit_xor(col("__ph")), lit(0L)).as("fp_portable"))

  /** Incremental fingerprint maintenance — the reason XOR (not a sum or a
    * sketch) is the right aggregate at 100 TB: XOR is its own inverse, so a
    * stored per-partition (rows, fp) table updates from a DELTA alone.
    * Appends fold in as `fp ⊕ fp(delta)`; deletions fold in the SAME way
    * (re-XOR of the removed rows cancels them). A daily reconcile of an
    * append-only table therefore scans the day's delta, never the table:
    * O(delta + partitions) instead of O(table).
    *
    * `stored` must have columns (partCols..., rows, fp) as produced by
    * [[byPartition]]; `deltaRows` counts sign (+1 append, -1 delete).
    * Partitions that end at rows==0 drop out. Spec-verified:
    * merge(byPartition(old), delta) == byPartition(old ∪ delta). */
  def mergeDelta(stored: DataFrame, delta: DataFrame, partCols: Seq[String],
      deltaSign: Int = 1): DataFrame = {
    val d = delta.withColumnRenamed("rows", "__d_rows")
      .withColumnRenamed("fp", "__d_fp")
    stored.join(d, partCols, "full_outer")
      .select(partCols.map(col) ++ Seq(
        (coalesce(col("rows"), lit(0L)) +
          lit(deltaSign) * coalesce(col("__d_rows"), lit(0L))).as("rows"),
        coalesce(col("fp"), lit(0L))
          .bitwiseXOR(coalesce(col("__d_fp"), lit(0L))).as("fp")): _*)
      .filter(col("rows") > 0)
  }
}
