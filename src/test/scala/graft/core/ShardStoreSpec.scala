package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The shard-subtree protocol, covered once and directly; the seen,
  * near-dup and media-feature store specs cover each store's own logic. */
class ShardStoreSpec extends SparkSpec {
  import spark.implicits._

  private val store = new ShardStore("rows", StructType(Seq(
    StructField("k", LongType), StructField("shard", StringType))))

  private def rows(ks: Long*): DataFrame = ks.toDF("k")

  private def keys(p: String): Seq[Long] =
    store.read(spark, p).get.as[Long].collect().toSeq.sorted

  private def fs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append is idempotent per shard id") {
    val p = tmpDir("shard_idem")
    assert(store.read(spark, p).isEmpty)
    assert(store.append(spark, p, rows(1L, 2L), "s0"))
    // a replay with DIFFERENT rows writes nothing: the committed shard wins
    assert(!store.append(spark, p, rows(9L), "s0"))
    assert(store.append(spark, p, rows(3L), "s1"))
    assert(!store.append(spark, p, rows(3L), "s1"))
    assert(keys(p) == Seq(1L, 2L, 3L))
    assert(store.processedShards(spark, p) == Set("s0", "s1"))
  }

  test("an orphan subtree from a torn append is invisible until its replay commits") {
    val p = tmpDir("shard_orphan")
    store.append(spark, p, rows(1L), "s0")
    // the torn append: the shard's subtree landed, its meta commit did not
    rows(2L, 3L).withColumn("shard", lit("s1"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(s"$p/rows")
    assert(keys(p) == Seq(1L), "orphan visible")
    assert(store.processedShards(spark, p) == Set("s0"))
    // the replay overwrites the orphan's directory and commits it
    assert(store.append(spark, p, rows(2L), "s1"))
    assert(keys(p) == Seq(1L, 2L))
  }

  test("compact keeps the history ids; reads are row-identical before and after") {
    val p = tmpDir("shard_compact")
    assert(!store.compact(spark, p), "compact before the first append")
    (0 until 4).foreach(i => store.append(spark, p, rows(i.toLong, 7L), s"s$i"))
    val before = keys(p)
    val nFiles = AtomicStore.dataFileCount(spark, s"$p/rows")
    assert(store.compact(spark, p))
    assert(keys(p) == before) // duplicates across shards survive: fold is identity
    assert(AtomicStore.dataFileCount(spark, s"$p/rows") < nFiles)
    assert(store.processedShards(spark, p) == (0 until 4).map(i => s"s$i").toSet)
    // a long-gone shard's replay still short-circuits
    assert(!store.append(spark, p, rows(99L), "s2"))
    // appends after a compaction land beside the folded tree
    assert(store.append(spark, p, rows(5L), "s4"))
    assert(keys(p) == (before :+ 5L).sorted)
    // a second compaction re-folds the folded tree; `fold` reshapes it
    assert(store.compact(spark, p, fold = _.distinct()))
    assert(keys(p) == (before :+ 5L).distinct.sorted)
  }

  test("__compacted is rejected as a shard id") {
    val p = tmpDir("shard_reserved")
    intercept[IllegalArgumentException] {
      store.append(spark, p, rows(1L), ShardStore.Compacted)
    }
    assert(store.read(spark, p).isEmpty)
  }

  test("a torn compact self-heals on the next read") {
    val p = tmpDir("shard_torn_compact")
    store.append(spark, p, rows(1L, 2L), "s0")
    store.append(spark, p, rows(3L), "s1")
    assert(store.compact(spark, p))
    // crash between the swap's delete and rename: the completed folded
    // tree sits at rows_tmp, the tree itself is gone
    assert(fs(p).rename(new org.apache.hadoop.fs.Path(s"$p/rows"),
      new org.apache.hadoop.fs.Path(s"$p/rows_tmp")))
    assert(keys(p) == Seq(1L, 2L, 3L))
    assert(fs(p).exists(new org.apache.hadoop.fs.Path(s"$p/rows")))
    assert(!fs(p).exists(new org.apache.hadoop.fs.Path(s"$p/rows_tmp")))
  }
}
