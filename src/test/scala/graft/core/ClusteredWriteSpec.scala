package graft.core

import scala.collection.mutable

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClusteredWriteSpec extends SparkSpec {

  /** Parquet files per leaf directory under `tree`. */
  private def filesPerDir(tree: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(tree)
    val it = java.nio.file.Files.walk(root)
    try {
      val files = mutable.Map.empty[String, Int].withDefaultValue(0)
      it.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          files(root.relativize(p.getParent).toString) += 1
      }
      files.toMap
    } finally it.close()
  }

  /** Run `f`; the task count of every stage of every query it runs that
    * writes under `root`. */
  private def writeStageTasks(root: String)(f: => Unit): Seq[Int] = {
    val writesUnder = mutable.Set.empty[Long]
    val tasks = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
              s.physicalPlanDescription.contains(root) =>
          synchronized(writesUnder += s.executionId)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        val exec = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        if (exec.exists(writesUnder)) tasks ++= j.stageInfos.map(_.numTasks)
      }
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    listener.synchronized(tasks.toSeq)
  }

  private def cores = spark.sparkContext.defaultParallelism

  test("BM25 build + append at 64 buckets: one task per core, one file per (shard, bucket) dir") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val dir = tmpDir("clustered_bm25")
    val tasks = writeStageTasks(dir) {
      graft.text.Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", dir, buckets = 64, shardId = "s0")
      graft.text.Retrieval.appendBm25Index(docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", dir, "s1")
    }
    assert(tasks.nonEmpty && tasks.max <= cores, tasks)
    for (tree <- Seq("postings", "impacts")) {
      val files = filesPerDir(s"$dir/$tree")
      assert(files.keySet.map(_.takeWhile(_ != '/')) == Set("shard=s0", "shard=s1"))
      assert(files.size > cores, s"$tree: only ${files.size} bucket dirs")
      assert(files.values.forall(_ == 1), s"$tree: $files")
    }
  }

  test("IVF append with more centroids than cores: one file per (shard, centroid) dir") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val dir = tmpDir("clustered_ivf")
    val nCentroids = 4 * cores
    graft.sim.Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir, nCentroids = nCentroids)
    val tasks = writeStageTasks(s"$dir/assigned") {
      graft.sim.Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dir, "s1")
    }
    assert(tasks.nonEmpty && tasks.max <= cores, tasks)
    val files = filesPerDir(s"$dir/assigned").filter(_._1.startsWith("shard=s1/"))
    assert(files.size > cores, s"only ${files.size} centroid dirs in shard s1")
    assert(files.values.forall(_ == 1), files)
  }
}
