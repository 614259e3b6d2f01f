package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.agg.AggStore
import graft.core.WriterLease.ConcurrentWriterException

/** Writer-lease contract (round-10 verdict #3): two writers against one
  * store path — one wins, the other fails LOUDLY, and store reads stay
  * consistent; a crashed writer's stale lock breaks after the TTL; the
  * lease always releases, even when the guarded operation throws. */
class WriterLeaseSpec extends SparkSpec {

  private def events = Tables.load(spark, sf001, "events")
    .select(col("event_id"), col("event_type"), col("value"))

  test("second writer fails loudly while the first holds the lease; store stays consistent") {
    val store = tmpDir("lease_interleave")
    // writer A mid-append (holds the lease)
    val a = WriterLease.acquire(spark, store)
    try {
      // writer B: the exact interleaving that would corrupt shard
      // subtrees must throw, not proceed
      val e = intercept[ConcurrentWriterException] {
        AggStore.append(spark, store, events, Seq("event_type"), "value", "s0")
      }
      assert(e.getMessage.contains(store))
    } finally a.release()
    // after A releases, the append proceeds and the read is the from-raw
    // answer — nothing half-written survived the refused attempt
    AggStore.append(spark, store, events, Seq("event_type"), "value", "s0")
    val expected = events.groupBy("event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = AggStore.merged(spark, store)
      .select("event_type", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("the same guard protects every store family (seen-store arm)") {
    val store = tmpDir("lease_seen")
    val a = WriterLease.acquire(spark, store)
    try intercept[ConcurrentWriterException] {
      graft.dedup.SeenStore.update(spark, store,
        events.withColumn("t", col("event_type")), "t", "s0")
    } finally a.release()
  }

  test("a crashed writer's stale lock breaks after the TTL") {
    val store = tmpDir("lease_stale")
    WriterLease.acquire(spark, store) // never released — the "crash"
    // within TTL: still held
    intercept[ConcurrentWriterException] {
      WriterLease.acquire(spark, store, ttlMs = 3600000L)
    }
    // past TTL: broken and re-acquired
    val b = WriterLease.acquire(spark, store, ttlMs = 0L)
    b.release()
  }

  test("withLease releases on exception (store writable afterwards)") {
    val store = tmpDir("lease_release")
    intercept[IllegalStateException] {
      WriterLease.withLease(spark, store) {
        throw new IllegalStateException("op failed")
      }
    }
    // lock is gone: a fresh acquire succeeds immediately
    WriterLease.acquire(spark, store).release()
  }

  test("a TTL-stolen writer fails AT COMMIT; store ≡ the stealer's state (round-11 fencing)") {
    val store = tmpDir("lease_fence")
    AggStore.append(spark, store, events.limit(100), Seq("event_type"), "value", "s0")
    val lock = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(store).getParent,
      new org.apache.hadoop.fs.Path(store).getName + ".__writer.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(spark, store) {
        // writer A "clock-skews past the TTL": backdate its lock so the
        // next acquire sees it as a crashed writer's stale lock
        val old = System.currentTimeMillis() - 7200000L
        fs.setTimes(lock, old, old)
        // writer B steals, appends, COMMITS, releases — all legitimate
        AggStore.append(spark, store, events.limit(100),
          Seq("event_type"), "value", "s1")
        // back in A's scope: A's commit must be FENCED — the meta swap
        // throws instead of interleaving with B's committed state
        graft.core.AtomicStore.replace(spark, s"$store/meta",
          spark.range(1).toDF("x"))
      }
    }
    // the store is exactly B's state: both shards committed, meta intact
    assert(AggStore.processedShards(spark, store) == Set("s0", "s1"))
    val expected = events.limit(100).groupBy("event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), 2 * r.getLong(1))).toSet
    val got = AggStore.merged(spark, store)
      .select("event_type", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("heartbeat keeps a long-running LIVE writer from being declared stale") {
    val store = tmpDir("lease_beat")
    // a short TTL with a live holder: the heartbeat (ttl/4, min 1 s)
    // re-touches the lock, so a second acquire inside the op's lifetime
    // keeps failing instead of stealing the live writer's lock
    val a = WriterLease.acquire(spark, store, ttlMs = 2500L)
    try {
      Thread.sleep(4000L) // > TTL: without the heartbeat this would be stale
      intercept[ConcurrentWriterException] {
        WriterLease.acquire(spark, store, ttlMs = 2500L)
      }
    } finally a.release()
    // after release the store is immediately writable again
    WriterLease.acquire(spark, store, ttlMs = 2500L).release()
  }

  test("release is idempotent and reads never see the lock file") {
    val store = tmpDir("lease_reads")
    val l = WriterLease.acquire(spark, store)
    l.release(); l.release()
    AggStore.append(spark, store, events, Seq("event_type"), "value", "s0")
    // the sibling lock (if any) lives OUTSIDE the store tree — parquet
    // listing of the store path must not trip over lease artifacts
    assert(AggStore.merged(spark, store).count() > 0)
  }

  private val host = java.net.InetAddress.getLocalHost.getHostName

  /** Leave a lock as a writer `holder` ("host:pid:thread") that never
    * released it would. */
  private def plantLock(store: String, holder: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(store)
    val lock = new org.apache.hadoop.fs.Path(root.getParent, root.getName + ".__writer.lock")
    val out = lock.getFileSystem(spark.sparkContext.hadoopConfiguration).create(lock, false)
    out.write((s"""{"holder":"$holder","token":"$holder#${java.util.UUID.randomUUID()}",""" +
      s""""acquired_ms":${System.currentTimeMillis()}}""").getBytes("UTF-8"))
    out.close()
  }

  test("an orphaned lock of this JVM is broken at once, also when the release could not delete it") {
    val store = tmpDir("lease_orphan")
    plantLock(store, s"$host:${ProcessHandle.current().pid()}:1")
    WriterLease.acquire(spark, store).release()
    // a writer killed mid-operation: its release's delete fails
    FaultFs.install(spark)
    val local = tmpDir("lease_orphan_fs")
    val l = WriterLease.acquire(spark, FaultFs.uri(s"$local/store"))
    val (_, fault) = FaultFs.armed(p => FaultFs.under(p, local), 1)(l.release())
    assert(fault.tripped)
    assert(new java.io.File(s"$local/store.__writer.lock").exists, "the lock should survive the failed release")
    WriterLease.acquire(spark, FaultFs.uri(s"$local/store")).release()
  }

  test("a live lease held by another thread of this JVM is still refused") {
    val store = tmpDir("lease_thread")
    val (held, done) = (new java.util.concurrent.CountDownLatch(1), new java.util.concurrent.CountDownLatch(1))
    val t = new Thread(() => {
      val l = WriterLease.acquire(spark, store)
      held.countDown()
      try done.await() finally l.release()
    })
    t.start()
    held.await()
    try intercept[ConcurrentWriterException](WriterLease.acquire(spark, store))
    finally { done.countDown(); t.join() }
    WriterLease.acquire(spark, store).release()
  }

  test("a lock whose holder process is gone is broken at once; another host's keeps the TTL") {
    val gone = new ProcessBuilder("true").start()
    gone.waitFor()
    assume(ProcessHandle.of(gone.pid()).isEmpty, "the exited process's pid was reused")
    val store = tmpDir("lease_dead_pid")
    plantLock(store, s"$host:${gone.pid()}:1")
    WriterLease.acquire(spark, store).release()
    val remote = tmpDir("lease_remote")
    plantLock(remote, s"elsewhere-$host:${gone.pid()}:1")
    intercept[ConcurrentWriterException](WriterLease.acquire(spark, remote))
  }
}
