package graft.core

import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Single-writer enforcement for persisted stores (round-10 verdict #3,
  * hardened round 11 with heartbeats and commit fencing).
  *
  * Every incremental store (AggStore, SeenStore, NearDupStore, the IVF /
  * PQ / BM25 index trees, FingerprintStore, MediaFeatureStore) documents
  * "single-writer per store path" — the mutation protocol is
  * dynamic-partition-overwrite subtrees plus an AtomicStore meta commit,
  * which two INTERLEAVED writers would corrupt silently (writer B's
  * dynamic overwrite can delete writer A's half-committed shard subtree,
  * then both meta commits land and the store serves a shard whose files
  * are gone). This lease turns that documented convention into an
  * enforced one: the second writer FAILS LOUDLY instead.
  *
  * Mechanism: an exclusive `<store>.__writer.lock` SIBLING file (outside
  * the store tree: flat stores atomically REPLACE their root dir via
  * delete+rename, which would delete an in-root lock mid-operation; and a
  * sibling never appears in any parquet listing), created with
  * overwrite=false so the second create throws. The lock carries holder +
  * a per-acquire fencing token. A crashed writer's stale lock is broken
  * by TTL (default 1 h): acquire steals a lock whose modification time is
  * older than the TTL, so a crash never wedges the store permanently.
  * A lock whose holder is provably dead is broken at once, in two cases:
  *
  *  - its host and pid are this JVM's and its token belongs to no
  *    unreleased [[Lease]] here (the JVM keeps the set of live tokens; a
  *    release drops its token even when deleting the lock fails, as it
  *    does when the writer was killed mid-operation);
  *  - its host is this host and no process has its pid
  *    (`ProcessHandle.of(pid)` is empty).
  *
  * The dead-pid rule trusts the hostname: two machines with the same
  * hostname sharing one store could break each other's live lock. Every
  * other lock keeps the TTL rule.
  *
  * Two hazards of the round-10 TTL design are closed here:
  *
  *  - **Long LIVE writers** (compact/migrate/rebalance are O(store), not
  *    the shard append the TTL was sized for) HEARTBEAT the lock — a
  *    daemon re-touches its modification time every ttl/4 — so a live
  *    writer is never mistaken for a crashed one however long its
  *    maintenance op runs. The heartbeat verifies the lock still carries
  *    its own token before touching, so a beat never refreshes a lock
  *    that was legitimately stolen from it.
  *  - **Stolen-lock commits are FENCED**: every lease carries a unique
  *    token, [[withLease]] records the lease in a thread-scoped stack,
  *    and [[graft.core.AtomicStore.replaceVia]] calls
  *    [[validateForCommit]] immediately before its destructive swap — a
  *    writer whose lock was TTL-stolen (or whose release raced) fails AT
  *    THE COMMIT instead of landing a torn interleave over the stealer's
  *    state. [[Lease.release]] likewise verifies the token before
  *    deleting, so a stale holder can never delete the CURRENT holder's
  *    lock and let a third writer in (the round-10 advice hazard).
  *
  * Scope honestly stated: create-exclusive is atomic on HDFS and posix
  * local filesystems; on eventual-consistency object stores it narrows
  * the race window rather than closing it (the same caveat every
  * file-lock scheme carries there — a real deployment would swap this
  * object for a conditional-put on the store's metadata service, behind
  * the same calls; the token-at-commit check is exactly the fencing
  * token such services implement natively).
  */
object WriterLease {

  /** Thrown when another writer holds (or has fenced off) the store's lease. */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  private val LockSuffix = ".__writer.lock"

  /** One shared daemon for all heartbeats — leases are few (one per
    * in-flight store mutation in this JVM). */
  private lazy val beater = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-writer-lease-heartbeat")
    t.setDaemon(true)
    t
  }

  /** Tokens of this JVM's unreleased leases. */
  private val liveTokens = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Leases held by the CURRENT THREAD, innermost first — the ownership
    * context [[validateForCommit]] resolves against (thread-scoped, not
    * path-global, so a same-JVM stealer validates against ITS lease, and
    * the stolen writer against its own — which then fails the token
    * check, the fencing semantics). */
  private val current = new ThreadLocal[List[Lease]] {
    override def initialValue(): List[Lease] = Nil
  }

  final class Lease private[WriterLease] (
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path,
      private[WriterLease] val storeKey: String,
      val token: String) {
    @volatile private var released = false
    @volatile private[WriterLease] var beat: ScheduledFuture[_] = null

    def release(): Unit = if (!released) {
      released = true
      liveTokens.remove(token)
      if (beat != null) beat.cancel(false)
      // fencing half of release: only delete a lock that still carries
      // OUR token — a TTL-stolen lock belongs to the stealer now, and
      // deleting it would let a third writer in behind the stealer's back
      try {
        if (readToken(fs, lock).contains(token)) fs.delete(lock, false)
      } catch { case _: java.io.IOException => () }
    }

    /** Throw unless the on-disk lock still carries this lease's token —
      * the commit-time fence. Missing or re-owned lock = this writer was
      * (rightly or wrongly) declared dead and superseded; its commit must
      * not land. */
    private[core] def assertStillHeld(): Unit = {
      val t = try readToken(fs, lock) catch {
        case _: java.io.IOException => None
      }
      if (!t.contains(token))
        throw new ConcurrentWriterException(
          s"writer lease for $storeKey was lost before commit (lock now " +
            s"${t.getOrElse("missing")}, this writer held $token) — the TTL " +
            "declared this writer dead and another writer superseded it; " +
            "aborting the commit instead of interleaving with the new owner")
    }
  }

  /** Run `f` holding the store's writer lease; always released, even when
    * `f` throws (the protocol's own crash-safety covers the torn write —
    * the lease only needed to exist while files were moving). While `f`
    * runs, AtomicStore commits under `storePath` are token-fenced against
    * this lease (see [[validateForCommit]]). */
  def withLease[T](spark: SparkSession, storePath: String)(f: => T): T = {
    val lease = acquire(spark, storePath)
    current.set(lease :: current.get)
    try f finally {
      current.set(current.get.filterNot(_ eq lease))
      lease.release()
    }
  }

  /** Commit-time fence (called by [[AtomicStore.replaceVia]] right before
    * its destructive swap): if the current thread is inside a
    * [[withLease]] scope covering `path`, verify the on-disk lock still
    * carries that lease's token; throw [[ConcurrentWriterException]] if
    * it was stolen or deleted. A no-op outside any covering lease scope
    * (non-store AtomicStore users keep their existing contract). */
  def validateForCommit(spark: SparkSession, path: String): Unit = {
    val p = normKey(path)
    current.get
      .find(l => p == l.storeKey || p.startsWith(l.storeKey + "/"))
      .foreach(_.assertStillHeld())
  }

  /** Acquire the exclusive writer lease for `storePath`, or throw
    * [[ConcurrentWriterException]] naming the current holder. The lease
    * heartbeats its lock every ttl/4 (min 1 s) so long maintenance ops
    * are never mistaken for crashes. */
  def acquire(spark: SparkSession, storePath: String,
      ttlMs: Long = 3600000L): Lease = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + LockSuffix)
    if (root.getParent != null) fs.mkdirs(root.getParent) // first append
    else fs.mkdirs(root)
    val token = s"${holderId()}#${java.util.UUID.randomUUID()}"
    // live before any lock carries it: a same-JVM acquirer must never
    // judge the lock being created dead
    liveTokens.add(token)
    try held(fs, lock, token, storePath, ttlMs)
    catch { case e: Throwable => liveTokens.remove(token); throw e }
  }

  /** [[acquire]]'s body once `token` is live: create the lock, or break a
    * stale or dead holder's lock once and create it, or throw. */
  private def held(fs: org.apache.hadoop.fs.FileSystem, lock: org.apache.hadoop.fs.Path,
      token: String, storePath: String, ttlMs: Long): Lease = {
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, /* overwrite = */ false)
        out.write((s"""{"holder":"${holderId()}","token":"$token",""" +
          s""""acquired_ms":${System.currentTimeMillis()}}""").getBytes("UTF-8"))
        out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException if e.getMessage != null &&
          e.getMessage.contains("exist") => false
      }
    def lease(): Lease = {
      val l = new Lease(fs, lock, normKey(storePath), token)
      val period = math.max(ttlMs / 4, 1000L)
      l.beat = beater.scheduleAtFixedRate(() => {
        // touch ONLY a lock we still own — never refresh the stealer's
        try {
          if (readToken(fs, lock).contains(token)) {
            val now = System.currentTimeMillis()
            fs.setTimes(lock, now, now)
          } else l.beat.cancel(false) // fenced: stop beating
        } catch { case _: java.io.IOException => () }
      }, period, period, TimeUnit.MILLISECONDS)
      l
    }
    if (tryCreate()) return lease()
    // held: stale (crashed writer past TTL) → break once and retry;
    // live → fail loudly with the holder for the operator
    val status = try Some(fs.getFileStatus(lock)) catch {
      case _: java.io.FileNotFoundException => None // released between calls
    }
    val text = try readLock(fs, lock) catch { case _: java.io.IOException => None }
    val stale = status.exists(s =>
      System.currentTimeMillis() - s.getModificationTime > ttlMs) || text.exists(deadHolder)
    if (stale) { fs.delete(lock, false); if (tryCreate()) return lease() }
    else if (status.isEmpty && tryCreate()) return lease()
    val holder = text.getOrElse("unknown")
    throw new ConcurrentWriterException(
      s"store at $storePath already has a live writer ($holder) — " +
        "concurrent writes would interleave dynamic overwrites and corrupt " +
        "shard subtrees; wait for it to finish (stale locks break after " +
        s"${ttlMs / 1000} s without a heartbeat)")
  }

  /** The lock file's text, if the file exists and is not empty. */
  private def readLock(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(lock)
      val bytes = new Array[Byte](512)
      val n = in.read(bytes); in.close()
      if (n <= 0) None else Some(new String(bytes, 0, n, "UTF-8"))
    } catch { case _: java.io.FileNotFoundException => None }

  private def field(lockText: String, name: String): Option[String] =
    s""""$name":"([^"]+)"""".r.findFirstMatchIn(lockText).map(_.group(1))

  /** The token recorded in the lock file, if the file exists and parses. */
  private def readToken(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path): Option[String] =
    readLock(fs, lock).flatMap(field(_, "token"))

  /** Is the lock's holder provably dead: this JVM with the lease released
    * (or never recorded), or a process of this host that no longer runs? */
  private def deadHolder(lockText: String): Boolean = {
    val me = ProcessHandle.current().pid()
    field(lockText, "holder").map(_.split(":")).exists { h =>
      val pid = scala.util.Try(h(h.length - 2).toLong).toOption
      h.length >= 3 && h.dropRight(2).mkString(":") == hostName && pid.exists { p =>
        if (p == me) !field(lockText, "token").exists(liveTokens.contains)
        else ProcessHandle.of(p).isEmpty
      }
    }
  }

  private def normKey(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def hostName: String = java.net.InetAddress.getLocalHost.getHostName

  private def holderId(): String =
    s"$hostName:" +
      s"${java.lang.ProcessHandle.current().pid()}:" +
      s"${Thread.currentThread().getId}"
}
