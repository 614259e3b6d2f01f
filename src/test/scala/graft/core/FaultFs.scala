package graft.core

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Test-only local filesystem under the `faultfs:` scheme, registered
  * through `fs.faultfs.impl` ([[FaultFs.install]]). Paths map one to one
  * onto the local filesystem (`faultfs:///tmp/x` is `/tmp/x`). It
  *  - records every create, rename, delete and mkdirs with the path(s) it
  *    mutates ([[FaultFs.recording]]); an mkdirs of an existing directory
  *    mutates nothing and is not counted;
  *  - when armed ([[FaultFs.armed]]), throws an `IOException` at the N-th
  *    of those mutations that touches the armed paths, and at every later
  *    one there: a killed writer does no cleanup, so nothing it would have
  *    done after the crash point may land;
  *  - can hold a listing of paths under a prefix until released
  *    ([[FaultFs.holdListing]]), to freeze a reader mid-operation.
  * Its state is process-wide (Hadoop may make several instances, on the
  * driver and in tasks), so specs using it must not run concurrently. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(FaultFs.Root)
  override def getScheme: String = FaultFs.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(
      super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FaultFs.mutation("create", f)(
      super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    FaultFs.mutation("rename", src, dst)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FaultFs.mutation("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean =
    FaultFs.mutation("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    FaultFs.mutation("mkdirs", f)(super.mkdirs(f, permission))

  override def listStatus(f: Path): Array[FileStatus] = {
    FaultFs.held.get.foreach { case (prefix, entered, release) =>
      if (FaultFs.under(f.toUri.getPath, prefix)) { entered.countDown(); release.await() }
    }
    super.listStatus(f)
  }
}

object FaultFs {
  val Scheme = "faultfs"
  val Root = s"$Scheme:///"

  /** One recorded mutation: the operation and the local path(s) it
    * mutates (a rename names source and destination). */
  final case class Mutation(op: String, paths: Seq[String])

  /** Register the scheme with `spark`'s Hadoop configuration. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** `dir` (a local path) under the `faultfs:` scheme. */
  def uri(dir: String): String = s"$Scheme://$dir"

  /** Is `path` `root` itself or inside it (local paths)? */
  def under(path: String, root: String): Boolean =
    path == root || path.startsWith(root.stripSuffix("/") + "/")

  private val log = new ConcurrentLinkedQueue[Mutation]()
  private val recordingOn = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Run `f`, returning every mutation made while it ran, in order. */
  def recording[T](f: => T): (T, Seq[Mutation]) = {
    log.clear()
    recordingOn.set(true)
    val r = try f finally recordingOn.set(false)
    (r, log.asScala.toSeq)
  }

  /** The armed fault: the mutations touching a path `inScope` accepts are
    * counted, and the `n`-th one and every later one throw. */
  final class Fault(val inScope: String => Boolean, val n: Int) {
    val seen = new AtomicInteger(0)
    def tripped: Boolean = seen.get >= n
  }
  private val faults = java.util.concurrent.ConcurrentHashMap.newKeySet[Fault]()

  /** Run `f` with a fault armed at the `n`-th mutation in scope. Faults
    * armed together (from several threads) must have disjoint scopes. */
  def armed[T](inScope: String => Boolean, n: Int)(f: => T): (Either[Throwable, T], Fault) = {
    val ft = new Fault(inScope, n)
    faults.add(ft)
    val r = try Right(f) catch { case e: Throwable => Left(e) } finally faults.remove(ft)
    (r, ft)
  }

  private val held =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, CountDownLatch, CountDownLatch)]](None)

  /** Hold every listing under `prefix` until [[unhold]]; the returned
    * latch counts down when one is held. */
  def holdListing(prefix: String): CountDownLatch = {
    val entered = new CountDownLatch(1)
    held.set(Some((prefix, entered, new CountDownLatch(1))))
    entered
  }

  def unhold(): Unit = held.getAndSet(None).foreach(_._3.countDown())

  /** Delete the local tree `dir`, if it exists. */
  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val it = Files.walk(root)
      try it.iterator().asScala.toList.reverse.foreach(Files.delete) finally it.close()
    }
  }

  /** Copy the local tree `from` to `to`, keeping file attributes (mtimes). */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val it = Files.walk(src)
    try it.iterator().asScala.foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally it.close()
  }

  /** Make the local tree `to` a copy of `from`: the start of a crash point. */
  def restore(from: String, to: String): Unit = { deleteTree(to); copyTree(from, to) }

  /** Hadoop's own overloads call each other: count the outermost call only. */
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  private def mutation[T](op: String, ps: Path*)(f: => T): T = {
    // an mkdirs of a directory that exists changes nothing on disk (each
    // writer lease makes its store's parent, which stores share)
    val noop = op == "mkdirs" && new java.io.File(ps.head.toUri.getPath).isDirectory
    if (depth.get == 0 && !noop) {
      val paths = ps.map(_.toUri.getPath)
      if (recordingOn.get) log.add(Mutation(op, paths))
      faults.asScala.filter(ft => paths.exists(ft.inScope)).foreach { ft =>
        val k = ft.seen.incrementAndGet()
        if (k >= ft.n)
          throw new java.io.IOException(s"injected fault at mutation $k: $op ${paths.mkString(" -> ")}")
      }
    }
    depth.set(depth.get + 1)
    try f finally depth.set(depth.get - 1)
  }
}
