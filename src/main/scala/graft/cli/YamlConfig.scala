package graft.cli

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.nodes.{MappingNode, Node, ScalarNode}

/** Config-file support — the reference's primary UX
  * (reference `config/config.go:29-66` + `config.yaml`): a YAML file
  * with `source`/`destination` connection blocks and the copy flags.
  *
  * One decode path serves both CLIs: [[parse]] reads the YAML with
  * snakeyaml (on the Spark classpath) into dotted keys (`source.table`,
  * `worker_pool.num_workers`, `check_hashes`), and a [[Reader]] decodes
  * each key once into a typed field. A malformed value, an unknown key or
  * a duplicate key fails with a [[ConfigError]] that names the key.
  *
  * File-backed endpoints use `path:` (parquet root dir) where a ClickHouse
  * endpoint uses host/database; both vocabularies are accepted so the
  * reference's own config.yaml loads unchanged (its `database:` becomes the
  * path for the fixture layout when no host is given).
  */
object YamlConfig {

  /** One side's endpoint — the reference `Connection`
    * (`/root/reference/config/config.go:11-22`). */
  final case class Endpoint(
      path: String = "",
      table: String = "",
      host: String = "",
      port: Int = 9000,
      user: String = "default",
      password: String = "",
      database: String = "",
      secure: Boolean = false,
      skipVerify: Boolean = false,
      keyFilename: String = "") {
    /** Parquet root for the file engine: explicit `path`, else `database`
      * doubling as a directory (host-less configs). */
    def dir: String = if (path.nonEmpty) path else database
    def isJdbc: Boolean = host.nonEmpty
  }

  /** The full config (`/root/reference/config/config.go:29-38`).
    * `numWorkers` (`worker_pool.num_workers`, config.go:23-27 — dead code
    * in the reference, its README marks it broken) is WIRED here: >1 runs
    * repairs as that many concurrent per-partition Spark jobs
    * ([[graft.recon.Reconciler.Config.parallelism]]); default 0 keeps the
    * fused single-job repair. `worker_pool.num_retry`/`chan_len` are
    * declared in the reference (config.go:23-27) but never referenced
    * there; here they dissolve into Spark's `spark.task.maxFailures` and
    * scheduler queueing — there is no client-side channel to size. The
    * loader accepts them (the reference's own file sets them) and ignores
    * their values. */
  final case class GraftConfig(
      source: Endpoint = Endpoint(),
      destination: Endpoint = Endpoint(),
      partitionKey: String = "",
      checkHashes: Boolean = true,
      skipDelete: Boolean = false,
      skipReimport: Boolean = false,
      useVirtualColumn: Boolean = false,
      debug: Boolean = false,
      numWorkers: Int = 0)

  /** A config that cannot be read or decoded; the message names the key
    * (or the file). */
  final class ConfigError(msg: String) extends IllegalArgumentException(msg)

  private def fail(msg: String): Nothing = throw new ConfigError(msg)

  /** YAML `text` → dotted keys. Nested mappings flatten
    * (`pq.rebalance_corpus:` / `path:` → `pq.rebalance_corpus.path`), and
    * each value is its scalar's source text, not a type-resolved value:
    * `shard_id: 007` stays `007`, and a trailing `# comment` is not part of
    * it. Malformed YAML, a duplicate key (within one mapping, or after
    * flattening), a sequence and an anchor or alias fail with a
    * [[ConfigError]]. */
  def parse(text: String): Map[String, String] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    def flatten(key: String, node: Node): Unit = node match {
      case _ if node.getAnchor != null => fail(s"$key: anchors and aliases are not supported")
      case s: ScalarNode =>
        if (out.contains(key)) fail(s"duplicate config key: $key")
        out(key) = s.getValue
      case m: MappingNode =>
        val names = mutable.Set.empty[String] // a repeated block is a duplicate too
        m.getValue.asScala.foreach { t =>
          t.getKeyNode match {
            case k: ScalarNode =>
              val full = if (key.isEmpty) k.getValue else s"$key.${k.getValue}"
              if (!names.add(k.getValue)) fail(s"duplicate config key: $full")
              flatten(full, t.getValueNode)
            case _ => fail(s"${if (key.isEmpty) "top level" else key}: keys must be plain scalars")
          }
        }
      case _ => fail(s"$key: sequences are not supported")
    }
    val root =
      try new Yaml().compose(new java.io.StringReader(text))
      catch { case e: YAMLException => fail(s"malformed YAML: ${e.getMessage}") }
    root match {
      case null => () // an empty file or only comments
      case m: MappingNode => flatten("", m)
      case _ => fail("a config file must be a mapping of keys to values")
    }
    out.toMap
  }

  /** Strict typed reads over [[parse]]'s keys. Each read takes its default
    * from the config case class, records its key, and throws a
    * [[ConfigError]] naming the key when the value does not decode. */
  final class Reader private[YamlConfig] (kv: Map[String, String]) {
    private val seen = mutable.Set.empty[String]

    private def read[A](key: String, dflt: A, shape: String)(f: String => Option[A]): A = {
      seen += key
      kv.get(key).fold(dflt)(v =>
        f(v).getOrElse(fail(s"$key: expected $shape, got '$v'")))
    }

    def str(key: String, dflt: String): String = read(key, dflt, "a string")(Some(_))
    def int(key: String, dflt: Int): Int = read(key, dflt, "an integer")(_.toIntOption)
    def long(key: String, dflt: Long): Long = read(key, dflt, "an integer")(_.toLongOption)
    def double(key: String, dflt: Double): Double =
      read(key, dflt, "a number")(v => Option.when(Decimal.matches(v))(v.toDouble))
    def bool(key: String, dflt: Boolean): Boolean =
      read(key, dflt, "true or false")(Bools.get)
    /** [[bool]] that also reads the reference config's `fasle` as false. */
    private[YamlConfig] def flag(key: String, dflt: Boolean): Boolean =
      read(key, dflt, "true or false")((Bools + ("fasle" -> false)).get)

    /** Accept `keys` without decoding them. */
    def ignore(keys: String*): Unit = seen ++= keys

    private[YamlConfig] def unread: Set[String] = kv.keySet -- seen
  }

  private val Bools = Map("true" -> true, "false" -> false)

  private val Decimal = """[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?""".r

  /** Decode `kv` with `f`, then fail on any key `f` did not read. */
  def decode[A](kv: Map[String, String])(f: Reader => A): A = {
    val r = new Reader(kv)
    val a = f(r)
    if (r.unread.nonEmpty)
      fail(s"unknown config key(s): ${r.unread.toSeq.sorted.mkString(", ")}")
    a
  }

  private def endpoint(r: Reader, side: String): Endpoint = {
    val d = Endpoint()
    Endpoint(
      path = r.str(s"$side.path", d.path),
      table = r.str(s"$side.table", d.table),
      host = r.str(s"$side.host", d.host),
      port = r.int(s"$side.port", d.port),
      user = r.str(s"$side.user", d.user),
      password = r.str(s"$side.password", d.password),
      database = r.str(s"$side.database", d.database),
      secure = r.flag(s"$side.secure", d.secure),
      skipVerify = r.flag(s"$side.skip_verify", d.skipVerify),
      keyFilename = r.str(s"$side.key_filename", d.keyFilename))
  }

  def fromText(text: String): GraftConfig = decode(parse(text)) { r =>
    val d = GraftConfig()
    r.ignore("worker_pool.num_retry", "worker_pool.chan_len")
    GraftConfig(
      source = endpoint(r, "source"),
      destination = endpoint(r, "destination"),
      partitionKey = r.str("partition_key", d.partitionKey),
      checkHashes = r.flag("check_hashes", d.checkHashes),
      skipDelete = r.flag("skip_delete", d.skipDelete),
      skipReimport = r.flag("skip_reimport", d.skipReimport),
      useVirtualColumn = r.flag("use_virtual_column", d.useVirtualColumn),
      debug = r.flag("debug", d.debug),
      numWorkers = r.int("worker_pool.num_workers", d.numWorkers))
  }

  def load(path: String): GraftConfig =
    loadWith(path)(t => Right(fromText(t))).fold(fail, identity)

  /** `f` over the text of config file `path`. An unreadable file, malformed
    * YAML, a value that does not decode and a Left of `f` all come back as
    * a Left that names the file. */
  def loadWith[A](path: String)(f: String => Either[String, A]): Either[String, A] =
    (try f(readFile(path)) catch { case e: ConfigError => Left(e.getMessage) })
      .left.map(err => s"$path: $err")

  private def readFile(path: String): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    catch { case e: java.io.IOException => fail(s"cannot read the file (${e.getClass.getSimpleName})") }

  /** `config.Check()` (`/root/reference/config/config.go:66-71`): both
    * endpoints must name a table and a location. */
  def check(cfg: GraftConfig): Either[String, GraftConfig] = {
    def side(name: String, e: Endpoint): Option[String] =
      if (e.table.isEmpty) Some(s"$name.table is required")
      else if (e.dir.isEmpty && !e.isJdbc) Some(s"$name needs path/database or host")
      else None
    side("source", cfg.source).orElse(side("destination", cfg.destination))
      .toLeft(cfg)
  }
}
