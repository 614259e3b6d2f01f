package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, ExprId, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Average, Corr, Count, CovPopulation, CovSample, HyperLogLogPlusPlus, Max, MaxBy, Min, MinBy, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, count_distinct, expr, lit, max, min, sum, when}
import org.apache.spark.sql.types.DoubleType

/** Registry of [[graft.agg.AggStore]] rollup stores as MATERIALIZED VIEWS
  * over their raw tables — the half of the ClickHouse AggregatingMergeTree
  * pattern the store alone does not give: in ClickHouse, a query over the
  * MV's target table reads merged states automatically; with only
  * `AggStore.merged` the caller must NAME the store. [[RollupRewrite]]
  * closes that gap: a registered store makes the engine answer the RAW
  * TABLE's aggregate from states, with no query change.
  *
  * A registration records the store's DEFINING QUERY — raw leaf paths
  * (one file scan, or an INNER-equi-join of several), filters (join
  * conditions included — an inner join's condition is a conjunct over
  * the joined relation), key expressions, measure expressions — with
  * every expression resolved down to the base relations' attributes and
  * normalised by column NAME (attribute ids vary per scan instance;
  * names are the stable identity of a path-scanned column; names must be
  * unique across the leaves, enforced at registration). The rewrite
  * matches by the same normalisation, so any scan (or join) of the same
  * file paths with the same expressions subsumes.
  *
  * Three staleness guards (round-11) make a registration safe to TRUST:
  *  - **raw freshness**: the file listing (paths + sizes + mtimes) of
  *    every leaf is fingerprinted at register time and compared against
  *    the query's own scan at rewrite time — rows appended to the raw
  *    table after register() fall back to the raw plan instead of
  *    silently missing from the answer (re-register after each store
  *    append; the pipeline driver's append loop does);
  *  - **store generation**: retire/expire/migrate bump the store's
  *    generation ([[graft.agg.AggStore.generation]]); a registration
  *    carries the generation it was made against and the rewrite falls
  *    back when the store has moved on — the CROSS-SESSION variant of
  *    the in-band [[invalidateStore]] hook;
  *  - **durability**: with `spark.graft.mv.catalog` set, registrations
  *    persist through [[graft.core.AtomicStore]] and auto-load on first
  *    use in a new session (ClickHouse MVs are catalog objects, not
  *    session state); a stale persisted registration (generation moved)
  *    is dropped at load instead of served.
  *
  * Scoped and reversible: `register` is explicit, `unregister` removes it,
  * and every mismatch — unknown aggregate shape, measure not in the store,
  * filter the store did not bake in, store files gone or drifted — falls
  * back to the raw plan untouched (spec'd in RollupRewriteSpec).
  */
object MaterializedRollups {

  /** One registered store: defining exprs are NORMALISED (see
    * [[RollupRewrite.normalize]]) and resolved to base-relation columns.
    * @param leafPaths  normalized root paths of the defining query's file
    *                   scans, in defining-query order (head = sorted-key
    *                   identity; a single-table registration has one)
    * @param leafSigs   per leaf path: the file-listing fingerprint at
    *                   registration time (the raw-freshness guard)
    * @param storeGeneration the store's generation at registration time
    * @param microSums  per measure: the normalised micro-unit sum input
    *                   (`cast(floor(m · 1e6) as bigint)`) — what a raw
    *                   query's `sum(...)` child must equal
    * @param plains     per measure: the normalised plain (double) measure —
    *                   what a raw `min(...)`/`max(...)`/`avg(...)`/
    *                   `count(...)` child must equal
    * @param filters    normalized defining conjuncts (join conds included)
    * @param distinctN  the store's distinctCol expression (normalized) —
    *                   what `approx_count_distinct(...)`'s child must equal
    * @param quantileN  the store's quantileCol expression (normalized) —
    *                   what `approx_percentile(..., p)`'s child must equal
    * @param argMaxN    per argMax state: (name, ordinal norm, arg norm) —
    *                   what `max_by(arg, ord)` must equal
    * @param argMinN    per argMin state: same, for `min_by`
    * @param momentNames measures whose stores carry the `_sum2` state —
    *                   what `var_samp`/`stddev`/... may rewrite through
    * @param coMomentsN per co-moment state: (name, x norm, y norm) — what
    *                   `corr(x, y)` / `covar_samp(x, y)` must equal
    *                   (either argument order; the stats are symmetric) */
  private[plans] case class Reg(leafPaths: Seq[String],
      leafSigs: Map[String, String],
      storePath: String, storeGeneration: Long,
      keys: Seq[(String, Expression)],
      microSums: Seq[(String, Expression)],
      plains: Seq[(String, Expression)],
      filters: Seq[Expression],
      distinctN: Option[Expression],
      quantileN: Option[Expression],
      argMaxN: Seq[(String, Expression, Expression)],
      argMinN: Seq[(String, Expression, Expression)],
      tailRecipe: Option[TailRecipe],
      momentNames: Set[String],
      coMomentsN: Seq[(String, Expression, Expression)])

  /** Everything the REALTIME arm needs to fold an un-ingested tail of a
    * grown raw table on the fly (round-11 continuation — the lambda
    * read, rewritten automatically): the per-file listing at
    * registration time (so the rewrite can tell "files were ADDED" from
    * "files changed/removed" — only the former is tail-servable), the
    * defining expressions as resolved SQL (re-appliable to a read of
    * just the new files), and the leaf's data schema. Single-leaf,
    * unpartitioned registrations only; durable reloads rebuild it only
    * when the raw table is still at its registered listing (a gap
    * between persist and reload would make the tail MISS the
    * in-between files — falls back to raw instead). */
  private[plans] case class TailRecipe(
      fileEntries: Map[String, String], // file path -> "len:mtime"
      dataSchemaJson: String,
      keySqls: Seq[(String, String)],
      measureSqls: Seq[(String, String)],
      filterSqls: Seq[String],
      distinctSql: Option[String],
      quantileSql: Option[String],
      argMaxSqls: Seq[(String, String, String)],
      argMinSqls: Seq[(String, String, String)],
      momentNames: Seq[String],
      coMomentSqls: Seq[(String, String, String)])

  private val regs = new ConcurrentHashMap[String, Reg]()

  /** Catalog dirs already auto-loaded this session ("session" = until
    * [[clear]], which tests use as the session boundary). */
  @volatile private var loadedCatalog: String = null

  private[plans] def normPath(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri.getPath
    if (u.length > 1 && u.endsWith("/")) u.dropRight(1) else u
  }

  private def leafKey(paths: Seq[String]): String = paths.sorted.mkString("|")

  /** Register `storePath` (built via `AggStore.appendMeasures` with these
    * `keys`/`measures` over `raw`, optionally pre-filtered by `filter`,
    * optionally carrying the distinct/quantile/argMax sketch states) as
    * the materialized view of `raw`'s defining query. `raw` must be a
    * Project/Filter chain over ONE file scan, or an INNER equi-join of
    * several (the pre-joined-MV shape — ClickHouse MVs over a JOIN of the
    * insert stream with dimension tables). The defining expressions run
    * through the session's own analyzer+optimizer so the recorded normal
    * forms match what an optimized user plan carries. With
    * `spark.graft.mv.catalog` set, the registration also persists and
    * auto-loads in later sessions. */
  def register(raw: DataFrame, storePath: String,
      keys: Seq[(String, Column)], measures: Seq[(String, Column)],
      filter: Option[Column] = None,
      distinct: Option[Column] = None,
      quantile: Option[Column] = None,
      argMax: Seq[(String, Column, Column)] = Nil,
      argMin: Seq[(String, Column, Column)] = Nil,
      moments: Seq[String] = Nil,
      coMoments: Seq[(String, Column, Column)] = Nil): Unit =
    registerInternal(raw, storePath, keys, measures, filter, distinct,
      quantile, argMax, argMin, moments, coMoments,
      fixedGeneration = None, fixedSigs = None, persist = true)

  private def registerInternal(raw: DataFrame, storePath: String,
      keys: Seq[(String, Column)], measures: Seq[(String, Column)],
      filter: Option[Column], distinct: Option[Column],
      quantile: Option[Column], argMax: Seq[(String, Column, Column)],
      argMin: Seq[(String, Column, Column)],
      moments: Seq[String], coMoments: Seq[(String, Column, Column)],
      fixedGeneration: Option[Long], fixedSigs: Option[Map[String, String]],
      persist: Boolean): Unit = {
    require(keys.nonEmpty && measures.nonEmpty,
      "a rollup registration needs at least one key and one measure")
    require(moments.forall(m => measures.exists(_._1 == m)),
      s"moment names $moments must name registered measures")
    val spark = raw.sparkSession
    // one projection carrying every defining expression, optimized as one
    // plan: keys, plain (double-cast) measures, micro-unit sum inputs —
    // the exact forms AggStore.partialStates folds — plus the sketch /
    // argmax input expressions when the store carries those states
    val cols: Seq[Column] =
      keys.map { case (n, c) => c.as(s"__k_$n") } ++
        measures.flatMap { case (n, c) =>
          Seq(c.cast(DoubleType).as(s"__p_$n"),
            graft.agg.AggStore.micros(c.cast(DoubleType)).as(s"__u_$n"))
        } ++
        distinct.map(_.as("__d_0")).toSeq ++
        quantile.map(_.as("__q_0")).toSeq ++
        argMax.flatMap { case (n, o, a) =>
          Seq(o.as(s"__ao_$n"), a.as(s"__aa_$n")) } ++
        argMin.flatMap { case (n, o, a) =>
          Seq(o.as(s"__io_$n"), a.as(s"__ia_$n")) } ++
        // co-moment pairs record DOUBLE-CAST (what partialStates folds AND
        // what the analyzer wraps around corr/covar children of narrower
        // types — a long column would otherwise never match the query's
        // implicit cast)
        coMoments.flatMap { case (n, x, y) =>
          Seq(x.cast(DoubleType).as(s"__cx_$n"),
            y.cast(DoubleType).as(s"__cy_$n")) }
    val base = filter.map(raw.filter).getOrElse(raw)
    val plan = base.select(cols: _*).queryExecution.optimizedPlan
    RollupRewrite.collectBase(plan) match {
      case Some((leaves, subst, fs)) =>
        val paths = leaves.map(l => RollupRewrite.singleScanPath(l).getOrElse(
          throw new IllegalArgumentException(
            "every rollup-registration leaf needs a single file-scan root path")))
          .map(normPath)
        // name-based normalisation needs globally unique column names
        val names = leaves.flatMap(_.output.map(
          _.name.toLowerCase(java.util.Locale.ROOT)))
        require(names.distinct.size == names.size,
          s"rollup registration leaves share column names — name-keyed " +
            "matching would be ambiguous")
        val sigs = fixedSigs.getOrElse(
          leaves.map(l => normPath(RollupRewrite.singleScanPath(l).get) ->
            graft.core.FileListing.signature(l)).toMap)
        val gen = fixedGeneration.getOrElse(
          try graft.agg.AggStore.generation(spark, storePath)
          catch { case NonFatal(_) => 0L })
        // the optimized projection's output order follows `cols`
        val byName = plan.output.map(_.name).zip(
          plan.output.map(a => RollupRewrite.normalize(
            RollupRewrite.applySubst(a, subst)))).toMap
        val byNameRaw = plan.output.map(_.name).zip(
          plan.output.map(a => RollupRewrite.applySubst(a, subst))).toMap
        val keySqls = keys.map { case (n, _) => n -> byNameRaw(s"__k_$n").sql }
        val measureSqls = measures.map { case (n, _) => n -> byNameRaw(s"__p_$n").sql }
        val filterSqls = fs.map(_.sql)
        val distinctSql = distinct.map(_ => byNameRaw("__d_0").sql)
        val quantileSql = quantile.map(_ => byNameRaw("__q_0").sql)
        val argMaxSqls = argMax.map { case (n, _, _) =>
          (n, byNameRaw(s"__ao_$n").sql, byNameRaw(s"__aa_$n").sql) }
        val argMinSqls = argMin.map { case (n, _, _) =>
          (n, byNameRaw(s"__io_$n").sql, byNameRaw(s"__ia_$n").sql) }
        val coMomentSqls = coMoments.map { case (n, _, _) =>
          (n, byNameRaw(s"__cx_$n").sql, byNameRaw(s"__cy_$n").sql) }
        // realtime-tail recipe: single unpartitioned leaf, and — for a
        // durable reload — only while the raw table still matches the
        // PERSISTED listing (see TailRecipe doc)
        val currentSigs = leaves.map(l =>
          normPath(RollupRewrite.singleScanPath(l).get) ->
            graft.core.FileListing.signature(l)).toMap
        val tailRecipe =
          if (leaves.size == 1 && sigs == currentSigs &&
              leaves.head.relation.asInstanceOf[HadoopFsRelation]
                .partitionSchema.isEmpty)
            Some(TailRecipe(
              graft.core.FileListing.entries(leaves.head).toMap,
              leaves.head.relation.asInstanceOf[HadoopFsRelation]
                .dataSchema.json,
              keySqls, measureSqls, filterSqls, distinctSql, quantileSql,
              argMaxSqls, argMinSqls, moments, coMomentSqls))
          else None
        val reg = Reg(paths, sigs, normPath(storePath), gen,
          keys.map { case (n, _) => n -> byName(s"__k_$n") },
          measures.map { case (n, _) => n -> byName(s"__u_$n") },
          measures.map { case (n, _) => n -> byName(s"__p_$n") },
          fs.map(RollupRewrite.normalize),
          distinct.map(_ => byName("__d_0")),
          quantile.map(_ => byName("__q_0")),
          argMax.map { case (n, _, _) =>
            (n, byName(s"__ao_$n"), byName(s"__aa_$n")) },
          argMin.map { case (n, _, _) =>
            (n, byName(s"__io_$n"), byName(s"__ia_$n")) },
          tailRecipe,
          moments.toSet,
          coMoments.map { case (n, _, _) =>
            (n, byName(s"__cx_$n"), byName(s"__cy_$n")) })
        regs.put(leafKey(paths), reg)
        if (persist) persistReg(spark, reg, keySqls, measureSqls,
          filterSqls, distinctSql, quantileSql, argMaxSqls, argMinSqls,
          moments, coMomentSqls)
      case None => throw new IllegalArgumentException(
        "rollup registration must be a Project/Filter chain over one file " +
          "scan or an inner equi-join of file scans")
    }
  }

  def unregister(raw: DataFrame): Unit =
    RollupRewrite.collectBase(raw.queryExecution.optimizedPlan)
      .foreach { case (leaves, _, _) =>
        val paths = leaves.flatMap(RollupRewrite.singleScanPath).map(normPath)
        Option(regs.remove(leafKey(paths))).foreach(r =>
          SparkSession.getActiveSession.foreach(deleteDurable(_, r.storePath)))
      }

  /** Drop every registration backed by `storePath` — called by the store
    * MAINTENANCE ops that change what the states MEAN (retire/expire
    * coarsen or delete history; migrate re-shapes measures): after such
    * an op the store no longer answers the ORIGINAL defining query, and
    * a live registration would make the rewrite serve coarsened/reshaped
    * history for a full-grain raw query — silently wrong. Durable
    * registrations are deleted too; other sessions' already-loaded copies
    * fall back through the GENERATION check (the op bumped it). The
    * operator re-registers explicitly if the post-maintenance store still
    * answers a (different) defining query. */
  def invalidateStore(storePath: String): Unit = {
    val n = normPath(storePath)
    regs.entrySet().removeIf(e => e.getValue.storePath == n)
    SparkSession.getActiveSession.foreach(deleteDurable(_, n))
  }

  /** Test/emergency escape hatch: forget every registration (and the
    * session's memory of having loaded the durable catalog — the test
    * stand-in for a session restart). */
  def clear(): Unit = { regs.clear(); loadedCatalog = null }

  /** All file-scan root paths under a DataFrame's OPTIMIZED plan — the
    * q171-class plan assert ("the raw fixture is not scanned") reads this. */
  def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }

  private[plans] def isEmpty: Boolean = regs.isEmpty

  private[plans] def lookup(paths: Seq[String]): Option[Reg] =
    Option(regs.get(leafKey(paths.map(normPath))))

  /** Drop a registration the rewrite found stale (store generation moved
    * under it) — in memory and on disk. */
  private[plans] def dropStale(reg: Reg): Unit = {
    regs.remove(leafKey(reg.leafPaths), reg)
    SparkSession.getActiveSession.foreach(deleteDurable(_, reg.storePath))
  }

  // ---------------------------------------------------------------------
  // Durable catalog (round-11 #1): one AtomicStore-committed parquet
  // relation per registration under spark.graft.mv.catalog. The defining
  // expressions persist as SQL text (they are resolved, name-keyed
  // expressions over uniquely-named columns — parseExpression re-resolves
  // them against the rebuilt defining query), the leaf listing
  // fingerprints and store generation persist verbatim so the staleness
  // guards carry across sessions.
  // ---------------------------------------------------------------------

  private[plans] case class DurableReg(store_path: String, generation: Long,
      leaf_paths: Seq[String], leaf_sigs: Seq[String],
      key_names: Seq[String], key_sqls: Seq[String],
      measure_names: Seq[String], measure_sqls: Seq[String],
      filter_sqls: Seq[String],
      distinct_sql: Option[String], quantile_sql: Option[String],
      argmax_names: Seq[String], argmax_ord_sqls: Seq[String],
      argmax_arg_sqls: Seq[String],
      argmin_names: Seq[String], argmin_ord_sqls: Seq[String],
      argmin_arg_sqls: Seq[String],
      moment_names: Seq[String],
      comoment_names: Seq[String], comoment_x_sqls: Seq[String],
      comoment_y_sqls: Seq[String])

  private def catalogDir(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.mv.catalog").filter(_.nonEmpty)

  private def regDir(catalog: String, storePath: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(storePath.getBytes("UTF-8"))
    s"$catalog/reg_${md.map("%02x".format(_)).mkString}"
  }

  private def persistReg(spark: SparkSession, reg: Reg,
      keySqls: Seq[(String, String)], measureSqls: Seq[(String, String)],
      filterSqls: Seq[String], distinctSql: Option[String],
      quantileSql: Option[String],
      argMaxSqls: Seq[(String, String, String)],
      argMinSqls: Seq[(String, String, String)],
      momentNames: Seq[String],
      coMomentSqls: Seq[(String, String, String)]): Unit =
    catalogDir(spark).foreach { cat =>
      val rec = DurableReg(reg.storePath, reg.storeGeneration,
        reg.leafPaths, reg.leafPaths.map(reg.leafSigs),
        keySqls.map(_._1), keySqls.map(_._2),
        measureSqls.map(_._1), measureSqls.map(_._2),
        filterSqls, distinctSql, quantileSql,
        argMaxSqls.map(_._1), argMaxSqls.map(_._2), argMaxSqls.map(_._3),
        argMinSqls.map(_._1), argMinSqls.map(_._2), argMinSqls.map(_._3),
        momentNames,
        coMomentSqls.map(_._1), coMomentSqls.map(_._2), coMomentSqls.map(_._3))
      import spark.implicits._
      graft.core.AtomicStore.replace(spark, regDir(cat, reg.storePath),
        Seq(rec).toDS().toDF())
    }

  private def deleteDurable(spark: SparkSession, storePath: String): Unit =
    catalogDir(spark).foreach { cat =>
      val p = new org.apache.hadoop.fs.Path(regDir(cat, storePath))
      try {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        fs.delete(new org.apache.hadoop.fs.Path(p.toString + "_tmp"), true)
      } catch { case NonFatal(_) => () }
    }

  /** Auto-load the durable catalog once per session (cheap volatile check
    * afterwards). A registration whose store GENERATION has moved since
    * it was persisted is dropped here — serving it would answer
    * original-grain queries from coarsened/reshaped history.
    * `loadedCatalog` is published only AFTER the load completes, so a
    * thread that arrives mid-load waits on the monitor instead of
    * planning without the registrations (and silently falling back). */
  private[plans] def ensureLoaded(spark: SparkSession): Unit = {
    val cat = catalogDir(spark).orNull
    if (cat == null || cat == loadedCatalog || loadingHere.get) return
    synchronized {
      if (cat == loadedCatalog) return
      // the load itself runs optimizer passes (its parquet reads and
      // registerInternal's defining-plan optimization), which re-enter
      // RollupRewrite.apply → ensureLoaded on THIS thread — the
      // thread-local mark makes that re-entry a no-op instead of an
      // infinite recursion, without telling other threads it is done
      loadingHere.set(true)
      try loadCatalog(spark, cat) catch { case NonFatal(e) =>
        logWarn(s"mv catalog load from $cat failed: ${e.getMessage}") }
      finally loadingHere.set(false)
      loadedCatalog = cat
    }
  }

  /** Set on the thread running [[loadCatalog]] for the load's duration. */
  private val loadingHere = ThreadLocal.withInitial[Boolean](() => false)

  private def logWarn(msg: String): Unit =
    System.err.println(s"[graft.mv] $msg")

  private def loadCatalog(spark: SparkSession, cat: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(cat)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("reg_")
        && !s.getPath.getName.endsWith("_tmp"))
    dirs.foreach { d =>
      try loadOne(spark, d.getPath.toString) catch { case NonFatal(e) =>
        logWarn(s"skipping mv registration ${d.getPath.getName}: ${e.getMessage}") }
    }
  }

  private def loadOne(spark: SparkSession, dir: String): Unit = {
    val df = graft.core.AtomicStore.read(spark, dir).getOrElse(return)
    val r = df.head()
    def strs(name: String): Seq[String] =
      r.getSeq[String](r.fieldIndex(name))
    // fields added after a registration was persisted read as empty — a
    // pre-moments catalog file stays loadable (it simply has no moment
    // states to serve)
    def strsOpt(name: String): Seq[String] =
      if (r.schema.fieldNames.contains(name)) strs(name) else Nil
    def optStr(name: String): Option[String] =
      Option(r.getAs[String](name))
    val storePath = r.getAs[String]("store_path")
    val gen = r.getAs[Long]("generation")
    // generation check FIRST: a store maintained since this registration
    // was persisted must not be re-served for its original defining query
    val current = graft.agg.AggStore.generation(spark, storePath)
    if (current != gen) {
      logWarn(s"dropping stale mv registration for $storePath " +
        s"(generation $gen, store now $current)")
      deleteDurable(spark, storePath)
      return
    }
    val leafPaths = strs("leaf_paths")
    val sigs = leafPaths.zip(strs("leaf_sigs")).toMap
    // rebuild the defining query: cross-join the leaves in recorded order
    // and re-apply every conjunct (join conditions included) — the
    // optimizer re-plans equality conjuncts over the cross join as the
    // inner join they came from, and registerInternal re-derives the
    // same normalized registration from the rebuilt plan
    val raw0 = leafPaths.map(p => spark.read.parquet(p))
      .reduceLeft(_.crossJoin(_))
    val raw = strs("filter_sqls").foldLeft(raw0)((d, f) => d.filter(expr(f)))
    registerInternal(raw, storePath,
      keys = strs("key_names").zip(strs("key_sqls").map(expr)),
      measures = strs("measure_names").zip(strs("measure_sqls").map(expr)),
      filter = None,
      distinct = optStr("distinct_sql").map(expr),
      quantile = optStr("quantile_sql").map(expr),
      argMax = strs("argmax_names").lazyZip(strs("argmax_ord_sqls"))
        .lazyZip(strs("argmax_arg_sqls"))
        .map((n, o, a) => (n, expr(o), expr(a))),
      argMin = strs("argmin_names").lazyZip(strs("argmin_ord_sqls"))
        .lazyZip(strs("argmin_arg_sqls"))
        .map((n, o, a) => (n, expr(o), expr(a))),
      moments = strsOpt("moment_names"),
      coMoments = strsOpt("comoment_names").lazyZip(strsOpt("comoment_x_sqls"))
        .lazyZip(strsOpt("comoment_y_sqls"))
        .map((n, x, y) => (n, expr(x), expr(y))),
      fixedGeneration = Some(gen), fixedSigs = Some(sigs), persist = false)
  }
}

/** Optimizer rule: an `Aggregate` over a registered raw table (or a
  * registered inner equi-join of raw tables) whose keys, measures, and
  * filters are SUBSUMED by a registered rollup store is answered from the
  * store's merged states — the raw scan disappears from the plan (the
  * ClickHouse MV-read behaviour; at 100 TB this turns a corpus-wide
  * scan+shuffle — or a fact⋈fact join — into a dimension-sized states
  * merge).
  *
  * Matching is conservative — any of these falls back to the raw plan:
  *  - a node other than Project/Filter/inner-Join between the Aggregate
  *    and the scans, or a leaf-path set no registration covers;
  *  - raw files drifted since registration (paths/sizes/mtimes — appended
  *    rows would be missing from the states) or the store's GENERATION
  *    moved (retire/expire/migrate re-shaped history);
  *  - a grouping expression that is neither one of the store's key exprs
  *    (a strict SUBSET of keys rewrites through `mergedAt` — the
  *    cascaded-MV read; states re-merge losslessly) nor a DERIVED
  *    expression over keys (`month(event_day)` on a daily store rewrites
  *    through `mergedBy` — the read-time re-grain);
  *  - an aggregate the states cannot reproduce. The vocabulary (round-11
  *    widened to every state the store holds): `count(1)` → `n`;
  *    `sum(micro-units(m))` → the exact integer micro-sum (NULL parity
  *    via the measure's min state); `min(m)`/`max(m)` → the fold states;
  *    `count(m)` → the measure's non-null count state; `avg(m)` → the
  *    exact micro-avg `sum_u/1e6/cnt` (sum and divisor both exact
  *    states, so the rewrite is deterministic and order-independent —
  *    documented contract: it equals the oracle's micro-avg, which
  *    differs from a float-sum avg only in sub-1e-6 rounding);
  *    `approx_count_distinct(d)` → the HLL-union estimate (an
  *    approximation either way; the estimator changes from HLL++ to
  *    Datasketches HLL, under the q160 accuracy contract);
  *    `approx_percentile(q, p)` at ANY literal probe → the merged GK
  *    sketch finished at exactly the requested probes (q164 rank-window
  *    contract; the standard trio reads the default-finished columns);
  *    `max_by(a, o)` → the argmax struct state (exact when the ordinal
  *    is unique — the registration's ordinal should include a tiebreak
  *    column, as q163's does);
  *  - a query filter the registration did not bake in, unless it
  *    references only grouping keys (then it applies post-merge);
  *  - store drift: required key/state columns missing from the store read
  *    (e.g. the store was rebuilt with different measures, or predates
  *    the state a new aggregate shape needs).
  */
object RollupRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    SparkSession.getActiveSession.foreach(MaterializedRollups.ensureLoaded)
    if (MaterializedRollups.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate =>
        // non-fatal failures → raw plan; fatal errors (OOM, interrupts)
        // must propagate (round-11 advice)
        try rewrite(agg).getOrElse(agg)
        catch { case NonFatal(_) => agg }
    }
  }

  /** The one file-scan root path of a LogicalRelation, if it has exactly one. */
  private[plans] def singleScanPath(rel: LogicalRelation): Option[String] =
    rel.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 =>
        Some(fs.location.rootPaths.head.toString)
      case _ => None
    }

  /** Walk a Project/Filter/inner-Join tree down to its LogicalRelations,
    * building the substitution that rewrites tree-level attributes into
    * base-relation expressions, and collecting filter conjuncts (already
    * substituted; an inner join's condition contributes its conjuncts —
    * semantically a filter over the joined relation). */
  private[plans] def collectBase(p: LogicalPlan)
      : Option[(Seq[LogicalRelation], Map[ExprId, Expression], Seq[Expression])] = p match {
    case rel: LogicalRelation =>
      Some((Seq(rel), rel.output.map(a => a.exprId -> (a: Expression)).toMap, Nil))
    case Project(list, child) =>
      collectBase(child).map { case (leaves, sub, fs) =>
        val next: Map[ExprId, Expression] = list.map {
          case a @ Alias(e, _) => a.exprId -> applySubst(e, sub)
          case a: AttributeReference => a.exprId -> applySubst(a, sub)
          case other => other.exprId -> applySubst(other, sub)
        }.toMap
        (leaves, next, fs)
      }
    case Filter(cond, child) =>
      collectBase(child).map { case (leaves, sub, fs) =>
        (leaves, sub, fs ++ splitConjunctivePredicates(applySubst(cond, sub)))
      }
    case Join(left, right, Inner, cond, _) =>
      for {
        (ll, ls, lf) <- collectBase(left)
        (rl, rs, rf) <- collectBase(right)
      } yield {
        val sub = ls ++ rs
        (ll ++ rl, sub, lf ++ rf ++ cond.toSeq.flatMap(c =>
          splitConjunctivePredicates(applySubst(c, sub))))
      }
    case _ => None
  }

  private[plans] def applySubst(e: Expression, sub: Map[ExprId, Expression]): Expression =
    e.transform { case a: AttributeReference if sub.contains(a.exprId) => sub(a.exprId) }

  /** Interned name → canonical id (round-11 advice: the previous
    * name-hashCode derivation could collide two distinct columns, making
    * a query over column B rewrite to column A's store). */
  private val internedIds = new ConcurrentHashMap[String, java.lang.Long]()
  private val nextInterned = new java.util.concurrent.atomic.AtomicLong(1L)
  private def idFor(name: String): Long =
    internedIds.computeIfAbsent(name, _ => nextInterned.getAndIncrement()).longValue()

  /** Name-stable normal form: attribute ids vary per scan instance, so map
    * each base attribute onto an id INTERNED from its lower-cased NAME (the
    * canonicalizer erases names but keeps ids — encoding the name INTO the
    * id is what makes two scans of the same file comparable; interning,
    * not hashing, makes distinct names collision-free), then canonicalize
    * for literal/commutativity/cast noise. */
  private[plans] def normalize(e: Expression): Expression =
    e.transform {
      case a: AttributeReference =>
        val n = a.name.toLowerCase(java.util.Locale.ROOT)
        AttributeReference(n, a.dataType)(exprId = ExprId(idFor(n)))
    }.canonicalized

  /** The estimate column served for each approx_percentile probe the
    * merged read finishes (AggStore.QProbes). */
  private val QuantileCols = Map(0.5 -> "q_p50", 0.9 -> "q_p90", 0.99 -> "q_p99")

  /** Everything the per-grouping-set rewrite shares: the matched
    * registration, its staleness verdict (tail files when the realtime
    * arm applies), the attribute→base-expression substitution, and the
    * query's own filter conjuncts. */
  private case class Ctx(reg: MaterializedRollups.Reg, tailFiles: Seq[String],
      subst: Map[ExprId, Expression], qFilters: Seq[Expression],
      spark: SparkSession)

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    // GROUPING SETS / ROLLUP / CUBE (round-11 continuation): Catalyst
    // plans them as Aggregate over Expand — one projection per grouping
    // set, nulled-out key copies, a grouping-id literal. Every state
    // merge is associative+commutative, so EACH grouping set is a
    // lossless regroup of the same store; the whole query rewrites to a
    // UNION of per-set store reads (subtotal rows come from mergedAt /
    // the const-grouped grand total, never a rescan) — the DW cube read,
    // served from one MV.
    case ex: Expand =>
      for {
        ctx <- prepare(ex.child)
        perSet <- traverseSets(agg, ex, ctx)
        plan <- finish(agg, perSet.reduceLeft(_ union _), ctx)
      } yield plan
    case child =>
      for {
        ctx <- prepare(child)
        aggPairs <- namedPairs(agg.aggregateExpressions)
        df <- rewriteSet(ctx, agg.groupingExpressions, aggPairs)
        plan <- finish(agg, df, ctx)
      } yield plan
  }

  /** Top-level aggregate output list as (output name, inner expression)
    * pairs — None on any shape picks can't serve. */
  private def namedPairs(aggExprs: Seq[NamedExpression])
      : Option[Seq[(String, Expression)]] = {
    val pairs = aggExprs.map {
      case Alias(e, n) => n -> e
      case a: AttributeReference => a.name -> (a: Expression)
      case _ => return None
    }
    Some(pairs)
  }

  /** One per-set rewrite per Expand projection — None if ANY set fails
    * (all-or-nothing: a partial union would be wrong, not conservative). */
  private def traverseSets(agg: Aggregate, ex: Expand, ctx: Ctx)
      : Option[Seq[DataFrame]] = {
    val pairs = namedPairs(agg.aggregateExpressions) match {
      case Some(p) => p
      case None => return None
    }
    val sets = ex.projections.map { proj =>
      // this projection's substitution: Expand output attr → the set's
      // expression (a child column, a nulled key copy, or the gid literal)
      val pm: Map[ExprId, Expression] =
        ex.output.zip(proj).map { case (a, e) => a.exprId -> e }.toMap
      val groupings = agg.groupingExpressions.map(applySubst(_, pm))
        .filterNot(_.foldable) // nulled keys + gid are per-set constants
      val aggPairs = pairs.map { case (n, e) => n -> applySubst(e, pm) }
      rewriteSet(ctx, groupings, aggPairs) match {
        case Some(df) => df
        case None => return None
      }
    }
    Some(sets)
  }

  /** Steps shared by every grouping set: match the plan's base against a
    * registration and run the staleness guards. */
  private def prepare(child: LogicalPlan): Option[Ctx] = {
    val (leaves, subst, qFilters) = collectBase(child) match {
      case Some(t) => t
      case None => return None
    }
    val leafPaths = leaves.map(l => singleScanPath(l) match {
      case Some(p) => p
      case None => return None
    })
    val reg = MaterializedRollups.lookup(leafPaths) match {
      case Some(r) => r
      case None => return None
    }
    // name-keyed matching requires globally unique names on the query
    // side too (a self-join of the registered path would alias them)
    val names = leaves.flatMap(_.output.map(
      _.name.toLowerCase(java.util.Locale.ROOT)))
    if (names.distinct.size != names.size) return None

    // staleness guards (round-11): raw files drifted since registration →
    // states are missing rows → fall back; store generation moved →
    // retire/expire/migrate re-shaped history → drop the registration.
    // EXCEPT pure growth on a tail-capable registration: files were only
    // ADDED, so the answer is merged(states) ⊎ partialStates(new files) —
    // the realtime (lambda) read, served automatically (q184)
    val sigOk = leaves.forall { l =>
      val p = MaterializedRollups.normPath(singleScanPath(l).get)
      reg.leafSigs.get(p).contains(graft.core.FileListing.signature(l))
    }
    val tailFiles: Seq[String] =
      if (sigOk) Nil
      else (reg.tailRecipe, leaves) match {
        case (Some(rec), Seq(leaf)) =>
          val current = graft.core.FileListing.entries(leaf).toMap
          val changedOrRemoved = rec.fileEntries.exists { case (p, m) =>
            !current.get(p).contains(m) }
          val added = (current.keySet -- rec.fileEntries.keySet).toSeq.sorted
          if (changedOrRemoved || added.isEmpty) return None
          added
        case _ => return None
      }
    val spark = SparkSession.active
    if (graft.agg.AggStore.generation(spark, reg.storePath) != reg.storeGeneration) {
      MaterializedRollups.dropStale(reg)
      return None
    }
    Some(Ctx(reg, tailFiles, subst, qFilters, spark))
  }

  /** Rewrite ONE aggregate shape (one grouping set) against the prepared
    * registration: map groupings onto store keys, filters onto baked/
    * post-merge predicates, outputs onto state columns, and build the
    * store-read DataFrame. `groupings` may be empty — a global aggregate
    * (or a cube's grand-total set) reads the store regrouped under a
    * constant. */
  private def rewriteSet(ctx: Ctx, groupings: Seq[Expression],
      aggPairs: Seq[(String, Expression)]): Option[DataFrame] = {
    val Ctx(reg, tailFiles, subst, qFilters, spark) = ctx
    def resolveNorm(e: Expression): Expression = normalize(applySubst(e, subst))

    // 1. groupings ↦ store keys: a grouping is either a key itself
    //    (subset ⇒ mergedAt) or a DERIVED expression over keys — e.g.
    //    `month(event_day)` over a daily store — which regroups the
    //    states losslessly through mergedBy (the read-time re-grain;
    //    every state merge is associative+commutative, so any function
    //    of the keys is a valid coarser grouping)
    final case class GSpec(name: String, norm: Expression, c: Column,
      derived: Boolean)
    val keyByNorm = reg.keys.map { case (n, x) => x -> n }.toMap
    val specs: Seq[GSpec] = groupings.zipWithIndex.map {
      case (g, i) =>
        val norm = resolveNorm(g)
        keyByNorm.get(norm) match {
          case Some(k) => GSpec(k, norm, col(k), derived = false)
          case None =>
            val replaced = replaceKeySubtrees(norm, reg.keys)
            // residual base attribute: the grouping needs non-key data;
            // no key occurrence at all: nothing to regroup by — fall back
            if (replaced.exists(_.isInstanceOf[AttributeReference])) return None
            if (replaced == norm) return None
            GSpec(s"__g$i", norm,
              org.apache.spark.sql.GraftColumnBridge.column(replaced),
              derived = true)
        }
    }
    if (specs.map(_.norm).distinct.size != specs.size) return None
    // empty groupings = a GLOBAL aggregate (or a cube's grand-total set):
    // the store regroups under a constant — still O(states), never a scan
    val hasDerived = specs.exists(_.derived)
    val plainKeys = specs.filterNot(_.derived).map(_.name)
    val constGroup = Seq("__g_const" -> lit(1))

    // 2. filters: registered ones are baked into the states; extras must
    //    reference grouping expressions only (then they apply post-merge)
    val regFilterSet = reg.filters.toSet
    val extras = qFilters.map(f => normalize(applySubst(f, subst)))
      .filterNot(regFilterSet.contains)
    val baked = qFilters.map(f => normalize(applySubst(f, subst))).toSet
    if (!reg.filters.forall(baked.contains)) return None // store is NARROWER than the query
    val groupNorms = specs.map(s => s.name -> s.norm)
    val extraCols: Seq[Column] = extras.map { f =>
      val replaced = replaceKeySubtrees(f, groupNorms)
      // any residual base attribute means the filter needs non-key data
      if (replaced.exists(_.isInstanceOf[AttributeReference])) return None
      org.apache.spark.sql.GraftColumnBridge.column(replaced)
    }

    // 3. outputs ↦ store columns (None = not rewritable)
    val microByNorm = reg.microSums.map { case (n, x) => x -> n }.toMap
    val plainByNorm = reg.plains.map { case (n, x) => x -> n }.toMap

    // approx_percentile probes requested by this aggregate: the standard
    // trio reads the default-finished q_p50/q_p90/q_p99 columns; ANY
    // other probe list makes the store read finish the merged GK sketch
    // at exactly these probes (q_est_<i> — the quantilesMerge read at
    // arbitrary probabilities, same rank-error contract)
    val qProbes: Seq[Double] = aggPairs.flatMap {
      case (_, ae: AggregateExpression) => ae.aggregateFunction match {
        case ap: ApproximatePercentile
            if reg.quantileN.contains(resolveNorm(ap.child)) =>
          ap.percentageExpression match {
            case Literal(p: Double, DoubleType) => Seq(p)
            case _ => Nil
          }
        case _ => Nil
      }
      case _ => Nil
    }.distinct
    val customQ = qProbes.nonEmpty && !qProbes.forall(QuantileCols.contains)
    val quantileProbes =
      if (customQ) qProbes else graft.agg.AggStore.defaultQuantileProbes
    def qCol(p: Double): Column =
      if (customQ) col(s"q_est_${qProbes.indexOf(p)}") else col(QuantileCols(p))

    // COUNT(DISTINCT key-derived) (round-11 continuation): served EXACTLY
    // from a FINER-GRAIN states read — a key value exists in the states
    // iff at least one raw row carried it, so distinct-counting grain
    // columns equals distinct-counting raw. The states regroup at
    // (set groupings ++ distinct exprs) through mergedBy and a second,
    // EXACT re-aggregation folds them to the set grain: counts/micro-sums
    // re-add, min/max re-fold, avg recomputes from the re-summed exact
    // states — all bit-identical to the single-level read by
    // associativity. Finished sketch/moment/argmax columns cannot
    // re-merge post-finish, so their presence falls back.
    if (aggPairs.exists { case (_, ae: AggregateExpression) =>
            ae.isDistinct || ae.filter.nonEmpty
          case _ => false }) {
      sealed trait P
      case class GRef(spec: String) extends P
      case class Agg(c: Column) extends P
      case class LitC(c: Column) extends P
      // distinct children / FILTER conditions resolve onto finer-grain
      // column names (a set grouping reuses its spec column; a bare key
      // or key-derived expression becomes an extra grain column)
      val dSpecs = scala.collection.mutable.LinkedHashMap.empty[Expression, (String, Column)]
      def grainName(norm: Expression): Option[String] =
        specs.find(_.norm == norm).map(_.name)
          .orElse(dSpecs.get(norm).map(_._1))
          .orElse(keyByNorm.get(norm).map { k =>
            dSpecs.put(norm, k -> col(k)); k })
          .orElse {
            val replaced = replaceKeySubtrees(norm, reg.keys)
            if (replaced.exists(_.isInstanceOf[AttributeReference]) ||
                replaced == norm) None
            else {
              val n = s"__d${dSpecs.size}"
              dSpecs.put(norm,
                n -> org.apache.spark.sql.GraftColumnBridge.column(replaced))
              Some(n)
            }
          }
      // an aggregate's FILTER condition (the ClickHouse sumIf/countIf
      // family): servable when it is a function of key-derived columns —
      // then it is CONSTANT within every finer-grain subgroup, so
      // re-aggregating under it is exact. Each key column it references
      // joins the grain.
      def resolveCond(f: Expression): Option[Column] = {
        val replaced = replaceKeySubtrees(resolveNorm(f), reg.keys)
        // a residual base attribute means the condition needs non-key data
        if (replaced.exists(_.isInstanceOf[AttributeReference])) return None
        val condKeys: Set[String] =
          replaced.collect { case u: UnresolvedAttribute => u.name }.toSet
        condKeys.foreach { (k: String) =>
          if (!specs.exists(_.name == k) && !dSpecs.values.exists(_._1 == k))
            reg.keys.find(_._1 == k).foreach { case (n, norm) =>
              dSpecs.put(norm, n -> col(n)) }
        }
        Some(org.apache.spark.sql.GraftColumnBridge.column(replaced))
      }
      def reAgg(ae: AggregateExpression): Option[Column] = {
        val cond: Option[Column] = ae.filter match {
          case Some(f) => resolveCond(f) match {
            case Some(c) => Some(c)
            case None => return None
          }
          case None => None
        }
        def gated(c: Column): Column = cond.map(when(_, c)).getOrElse(c)
        def gatedAnd(extra: Column, c: Column): Column =
          when(cond.map(_ && extra).getOrElse(extra), c)
        ae.aggregateFunction match {
          case Count(cs) if ae.isDistinct =>
            val cols = cs.map(c => grainName(resolveNorm(c)) match {
              case Some(n) => gated(col(n))
              case None => return None
            })
            Some(count_distinct(cols.head, cols.tail: _*))
          case Count(Seq(Literal(_, _))) =>
            // filtered counts are 0 when nothing matches, never NULL
            Some(if (cond.isEmpty) sum(col("n"))
              else coalesce(sum(gated(col("n"))), lit(0L)))
          case Count(Seq(e)) =>
            plainByNorm.get(resolveNorm(e)).map(m =>
              if (cond.isEmpty) sum(col(s"${m}_cnt"))
              else coalesce(sum(gated(col(s"${m}_cnt"))), lit(0L)))
          case s: Sum => microByNorm.get(resolveNorm(s.child)).map(m =>
            // null parity re-merges: a subgroup contributes only when it
            // saw a value; all-null everywhere → outer sum NULL, like raw
            sum(gatedAnd(col(s"${m}_min").isNotNull, col(s"${m}_sum_u"))))
          case mn: Min => plainByNorm.get(resolveNorm(mn.child)).map(m =>
            min(gated(col(s"${m}_min"))))
          case mx: Max => plainByNorm.get(resolveNorm(mx.child)).map(m =>
            max(gated(col(s"${m}_max"))))
          case a: Average => plainByNorm.get(resolveNorm(a.child)).map { m =>
            val c = sum(gated(col(s"${m}_cnt")))
            val u = sum(gated(col(s"${m}_sum_u")))
            when(c > 0, u / lit(1e6) / c)
          }
          case _ => None
        }
      }
      val picks2: Seq[(String, P)] = aggPairs.map { case (outName, inner) =>
        inner match {
          case ae: AggregateExpression =>
            reAgg(ae) match {
              case Some(c) => outName -> (Agg(c): P)
              case None => return None
            }
          case e => specs.find(_.norm == resolveNorm(e)) match {
            case Some(s) => outName -> (GRef(s.name): P)
            case None if e.foldable =>
              outName -> (LitC(org.apache.spark.sql.GraftColumnBridge.column(e)): P)
            case None => return None
          }
        }
      }
      val aggCols = picks2.collect { case (n, Agg(c)) => c.as(n) }
      if (aggCols.isEmpty) return None
      val finerGroups = specs.map(s => s.name -> s.c) ++ dSpecs.values
      val storeFine =
        if (tailFiles.nonEmpty) {
          val rec = reg.tailRecipe.get
          val schema = org.apache.spark.sql.types.DataType
            .fromJson(rec.dataSchemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val tail0 = spark.read.schema(schema).parquet(tailFiles: _*)
          val tailF = rec.filterSqls.foldLeft(tail0)((d, f) => d.filter(expr(f)))
          val tailK = rec.keySqls.foldLeft(tailF) { case (d, (n, sql)) =>
            d.withColumn(n, expr(sql)) }
          val withD = rec.distinctSql.map(sql =>
            tailK.withColumn("__mv_d", expr(sql))).getOrElse(tailK)
          val tail = rec.quantileSql.map(sql =>
            withD.withColumn("__mv_q", expr(sql))).getOrElse(withD)
          graft.agg.AggStore.mergedWithTailMeasures(spark, reg.storePath, tail,
            keys = reg.keys.map(_._1),
            measures = rec.measureSqls.map { case (n, sql) => n -> expr(sql) },
            distinctCol = rec.distinctSql.map(_ => "__mv_d").orNull,
            argMax = rec.argMaxSqls.map { case (n, o, a) =>
              (n, expr(o), expr(a)) },
            quantileCol = rec.quantileSql.map(_ => "__mv_q").orNull,
            argMin = rec.argMinSqls.map { case (n, o, a) =>
              (n, expr(o), expr(a)) },
            groups = finerGroups,
            moments = rec.momentNames,
            coMoments = rec.coMomentSqls.map { case (n, x, y) =>
              (n, expr(x), expr(y)) })
        }
        else graft.agg.AggStore.mergedBy(spark, reg.storePath, finerGroups)
      val filtered = extraCols.foldLeft(storeFine)((df, c) => df.filter(c))
      val grouped = filtered.groupBy(specs.map(s => col(s.name)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      return Some(grouped.select(picks2.map {
        case (n, GRef(g)) => col(g).as(n)
        case (n, Agg(_)) => col(n)
        case (n, LitC(c)) => c.as(n)
      }: _*))
    }

    val picks: Seq[(String, Column)] = aggPairs.map { case (outName, inner) =>
      inner match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Count(Seq(Literal(_, _))) => outName -> col("n")
            case Count(Seq(e)) => plainByNorm.get(resolveNorm(e)) match {
              // non-null count of a measure: the cnt state (round-11)
              case Some(m) => outName -> col(s"${m}_cnt")
              case None => return None
            }
            case s: Sum => microByNorm.get(resolveNorm(s.child)) match {
              // null parity: raw sum is NULL iff all inputs null iff the
              // measure's merged min state is NULL (min skips nulls)
              case Some(m) => outName ->
                when(col(s"${m}_min").isNotNull, col(s"${m}_sum_u"))
              case None => return None
            }
            case a: Average => plainByNorm.get(resolveNorm(a.child)) match {
              // exact micro-avg from exact states: sum_u/1e6/cnt — NULL
              // when the group saw no non-null value, like raw avg
              case Some(m) => outName -> when(col(s"${m}_cnt") > 0,
                col(s"${m}_sum_u") / lit(1e6) / col(s"${m}_cnt"))
              case None => return None
            }
            case mn: Min => plainByNorm.get(resolveNorm(mn.child)) match {
              case Some(m) => outName -> col(s"${m}_min")
              case None => return None
            }
            case mx: Max => plainByNorm.get(resolveNorm(mx.child)) match {
              case Some(m) => outName -> col(s"${m}_max")
              case None => return None
            }
            case h: HyperLogLogPlusPlus
                if reg.distinctN.contains(resolveNorm(h.child)) =>
              // the uniqMerge read: HLL-union estimate of the registered
              // distinct column (estimator swap documented in the rule doc)
              outName -> col("n_distinct_est")
            case ap: ApproximatePercentile
                if reg.quantileN.contains(resolveNorm(ap.child)) =>
              ap.percentageExpression match {
                case Literal(p: Double, DoubleType)
                    if p >= 0.0 && p <= 1.0 && qProbes.contains(p) =>
                  outName -> qCol(p)
                case _ => return None
              }
            case mb: MaxBy =>
              reg.argMaxN.find { case (_, ordN, argN) =>
                ordN == resolveNorm(mb.orderingExpr) &&
                  argN == resolveNorm(mb.valueExpr)
              } match {
                case Some((nm, _, _)) =>
                  outName -> col(s"${nm}_argmax").getField("arg")
                case None => return None
              }
            case mb: MinBy =>
              reg.argMinN.find { case (_, ordN, argN) =>
                ordN == resolveNorm(mb.orderingExpr) &&
                  argN == resolveNorm(mb.valueExpr)
              } match {
                case Some((nm, _, _)) =>
                  outName -> col(s"${nm}_argmin").getField("arg")
                case None => return None
              }
            // variance family (round-11 continuation): served from the
            // exact (n, Σx, Σx²) moment states — the varSampMerge read.
            // The served value is the deterministic micro-arithmetic
            // formula (finishMerged), the q176 avg contract: it equals
            // the oracle's mirror expression, differing from a raw
            // Welford double only in low-order rounding. Only rewritten
            // under the default NULL-on-divide-by-zero semantics (the
            // legacy NaN flag would change the empty/singleton answer).
            case v: VarianceSamp if v.nullOnDivideByZero =>
              plainByNorm.get(resolveNorm(v.child))
                .filter(reg.momentNames.contains) match {
                case Some(m) => outName -> col(s"${m}_var")
                case None => return None
              }
            case v: VariancePop if v.nullOnDivideByZero =>
              plainByNorm.get(resolveNorm(v.child))
                .filter(reg.momentNames.contains) match {
                case Some(m) => outName -> col(s"${m}_var_pop")
                case None => return None
              }
            case v: StddevSamp if v.nullOnDivideByZero =>
              plainByNorm.get(resolveNorm(v.child))
                .filter(reg.momentNames.contains) match {
                case Some(m) => outName -> col(s"${m}_std")
                case None => return None
              }
            case v: StddevPop if v.nullOnDivideByZero =>
              plainByNorm.get(resolveNorm(v.child))
                .filter(reg.momentNames.contains) match {
                case Some(m) => outName -> col(s"${m}_std_pop")
                case None => return None
              }
            // corr/covar: symmetric in (x, y), so either argument order
            // matches the registered pair — the corrMerge read
            case cr: Corr if cr.nullOnDivideByZero =>
              coMomentCol(reg, resolveNorm(cr.x), resolveNorm(cr.y), "_corr") match {
                case Some(c) => outName -> c
                case None => return None
              }
            case cv: CovSample if cv.nullOnDivideByZero =>
              coMomentCol(reg, resolveNorm(cv.left), resolveNorm(cv.right), "_cov") match {
                case Some(c) => outName -> c
                case None => return None
              }
            case cv: CovPopulation if cv.nullOnDivideByZero =>
              coMomentCol(reg, resolveNorm(cv.left), resolveNorm(cv.right), "_cov_pop") match {
                case Some(c) => outName -> c
                case None => return None
              }
            case _ => return None
          }
        case e => specs.find(_.norm == resolveNorm(e)) match {
          case Some(s) => outName -> col(s.name)
          // a grouping-set output that is constant FOR THIS SET: a nulled
          // key copy, the grouping-id, or grouping()/grouping_id() math
          // over it — emit the (foldable) expression as a literal column
          case None if e.foldable =>
            outName -> org.apache.spark.sql.GraftColumnBridge.column(e)
          case None => return None
        }
      }
    }

    // 4. build the substitute from the store read; ANY failure (missing
    //    store, drifted schema) aborts the rewrite via the caller's catch
    val storeDf =
      if (tailFiles.nonEmpty) {
        // REALTIME arm: history states ∪ tail states regroup losslessly
        // at ANY grouping over the keys, so all three grouping arms
        // (full-key, subset, derived) serve through the lambda union
        val rec = reg.tailRecipe.get
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(rec.dataSchemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val tail0 = spark.read.schema(schema).parquet(tailFiles: _*)
        val tailF = rec.filterSqls.foldLeft(tail0)((d, f) => d.filter(expr(f)))
        val tailK = rec.keySqls.foldLeft(tailF) { case (d, (n, sql)) =>
          d.withColumn(n, expr(sql)) }
        val withD = rec.distinctSql.map(sql =>
          tailK.withColumn("__mv_d", expr(sql))).getOrElse(tailK)
        val tail = rec.quantileSql.map(sql =>
          withD.withColumn("__mv_q", expr(sql))).getOrElse(withD)
        // unsupported extra states (sumMap/uniqUpTo/topK) make the tail's
        // partial-state schema mismatch the store's — the loud require in
        // mergedWithTailMeasures lands in the caller's NonFatal catch and
        // the query falls back to the raw plan
        val tailGroups =
          if (!hasDerived && plainKeys.size == reg.keys.size) null
          else if (specs.isEmpty) constGroup
          else specs.map(s => s.name -> s.c)
        graft.agg.AggStore.mergedWithTailMeasures(spark, reg.storePath, tail,
          keys = reg.keys.map(_._1),
          measures = rec.measureSqls.map { case (n, sql) => n -> expr(sql) },
          distinctCol = rec.distinctSql.map(_ => "__mv_d").orNull,
          argMax = rec.argMaxSqls.map { case (n, o, a) =>
            (n, expr(o), expr(a)) },
          quantileCol = rec.quantileSql.map(_ => "__mv_q").orNull,
          argMin = rec.argMinSqls.map { case (n, o, a) =>
            (n, expr(o), expr(a)) },
          groups = tailGroups,
          moments = rec.momentNames,
          coMoments = rec.coMomentSqls.map { case (n, x, y) =>
            (n, expr(x), expr(y)) },
          quantileProbes = quantileProbes)
      }
      else if (specs.isEmpty)
        graft.agg.AggStore.mergedBy(spark, reg.storePath, constGroup,
          quantileProbes)
      else if (hasDerived)
        graft.agg.AggStore.mergedBy(spark, reg.storePath,
          specs.map(s => s.name -> s.c), quantileProbes)
      else if (plainKeys.size == reg.keys.size)
        graft.agg.AggStore.merged(spark, reg.storePath, quantileProbes)
      else graft.agg.AggStore.mergedAt(spark, reg.storePath, plainKeys,
        quantileProbes)
    // drift guard: every referenced store column must exist
    val have = storeDf.columns.toSet
    val needed = picks.flatMap { case (_, c) =>
      org.apache.spark.sql.GraftColumnBridge.expression(c).collect {
        case u: UnresolvedAttribute => u.name
      }
    } ++ specs.map(_.name)
    if (!needed.forall(have.contains)) return None
    Some(extraCols.foldLeft(storeDf)((df, c) => df.filter(c))
      .select(picks.map { case (n, c) => c.as(n) }: _*))
  }

  /** Convert the substitute DataFrame back into the Aggregate's slot:
    * optimize it, require exact arity+type parity with the original
    * output (nullability may differ: states are merge outputs), and
    * re-alias onto the original output exprIds. */
  private def finish(agg: Aggregate, substituted: DataFrame, ctx: Ctx)
      : Option[LogicalPlan] = {
    val newPlan = substituted.queryExecution.optimizedPlan
    if (newPlan.output.size != agg.output.size) return None
    if (newPlan.output.zip(agg.output).exists { case (a, b) => a.dataType != b.dataType })
      return None
    val restoreIds: Seq[NamedExpression] = newPlan.output.zip(agg.output).map {
      case (na, orig) => Alias(na, orig.name)(exprId = orig.exprId)
    }
    Some(Project(restoreIds, newPlan))
  }

  /** The finished co-moment column (`<nm>_corr` / `<nm>_cov` /
    * `<nm>_cov_pop`) for a registered pair matching (x, y) in either
    * order — corr and covariance are symmetric. */
  private def coMomentCol(reg: MaterializedRollups.Reg, xN: Expression,
      yN: Expression, suffix: String): Option[Column] =
    reg.coMomentsN.collectFirst {
      case (nm, a, b) if (a == xN && b == yN) || (a == yN && b == xN) =>
        col(s"$nm$suffix")
    }

  /** Replace every subtree matching a grouping key's normal form with an
    * unresolved attribute of the key's store-column name (top-down, so the
    * largest match wins); used to re-express an extra filter over the
    * store read's output. */
  private def replaceKeySubtrees(e: Expression,
      keys: Seq[(String, Expression)]): Expression =
    keys.collectFirst { case (n, kx) if e.canonicalized == kx => n } match {
      case Some(n) => UnresolvedAttribute(n)
      case None => e.mapChildren(c => replaceKeySubtrees(c, keys))
    }
}
