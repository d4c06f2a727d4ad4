package graft.engine

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{And, CurrentDate, CurrentTime,
  CurrentTimestampLike, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias,
  UnresolvedWith}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import graft.catalog.ChunkCatalog
import graft.prune.{ColumnPredicate, PredicateExtraction, TimeRange}
import graft.schema.MetricSchema

/** The query pipeline of the reference (src/query/mod.rs:158-241), Spark-first:
  *
  *  1. PARSE/ANALYZE — parse the SQL, bind every `metrics` reference to a
  *     schema-only stand-in (an empty scan with the catalog's union schema),
  *     analyze + optimize, and extract each scan's time range (default: last
  *     1 hour) + column predicates from the Filters Catalyst pushed onto it
  *     (engine.rs:368-487, 493-650; the reference walks its resolved plan
  *     the same way). The statement selects the union of its scans' chunks.
  *  2. METADATA PRUNE — hour-bucket time-index range scan + zone-map filter over the
  *     catalog (s3.rs:1075-1136). This is the layer Spark doesn't give us for free.
  *     It is the engine's only chunk selection: [[serve]] (under `sql`,
  *     `sqlRows` and `execute`) and the label-values and series endpoints all
  *     read through it.
  *  3. BIND — the pruned chunk set becomes this query's own `metrics`
  *     relation: every `metrics` reference in the parsed statement, CTE
  *     bodies and subqueries included, is bound to a scan of exactly those
  *     paths (mergeSchema=true mirrors DataFusion's multi-path schema
  *     inference); empty store ⇒ empty DataFrame with the default schema
  *     (engine.rs:97-101,189-205). Unlike the reference's re-registration
  *     (engine.rs:127-187) nothing session-global is replaced, so concurrent
  *     queries plan without a lock and results cached over other path sets
  *     stay cached. A set whose catalog sizes sum to ≤ `oneTaskMaxBytes`
  *     (1 MiB by default) is read coalesced to one partition (see
  *     [[relationOf]]).
  *  4. EXECUTE — spark.sql: Catalyst does analyze/optimize/physical; the vectorized
  *     Parquet reader re-prunes row groups from footer stats (two-tier pruning like
  *     the reference: metadata prune then Parquet prune). Over a coalesced relation
  *     the whole query (aggregate, ORDER BY) is one job of one task with no
  *     exchange — the reference's small-scan shape; larger sets run partitioned.
  *  5. DEDUP — when a shard split is active, first-wins dedup on
  *     (timestamp, metric_name) ONLY — labels intentionally ignored, faithful to
  *     src/query/dedup.rs:27.
  *
  * Scale posture: pruning happens on catalog metadata (driver-side, tiny); the data
  * path is a straight partitioned Parquet scan that Catalyst parallelizes — no
  * collect() anywhere on the data path.
  */
final class QueryEngine(val spark: SparkSession, val catalog: ChunkCatalog,
                        val limits: QueryEngine.QueryLimits = QueryEngine.QueryLimits()) {
  import QueryEngine._

  /** Fair semaphore = the reference's 100-permit query gate
    * (src/query/mod.rs:50-60); excess queries queue FIFO.
    */
  private val querySlots = new java.util.concurrent.Semaphore(limits.maxConcurrent, true)

  /** Run `action` on a query's DataFrame under the engine's concurrency cap and
    * statement timeout (reference QueryNode: 100 concurrent / 300 s). All Spark
    * jobs launched by the action are tagged with a per-query job group and
    * cancelled when the timeout fires; the caller sees QueryTimeoutException.
    */
  def execute[T](query: String,
                 nowNs: Long = System.currentTimeMillis() * 1000000L,
                 tenant: Option[String] = None,
                 asOfVersion: Option[Long] = None)
                (action: DataFrame => T): T = {
    querySlots.acquire()
    val sc = spark.sparkContext
    val tag = s"graft-q-${java.util.UUID.randomUUID()}"
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = QueryEngine.watchdog.schedule(new Runnable {
      // AndFutureJobs: a timeout firing while the query is still in Catalyst
      // planning must also kill the jobs it submits AFTERWARDS — plain
      // cancelJobGroup only reaches jobs already running.
      override def run(): Unit = { timedOut.set(true); sc.cancelJobGroupAndFutureJobs(tag) }
    }, limits.timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    val t0 = System.nanoTime()
    var ok = false
    try {
      sc.setJobGroup(tag, s"graft query: ${query.replaceAll("\\s+", " ").take(120)}",
        interruptOnCancel = true)
      try {
        val out = action(serve(query, nowNs, tenant, asOfVersion).df)
        ok = true
        out
      } catch {
        case e: Throwable if timedOut.get() =>
          throw new QueryEngine.QueryTimeoutException(limits.timeoutMs, e)
      } finally sc.clearJobGroup()
    } finally {
      Telemetry.recordQuery(System.nanoTime() - t0, ok)
      watchdog.cancel(false)
      querySlots.release()
    }
  }

  /** Plan cache: (query, pruned path set, split-active) → one [[QueryEngine.Entry]].
    * Re-running a repeated dashboard query skips Catalyst analysis/optimization —
    * the dominant cost of a warm pruned query (~100 ms). Size mirrors the
    * reference's 100-concurrent-queries default (src/query/mod.rs:50-60).
    * Eviction is by entry count; nothing in it holds executor storage.
    */
  private val planCache =
    new java.util.LinkedHashMap[Key, Entry](128, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean = {
        val evict = size() > 100
        if (evict) dropEntry(e.getKey, e.getValue)
        evict
      }
    }

  /** A [[QueryEngine.Localized]] entry demotes its rows to the L2 disk tier
    * instead of vanishing. Plan-only entries (including rollup/top-k routed
    * plans) have nothing materialized worth writing — recomputing the plan
    * is cheap.
    */
  private def dropEntry(key: Key, entry: Entry): Unit = entry match {
    case l: Localized if l2Enabled => demoteToL2(key, l)
    case _ =>
  }

  // ---------------------------------------------------------------------------
  // L2 disk result-cache tier — the Spark analog of the reference's foyer NVMe
  // tier under the moka RAM tier (src/query/cached_store.rs:49-181: get checks
  // RAM, then disk, then the object store; inserts write through to disk). Here
  // the RAM tier holds localized RESULT ROWS, so the disk tier does too: an L1
  // eviction DEMOTES them to one local file (asynchronously — eviction never
  // blocks the query path), and an L1 miss whose key has a demoted file
  // PROMOTES it back with one local-disk read instead of re-executing over
  // raw chunk blocks. The key is the same (query, pruned-path-set + rollup
  // ids + markers, split) tuple as L1, of a time-fixed text only, so a stale
  // hit is impossible — any ingest/compaction/rollup change changes the key
  // and the orphaned file simply ages out by LRU. The tier is
  // process-lifetime (foyer's crash recovery is an opt-in mode the reference
  // does not enable; documented divergence).
  // ---------------------------------------------------------------------------

  private val l2Enabled = limits.l2CacheDir.isDefined
  limits.l2CacheDir.foreach { d =>
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    // Orphan sweep (ADVICE r8): the index is process-lifetime, so any l2-*
    // entry already on disk belongs to a dead process and can never be
    // served again — without this, a long-lived cache dir grows without
    // bound across restarts.
    Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("l2-"))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** key → (`l2-<id>.bin` file, bytes on disk); access-ordered for LRU eviction. */
  private val l2Entries = new java.util.LinkedHashMap[Key, (java.io.File, Long)](32, 0.75f, true)

  /** Keys with a demote write in flight (skip duplicate demotes). */
  private val l2Pending = java.util.concurrent.ConcurrentHashMap.newKeySet[Key]()

  /** Single demote worker: L2 writes are tiny (at most `maxLocalRows` rows)
    * and strictly background.
    */
  private lazy val l2Demoter = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-l2-demote"); t.setDaemon(true); t
  })

  /** Enqueue a demote of a localized entry's rows as one driver-serialized
    * `l2-<id>.bin`: both the write here and the later promote are pure local
    * I/O, no Spark job on either side (the reference's foyer tier likewise
    * moves raw bytes, not queries).
    */
  private def demoteToL2(key: Key, entry: Localized): Unit = {
    val already = l2Entries.synchronized(l2Entries.containsKey(key))
    if (already || !l2Pending.add(key)) return // file already valid / in flight
    l2Demoter.submit(new Runnable {
      override def run(): Unit = {
        val file = new java.io.File(limits.l2CacheDir.get,
          s"l2-${java.util.UUID.randomUUID().toString.take(12)}.bin")
        try {
          val oos = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(file)))
          try { oos.writeObject(entry.df.schema); oos.writeObject(entry.rows) }
          finally oos.close()
          l2Entries.synchronized {
            l2Entries.put(key, (file, file.length()))
            // LRU-evict until the tier fits its byte budget. An evicted file
            // is deleted at once: a promote reads its file whole, so one that
            // loses the race recomputes.
            var retained = l2Entries.values().asScala.map(_._2).sum
            val it = l2Entries.entrySet().iterator()
            while (retained > limits.maxL2CacheBytes && it.hasNext) {
              val e = it.next()
              if (e.getKey != key) {
                retained -= e.getValue._2
                e.getValue._1.delete()
                it.remove()
              }
            }
          }
          Telemetry.l2Demotions.increment()
        } catch {
          case scala.util.control.NonFatal(_) => file.delete()
        } finally l2Pending.remove(key)
      }
    })
  }

  /** L2 hit path: read the demoted rows back into a driver-local
    * LocalRelation — the same terminal form a repeated L1 entry reaches. An
    * unreadable file (corruption, eviction, external cleanup) drops the entry
    * and falls through to a plain recompute — the tier can serve
    * wrong-shaped bytes to nobody.
    */
  private def promoteFromL2(key: Key): Option[Localized] = {
    if (!l2Enabled) return None
    val ent = l2Entries.synchronized(l2Entries.get(key)) // touches LRU order
    if (ent == null) return None
    // Everything that touches the file sits inside the fail-open guard — a
    // corrupt/deleted file must fall through to a recompute, never out of
    // serve(). NonFatal ONLY, same discipline as collectForLocalize: an OOM must
    // propagate.
    val read: Option[(Array[Row], org.apache.spark.sql.types.StructType)] =
      try {
        val ois = new java.io.ObjectInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(ent._1)))
        try {
          val schema = ois.readObject().asInstanceOf[org.apache.spark.sql.types.StructType]
          Some((ois.readObject().asInstanceOf[Array[Row]], schema))
        } finally ois.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    read match {
      case None => // unreadable → forget the entry, recompute
        l2Entries.synchronized(l2Entries.remove(key, ent))
        ent._1.delete()
        None
      case Some((rows, schema)) =>
        Telemetry.l2Hits.increment()
        val local = Localized(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), rows)
        planCache.synchronized { planCache.put(key, local) }
        Some(local)
    }
  }

  /** RAM result-cache tier, the Spark analog of the reference's L1 moka cache
    * (README.md:280-283: L1 RAM ~10 ms). Admission follows the repeat
    * pattern: a first sighting keeps only its plan (nothing is materialized,
    * so a one-off cold query holds no executor storage), and the FIRST
    * REPEAT collects at most `maxLocalRows` + 1 rows. A result that fits is
    * kept as driver-side rows ([[QueryEngine.Localized]]), which later
    * repeats serve with no plan execution; a larger one stays plan-only and
    * is never collected again. The cache key includes the pruned chunk-path
    * set, so any newly ingested or compacted chunk changes the key and stale
    * hits are impossible.
    *
    * When false, every entry stays plan-only (repeats re-execute the cached
    * plan). The default comes from the session conf
    * `spark.graft.resultCache.enabled` (default true) — session-scoped, not a
    * process-wide static, so one harness (e.g. the bench, which turns caching
    * off while timing 70+ queries) can't silently change engines built later
    * on OTHER sessions in the same JVM.
    */
  @volatile var resultCacheEnabled: Boolean =
    spark.conf.get("spark.graft.resultCache.enabled", "true").toBoolean

  /** Cut-off of the one-task rule ([[relationOf]]): a pruned chunk set whose
    * catalog sizes sum to at most this many bytes is read as one partition.
    * Not a serving option: tests and `graft.OneTaskProbe` move it to put a
    * small set on either side. Read when a path set's relation is built, so
    * a change applies from the next new path set; 0 turns the rule off.
    */
  @volatile private[graft] var oneTaskMaxBytes: Long = QueryEngine.OneTaskMaxBytes

  /** Query-pattern stats feeding index recommendations — populated per query like
    * the reference's adaptive-index hooks (engine.rs:259-300).
    */
  val adaptiveStats = new graft.adaptive.AdaptiveIndex.StatsCollector()

  /** One entry per query TEXT, access-ordered, at most 256: its ANTLR parse,
    * shared by predicate extraction and execution (each call binds and
    * analyzes its own copy, so reusing the unresolved tree across path sets
    * is safe), and its scans' conjuncts from the optimized stand-in plan.
    * A warm repeat skips Catalyst entirely: hash probe → extraction from the
    * memoized conjuncts → catalog prune → plan cache hit. A text that calls
    * a clock is optimized again on every call, since the optimizer folds the
    * clock's value into its bounds.
    */
  private val textCache = new java.util.LinkedHashMap[String, Text](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Text]): Boolean =
      size() > 256
  }

  /** True iff `query`, when first seen, had no clock call in its analyzed
    * stand-in plan ([[callsClock]]) and every scan of `metrics` had a time
    * bound (none read the default window). Such a query's answer depends
    * only on the data the manifest version names, not on when it runs, so
    * it is the only kind any cache tier reuses. A query not yet served or
    * evicted from the text cache is false.
    */
  def isTimeFixed(query: String): Boolean =
    textCache.synchronized(Option(textCache.get(query)).exists(_.timeFixed))

  /** `query`'s text entry and its (range, preds) at `nowNs`, extracted from
    * the plan bound to `st`'s stand-in. A first sighting parses ONCE.
    */
  private def textOf(query: String, st: ChunkCatalog.CatalogState,
                     nowNs: Long): (Text, (TimeRange, Seq[ColumnPredicate])) = {
    val seen = textCache.synchronized(textCache.get(query))
    val text =
      if (seen != null && !seen.callsClock) seen
      else {
        val plan = if (seen != null) seen.plan else spark.sessionState.sqlParser.parsePlan(query)
        val fresh = textFor(plan, st)
        textCache.synchronized(textCache.put(query, fresh))
        fresh
      }
    (text, PredicateExtraction.extract(text.scans, nowNs))
  }

  /** The text entry of `parsed`: bound to `st`'s stand-in, analyzed and
    * optimized, each scan's conjuncts and whether it calls a clock.
    */
  private def textFor(parsed: LogicalPlan, st: ChunkCatalog.CatalogState): Text = {
    val leaf = standIn(st)
    val analyzed = GraftBridge.ofRows(spark, withMetrics(parsed, leaf)).queryExecution.analyzed
    Text(parsed, PredicateExtraction.scanConjuncts(spark.sessionState.optimizer.execute(analyzed),
      { case r: LogicalRDD => r.rdd eq leaf.rdd; case _ => false }), callsClock(analyzed))
  }

  /** True iff an analyzed plan, subqueries included, calls a clock function:
    * one of the expressions Spark's `ComputeCurrentTime` fixes when a plan is
    * optimized, so the plan's answer changes as time passes.
    */
  private def callsClock(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case p =>
      p.expressions.exists(_.exists {
        case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime => true
        case _ => false
      })
    }.contains(true)

  def sql(query: String, nowNs: Long = System.currentTimeMillis() * 1000000L): DataFrame =
    serve(query, nowNs).df

  /** Answer `query` and report how this call answered it ([[QueryEngine.Served]]):
    * the engine's one query entry point; [[sql]], [[sqlRows]] and [[execute]]
    * are built on it. The report is this call's own, so concurrent callers
    * each read their own mode, route and chunk paths.
    *
    * `tenant` — per-tenant scoping, the engine side of the reference's
    * `query_for_tenant(sql, tenant)` (src/query/mod.rs:158-241): the chunk set
    * the query may see is restricted to the tenant's own write paths
    * (`{root}/{tenant}/data/...` — ChunkWriter/Compactor/ShardSplit all
    * preserve the prefix). `None` = unscoped (every chunk, the single-tenant
    * deployment shape).
    *
    * `asOf` — time travel (Delta/Iceberg `VERSION AS OF` analog, flagged
    * extension): the chunk set of a RETAINED catalog manifest version
    * (catalog built with manifestRetain > 0; see
    * [[graft.catalog.ChunkCatalog.stateAt]]), pruned by the same time range
    * and zone maps. Readable as far back as manifests are retained AND chunk
    * data files survive the GC grace window — the documented AS OF bound.
    *
    * Both are cache-safe for free: the pruned PATH SET is part of the
    * plan-cache and L2 keys, so two tenants or two versions never share an
    * entry. Rollup routing is off under either, because rollups are built
    * over the whole live warehouse.
    * Only a time-fixed text ([[isTimeFixed]]) is looked up in and stored to
    * the plan cache (so L1 and L2); any other is planned on every call.
    */
  def serve(query: String, nowNs: Long = System.currentTimeMillis() * 1000000L,
            tenant: Option[String] = None, asOf: Option[Long] = None): Served = {
    val st = asOf.fold(catalog.state)(catalog.stateAt)
    val (text, (range, preds)) = textOf(query, st, nowNs)
    val basePaths = pruneIn(st, range, preds)
    val paths = tenant.fold(basePaths)(t =>
      basePaths.filter(p => ChunkCatalog.tenantOf(catalog.root, p) == t))
    val split = catalog.hasActiveSplit
    // rollup identity is part of the cache key: (de)registering a rollup must
    // never serve a stale cached plan built against the other source
    val rollups = if (!split && tenant.isEmpty && asOf.isEmpty) catalog.rollups else Nil
    val key = (query, paths ++ rollups.map("rollup:" + _.path), split)
    def served(df: DataFrame, mode: String, route: Route = Raw,
               rows: Option[Array[Row]] = None) = Served(df, rows, mode, route, paths)
    val reuse = text.timeFixed
    var toLocalize: DataFrame = null
    if (reuse) planCache.synchronized {
      val hit = planCache.get(key)
      if (hit != null) {
        Telemetry.cacheHits.increment()
        hit match {
          // first repeat of a raw result → localize it (outside the lock)
          case Planned(df, Raw, false) if resultCacheEnabled => toLocalize = df
          // localized hit: hand back the stored rows so sqlRows() serves them
          // with ZERO plan execution (the reference's L1-serves-bytes shape)
          case Localized(df, rows) => return served(df, "l1", rows = Some(rows))
          case _ => return served(hit.df, "l1", hit.route)
        }
      }
    }
    if (toLocalize != null) {
      val (df, rows) = localizeHit(key, toLocalize)
      return served(df, "l1", rows = rows)
    }
    Telemetry.cacheMisses.increment()
    // L1 miss → probe the L2 disk tier before recomputing (only localized raw
    // results ever demote)
    if (reuse) promoteFromL2(key).foreach(l => return served(l.df, "l2", rows = Some(l.rows)))
    // Reuse the cached PARSED tree — the ANTLR parse is paid once per text —
    // bound to THIS query's path set; ofRows analyzes it eagerly.
    val raw = GraftBridge.ofRows(spark, withMetrics(text.plan, relationOf(st, paths)))
    // Resolution-based rollup routing (graft.plans.RollupRouting): a bucketed
    // aggregate the registered rollup can answer EXACTLY reads the rollup
    // table instead of raw chunks. Never during an active split (the rollup
    // predates the split's dedup semantics); a failed match routes to raw.
    val rollupPlan: Option[DataFrame] =
      if (rollups.isEmpty) None
      else
        try graft.plans.RollupRouting.route(spark, rollups,
          raw.queryExecution.analyzed, paths)
        catch { case scala.util.control.NonFatal(_) => None }
    rollupPlan.foreach(_ => Telemetry.rollupRouted.increment())
    // Two-phase top-k rewrite (graft.plans.TopKRouting): the naive
    // row_number-filter window shape over the bound `metrics` scan re-plans as
    // Operators.topKPerGroup — same rows, parallelism no longer bounded by
    // the group count. Skipped during an active split (the raw path applies
    // split dedup); a failed match routes to raw.
    val routed: Option[(DataFrame, Route)] = rollupPlan.map(r => (r, Rollup)).orElse {
      if (split) None
      else
        try graft.plans.TopKRouting.route(spark, raw.queryExecution.analyzed, paths)
          .map(r => (r, TopK))
        catch { case scala.util.control.NonFatal(_) => None }
    }
    val (df, route) = routed.getOrElse {
      try adaptiveStats.recordFromPlan(raw.queryExecution.analyzed)
      catch { case scala.util.control.NonFatal(_) => () } // advisory, never fail a query
      // Split-dedup only applies when the result still carries the dedup key
      // columns; aggregated results pass through untouched, mirroring the
      // reference's dedup_batches which skips batches lacking the key columns
      // (src/query/dedup.rs:35-43). Without this guard every GROUP BY query
      // would throw AnalysisException during an active split.
      val dedupCols = MetricSchema.TimestampCol :: MetricSchema.MetricNameCol :: Nil
      if (split && dedupCols.forall(raw.schema.fieldNames.contains))
        (raw.dropDuplicates(dedupCols), Raw)
      else (raw, Raw)
    }
    if (reuse)
      planCache.synchronized { planCache.put(key, Planned(df, route)) }
    served(df, "computed", route)
  }

  /** True if the L1 tier holds rows of the given query, i.e. a repeat
    * localized them (observability for tests/telemetry).
    */
  def isResultCached(query: String): Boolean = planCache.synchronized {
    planCache.asScala.exists { case (k, e) => k._1 == query && e.isInstanceOf[Localized] }
  }

  /** Probe/test hook: evict a query's L1 entries through the normal dropEntry
    * path (localized entries demote to L2 when the tier is enabled). Lets
    * the bench measure the L2-hit latency deterministically — production code
    * never needs this; eviction is LRU by entry count.
    */
  private[graft] def evictL1(query: String): Unit = planCache.synchronized {
    val it = planCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == query) { dropEntry(e.getKey, e.getValue); it.remove() }
    }
  }

  /** A repeated warm hit gets served the way the reference's L1 serves cached
    * BYTES (README.md:280-283, ~10 ms): the first repeat collects the result
    * once into a driver-local LocalRelation, so every further repeat skips
    * plan execution ([[sqlRows]] hands back the stored rows). A result with
    * more than this many rows stays plan-only. Not a serving option: tests
    * move it to put a result on either side.
    */
  @volatile private[graft] var maxLocalRows: Int = 20000

  /** Guarded collect for localization: a benign execution failure (e.g. a
    * SparkException from a lost block) leaves the entry plan-only (null ⇒
    * don't localize), but NonFatal ONLY — an OOM/JVM error must propagate,
    * not silently become a cache-policy decision. Package-private so the
    * spec can exercise the discipline.
    */
  private[graft] def collectForLocalize(
      thunk: () => Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] =
    try thunk() catch { case scala.util.control.NonFatal(_) => null }

  /** The collect runs OUTSIDE the cache lock — concurrent hits at worst
    * localize twice; at most `maxLocalRows` + 1 rows reach the driver.
    * Returns the frame to serve and, when the entry is now localized, its rows.
    */
  private def localizeHit(key: Key, df: DataFrame): (DataFrame, Option[Array[Row]]) = {
    val rows = collectForLocalize(() => df.limit(maxLocalRows + 1).collect())
    planCache.synchronized {
      planCache.get(key) match {
        case p: Planned if (p.df eq df) && !p.localizeTried =>
          if (rows == null || rows.length > maxLocalRows) {
            // even on failure/oversize: don't re-collect every hit
            planCache.put(key, p.copy(localizeTried = true))
            (df, None)
          } else {
            val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            planCache.put(key, Localized(local, rows))
            (local, Some(rows))
          }
        case Localized(local, stored) => (local, Some(stored)) // another hit got there first
        case null => (df, None) // evicted meanwhile
        case other => (other.df, None)
      }
    }
  }

  /** The zero-row-work warm serve (r11, VERDICT #3): deliver a query's RESULT
    * ROWS, serving a localized L1 repeat (and an L2 promote) straight from
    * the stored driver-side array — no Catalyst execution, no LocalRelation
    * scan job, no per-row copying; the moral equivalent of the reference's
    * moka L1 handing back cached bytes. The repeat that localizes an entry
    * returns the rows it stored too. Every other serve shape (first
    * sighting, plan-only repeat, recompute) collects the frame.
    *
    * CONTRACT — the returned array is SHARED, not a copy: a localized hit
    * hands back the cache's own internal Array[Row] (EngineSpec pins
    * reference equality across repeats). Callers MUST treat it as
    * immutable — mutating or reordering it in place poisons the cached
    * entry for every later serve of the same key. A caller that needs to
    * own the array clones it.
    */
  def sqlRows(query: String,
              nowNs: Long = System.currentTimeMillis() * 1000000L): Array[Row] = {
    val s = serve(query, nowNs)
    s.rows.getOrElse(s.df.collect())
  }

  /** Step 1: the time range + column predicates [[serve]] prunes `query`
    * with at `nowNs` over the live catalog, so `prune(analyze(q, n))` is the
    * path set `serve(q, n)` reads. Memoized with the text like a serve's.
    */
  def analyze(query: String, nowNs: Long): (TimeRange, Seq[ColumnPredicate]) =
    textOf(query, catalog.state, nowNs)._2

  /** Step 2: catalog prune — time index then zone maps. */
  def prune(range: TimeRange, preds: Seq[ColumnPredicate]): Seq[String] =
    pruneIn(catalog.state, range, preds)

  /** [[prune]] over a given catalog state: the live one, or a retained
    * version for [[serve]]'s `asOf`. Every read of the engine selects its chunks here.
    */
  private def pruneIn(st: ChunkCatalog.CatalogState, range: TimeRange,
                      preds: Seq[ColumnPredicate]): Seq[String] =
    ChunkCatalog.chunksInRangeOf(st, range.startNs, range.endNs)
      .filter(c => preds.forall(_.keepChunk(c)))
      .map(_.path)

  /** The last (path set → relation) pair [[relationOf]] built. */
  private val lastRelation =
    new java.util.concurrent.atomic.AtomicReference[(Seq[String], LogicalPlan)]()

  /** Step 3: the `metrics` relation over exactly the pruned chunk set (paths
    * of `st`, read through [[ChunkCatalog.readChunks]]), as an analyzed plan a query binds on its own ([[withMetrics]]); the last one
    * built is reused while the path set repeats (engine.rs:133-187).
    *
    * One-task rule: when the chunks' summed `sizeBytes` is at most [[oneTaskMaxBytes]], the relation is the scan
    * coalesced to one partition. The plan then reports SinglePartition, so
    * neither an aggregate nor an ORDER BY needs an exchange: a dashboard-sized
    * read is one job, one stage, one task instead of a shuffle stage, a
    * range-sampling job, a range shuffle and a result stage. Filters and
    * column pruning still reach the Parquet scan (Repartition is
    * push-through). Larger pruned sets keep the partitioned scan: past the
    * measured cut-off ([[QueryEngine.OneTaskMaxBytes]]) one task decoding
    * the whole set is slower than the exchanges it saves.
    */
  private def relationOf(st: ChunkCatalog.CatalogState, paths: Seq[String]): LogicalPlan = {
    val last = lastRelation.get()
    if (last != null && last._1 == paths) return last._2
    val metas = paths.map(st.chunks)
    val scan = ChunkCatalog.readChunks(spark, metas)
    val rel = (if (paths.nonEmpty && metas.iterator.map(_.sizeBytes).sum <= oneTaskMaxBytes)
        scan.coalesce(1) else scan)
      .queryExecution.analyzed
    lastRelation.set((paths, rel))
    rel
  }

  /** The last (catalog version → stand-in) pair [[standIn]] built. */
  private val lastStandIn = new java.util.concurrent.atomic.AtomicReference[(Long, LogicalRDD)]()

  /** The schema-only `metrics` that extraction binds: an empty scan with the
    * union schema of every chunk `st` holds, so a query over any pruned set
    * resolves against it, and no chunk is listed or read. Without a
    * catalog-held union schema (a chunk registered without one) the columns
    * are inferred from every chunk's footer, once per catalog version; if
    * that fails (conflicting types) the stand-in has the default schema.
    * One per catalog version; [[labels]] and the label endpoints read its
    * schema too.
    */
  private def standIn(st: ChunkCatalog.CatalogState): LogicalRDD = {
    val last = lastStandIn.get()
    if (last != null && last._1 == st.version) return last._2
    val metas = st.chunks.values.toSeq.sortBy(_.path)
    val schema =
      try ChunkCatalog.readChunks(spark, metas).schema
      catch { case scala.util.control.NonFatal(_) => MetricSchema.default }
    val leaf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .queryExecution.analyzed.asInstanceOf[LogicalRDD]
    lastStandIn.set((st.version, leaf))
    leaf
  }

  /** Bind every `metrics` reference of a parsed statement — in subqueries and
    * in the CTE bodies of a WITH too, which PromQL emits — to `rel`. Each
    * query resolves against its own relation, so no lock orders planning and
    * a `metrics` view other code registers on the session is never read.
    */
  private def withMetrics(plan: LogicalPlan, rel: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          u.multipartIdentifier.head.equalsIgnoreCase("metrics") =>
        SubqueryAlias("metrics", rel)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { r =>
          r.copy(_2 = r._2.copy(child = withMetrics(r._2.child, rel)))
        })
    }

  /** information_schema-equivalent label discovery
    * (reference src/api/query/prometheus_api.rs:289-291): all string columns of the
    * `metrics` relation over every chunk minus internal columns, plus `__name__`.
    */
  def labels(): Seq[String] = {
    val cols = standIn(catalog.state).schema.fieldNames.toSeq
    ("__name__" +: cols.filterNot(MetricSchema.internalColumns.contains)).distinct.sorted
  }

  /** `/api/v1/label/<name>/values`, optionally matcher- and time-filtered
    * (reference prometheus_api.rs:330-470 filters values by `match[]` and
    * start/end). Reads [[matchedRows]], so a time bound or an equality
    * matcher prunes chunks in the catalog like any query, and a small window
    * runs as one task.
    */
  def labelValues(label: String,
                  matchers: Seq[graft.promql.LabelMatcher] = Nil,
                  startNs: Option[Long] = None,
                  endNs: Option[Long] = None): DataFrame = {
    require(graft.promql.PromQL.isValidIdentifier(label),
      s"invalid label identifier: $label")
    val c = if (label == "__name__") MetricSchema.MetricNameCol else label
    matchedRows(matchers, startNs, endNs)
      .select(col(c)).where(col(c).isNotNull).distinct()
  }

  /** `/api/v1/series`: DISTINCT over (metric_name + every label column), optionally
    * matcher-filtered (reference prometheus_api.rs:503-649). Reads
    * [[matchedRows]], so equality matchers prune chunks in the catalog.
    */
  def series(matchers: Seq[graft.promql.LabelMatcher] = Nil): DataFrame = {
    val rows = matchedRows(matchers, None, None)
    val cols = MetricSchema.MetricNameCol +:
      rows.schema.fieldNames.toSeq.filterNot(MetricSchema.internalColumns.contains)
    rows.select(cols.map(col): _*).distinct()
  }

  /** The `metrics` rows in `[startNs, endNs]` (a missing side unbounded) that
    * match every matcher. Chunks come from [[prune]] over that range and the
    * zone-map predicates the matchers' SQL conditions extract to, as a
    * Filter over the stand-in like a query's, bound as in [[relationOf]].
    * The columns are the stand-in's union schema, in its order: a label
    * that no selected chunk carries reads as NULL, as it does over all
    * chunks, so it gives no label values and `!~` keeps the row.
    */
  private def matchedRows(matchers: Seq[graft.promql.LabelMatcher],
                          startNs: Option[Long], endNs: Option[Long]): DataFrame = {
    val conds = matchers.map(m =>
      spark.sessionState.sqlParser.parseExpression(graft.promql.PromQL.matcherToSql(m)))
    val st = catalog.state
    // the range comes from startNs/endNs; extraction's own range is ignored
    val preds = conds.reduceOption(And).fold(Seq.empty[ColumnPredicate])(c =>
      PredicateExtraction.extract(textFor(Filter(c, standIn(st)), st).scans, 0L)._2)
    val range = TimeRange(startNs.getOrElse(Long.MinValue), endNs.getOrElse(Long.MaxValue))
    val pruned = GraftBridge.ofRows(spark, relationOf(st, pruneIn(st, range, preds)))
    val all = standIn(st).schema
    val rows = pruned.select(all.fields.toSeq.map(f =>
      if (pruned.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
    val ts = col(MetricSchema.TimestampNsCol)
    (startNs.map(ts >= _) ++ endNs.map(ts <= _) ++ conds.map(GraftBridge.column))
      .foldLeft(rows)(_ where _)
  }
}

object QueryEngine {

  /** Default [[QueryEngine.oneTaskMaxBytes]]: 1 MiB, below the largest
    * selected set measured to win. `graft.OneTaskProbe` (4 vCPU, cold
    * dashboard reads selecting 2 chunks, 40-48 interleaved pairs per size)
    * gave one-task vs partitioned medians of 273 vs 349 ms at 0.8 MB (won
    * 45/48), 291 vs 343 ms at 1.2 MB (36/48), 291 vs 325 ms at 1.3 MB
    * (42/48), a tie near 2 MB (30/48, 21/40, 38/48), then losses: 574 vs
    * 469 ms at 4.4 MB (9/40) and 805 vs 584 ms at 9 MB (0/40). One core
    * decoding the whole set stops paying for the exchanges it saves.
    */
  val OneTaskMaxBytes: Long = 1L << 20

  /** Reference QueryNode defaults: 100 concurrent queries, 300 s statement
    * timeout (src/query/mod.rs:50-60). The L1 tier is bounded by entry count
    * (100) and rows per localized result (`maxLocalRows`), not bytes: it holds
    * no executor storage.
    *
    * `l2CacheDir = Some(dir)` enables the L2 disk result-cache tier (the
    * reference's foyer NVMe layer, cached_store.rs:49-181) rooted at `dir`;
    * `maxL2CacheBytes` bounds its on-disk footprint (foyer's fixed-capacity
    * disk cache). An entry is one `l2-<id>.bin` file, deleted as soon as it
    * is evicted: no tier keeps anything by age, since only time-fixed texts
    * are cached and a key alone says whether its entry is valid.
    */
  final case class QueryLimits(maxConcurrent: Int = 100, timeoutMs: Long = 300000L,
                               l2CacheDir: Option[String] = None,
                               maxL2CacheBytes: Long = 256L << 20)

  /** Plan-cache key: (query text, pruned paths + rollup ids, split active). */
  private type Key = (String, Seq[String], Boolean)

  /** Which plan answers a query: the raw chunks, a registered rollup
    * (graft.plans.RollupRouting) or the two-phase top-k rewrite
    * (graft.plans.TopKRouting). A plan-only entry keeps its route, so a hit
    * reports it truthfully.
    */
  sealed trait Route
  case object Raw extends Route
  case object Rollup extends Route
  case object TopK extends Route

  /** How one [[QueryEngine.serve]] call answered its query.
    *  - `df`: the answer.
    *  - `rows`: the stored result rows when a localized L1 entry, the repeat
    *    that localized it, or an L2 promote answered; shared with the cache,
    *    so read-only.
    *  - `mode`: "computed" (this call planned the query: a first sighting,
    *    also after a maintenance rewrite changed the pruned-path-set key, or
    *    any call of a text that is not time-fixed), "l1" (plan or result
    *    cache hit) or "l2" (disk-tier promote).
    *  - `route`: which plan answers.
    *  - `paths`: the chunk paths the catalog prune selected.
    */
  final case class Served(df: DataFrame, rows: Option[Array[Row]], mode: String,
                          route: Route, paths: Seq[String])

  /** One text-cache entry: the parse, each scan's conjuncts in the
    * optimized stand-in plan, and whether the analyzed plan calls a clock.
    * [[QueryEngine.isTimeFixed]] is `timeFixed`.
    */
  private final case class Text(plan: LogicalPlan, scans: Seq[Seq[Expression]],
                                callsClock: Boolean) {
    val timeFixed: Boolean = !callsClock && !PredicateExtraction.readsDefaultWindow(scans)
  }

  /** The one plan-cache value per key. */
  private sealed trait Entry {
    def df: DataFrame
    def route: Route = Raw
  }

  /** Plan only: analysis is skipped on re-run, nothing is materialized;
    * `localizeTried` once a repeat hit tried to collect it.
    */
  private final case class Planned(df: DataFrame, override val route: Route,
                                   localizeTried: Boolean = false) extends Entry

  /** Result collected to the driver: `df` scans `rows`, which [[sqlRows]]
    * hands back directly.
    */
  private final case class Localized(df: DataFrame, rows: Array[Row]) extends Entry

  final class QueryTimeoutException(timeoutMs: Long, cause: Throwable)
    extends RuntimeException(s"query exceeded ${timeoutMs} ms timeout and was cancelled", cause)

  /** Interactive serving profile: the engine on its OWN child session (shared
    * SparkContext + cached blocks, isolated SQL conf and temp-view catalog)
    * with whole-stage codegen disabled. For the pruned-window dashboard shape
    * — a few hundred rows out of a metadata-pruned chunk set — the janino
    * compile of a fresh plan (~150-300 ms, literals are inlined so every new
    * time window recompiles) costs more than interpreting the whole query;
    * the reference's DataFusion executes vectorized kernels with no per-query
    * compile at all, and this profile is the Spark analog. Vectorized parquet
    * reading is unaffected. Batch/throughput work should keep the default
    * codegen profile (a plain `new QueryEngine(spark, catalog)`).
    */
  def interactive(spark: org.apache.spark.sql.SparkSession,
                  catalog: graft.catalog.ChunkCatalog,
                  limits: QueryLimits = QueryLimits()): QueryEngine = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    new QueryEngine(s, catalog, limits)
  }

  /** Shared daemon scheduler firing query-timeout cancellations. */
  private val watchdog: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-watchdog")
      t.setDaemon(true)
      t
    })
}
