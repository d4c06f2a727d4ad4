package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.prune.TimeRange
import java.nio.file.Files

/** End-to-end engine slice (SURVEY.md §7.2): ingest points → hour chunks → catalog
  * prune → spark.sql, with provable chunk skipping and the reference's semantic
  * rules (1-hour default window, split-time dedup, empty-store behavior).
  */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z

  /** 3 hours × 2 metrics × 2 hosts, 1 point/10min → 36 points/hour-chunk. */
  private def freshEngine(): (QueryEngine, ChunkCatalog) = {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_eng_"), cacheTtlMs = 0L)
    val points = for {
      h <- 0 until 3
      m <- Seq("cpu_usage", "mem_usage")
      host <- Seq("server1", "server2")
      i <- 0 until 6
    } yield MetricPoint(t0 + h * hourNs + i * 600L * 1000000000L,
      m, (i % 100) / 100.0 + h, Map("host" -> host))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, points))
    (new QueryEngine(spark, cat), cat)
  }

  test("ingest produces one chunk per hour with ns-faithful stats") {
    val (_, cat) = freshEngine()
    val chunks = cat.allChunks
    assert(chunks.size == 3)
    assert(chunks.map(_.rowCount).sum == 72)
    val c0 = chunks.minBy(_.minTimestampNs)
    assert(c0.minTimestampNs == t0)
    assert(c0.maxTimestampNs == t0 + 5 * 600L * 1000000000L)
    assert(c0.columnStats("metric_name").minString.contains("cpu_usage"))
    assert(c0.columnStats("host").maxString.contains("server2"))
  }

  test("time-range pruning provably skips out-of-range chunks") {
    val (eng, cat) = freshEngine()
    // hour 1 only
    val paths = eng.prune(TimeRange(t0 + hourNs, t0 + 2 * hourNs - 1), Nil)
    assert(paths.size == 1)
    assert(cat.allChunks.size == 3)
  }

  test("zone-map pruning on label predicates") {
    val (eng, _) = freshEngine()
    val all = eng.prune(TimeRange(t0, t0 + 3 * hourNs), Nil)
    assert(all.size == 3)
    val none = eng.prune(TimeRange(t0, t0 + 3 * hourNs),
      Seq(graft.prune.ColumnPredicate.Eq("metric_name", graft.prune.PValue.S("zzz_metric"))))
    assert(none.isEmpty)
  }

  test("sql end-to-end: extraction + prune + execute") {
    val (eng, _) = freshEngine()
    val df = eng.sql(
      s"""SELECT metric_name, COUNT(*) AS cnt, MIN(value_f64) AS min_v
         |FROM metrics
         |WHERE timestamp_ns >= ${t0 + hourNs} AND timestamp_ns < ${t0 + 2 * hourNs}
         |GROUP BY metric_name ORDER BY metric_name""".stripMargin)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("cpu_usage", "mem_usage"))
    assert(rows.forall(_.getLong(1) == 12L)) // 2 hosts × 6 points
    assert(rows.forall(_.getDouble(2) == 1.0)) // hour offset 1 + 0/100
  }

  test("default 1-hour window when no time predicate (engine.rs:378-385)") {
    val (eng, _) = freshEngine()
    // "now" = t0+2h → default window [t0+1h, t0+2h] picks hours 1 and 2 chunks
    val (range, _) = eng.analyze("SELECT COUNT(*) FROM metrics", t0 + 2 * hourNs)
    assert(range == TimeRange(t0 + hourNs, t0 + 2 * hourNs))
    val df = eng.sql("SELECT COUNT(*) AS cnt FROM metrics", nowNs = t0 + 2 * hourNs)
    // pruning selects chunks overlapping the window; the SQL itself has no time
    // filter, so all rows of the selected chunks count
    assert(df.collect()(0).getLong(0) == 48L)
  }

  test("empty store: metrics resolvable, 0 rows, default schema (engine.rs:189-205)") {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_empty_"), cacheTtlMs = 0L)
    val eng = new QueryEngine(spark, cat)
    val df = eng.sql("SELECT COUNT(*) AS c, MIN(timestamp) AS mn, MAX(timestamp) AS mx FROM metrics")
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("active split triggers first-wins dedup on (timestamp, metric_name) only") {
    val (eng, cat) = freshEngine()
    // duplicate the same logical points under a second shard write
    val dupPoints = Seq(
      MetricPoint(t0, "cpu_usage", 999.0, Map("host" -> "serverX")))
    new ChunkWriter(cat, tenant = "default").write(Converters.pointsToDf(spark, dupPoints))
    cat.setActiveSplits(Seq("shard-1"))
    cat.invalidateCache()
    val df = eng.sql(
      s"""SELECT timestamp, metric_name, value_f64 FROM metrics
         |WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 1} AND metric_name = 'cpu_usage'
         |""".stripMargin)
    // 2 hosts + 1 dup row share (t0, cpu_usage) → exactly 1 survives
    assert(df.collect().length == 1)
  }

  test("aggregation query during an active split passes through (no dedup-key columns)") {
    val (eng, cat) = freshEngine()
    cat.setActiveSplits(Seq("shard-1"))
    cat.invalidateCache()
    // result lacks (timestamp, metric_name) → dedup must be skipped, not throw
    // (reference dedup_batches passes batches through when key columns are
    // absent, src/query/dedup.rs:35-43)
    val df = eng.sql(
      s"""SELECT metric_name, COUNT(*) AS cnt FROM metrics
         |WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}
         |GROUP BY metric_name""".stripMargin)
    assert(df.collect().map(_.getLong(1)).sum == 24L)
    // fully-aggregated result (no metric_name either) also passes through
    val df2 = eng.sql(
      s"""SELECT COUNT(*) AS cnt FROM metrics
         |WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}""".stripMargin)
    assert(df2.collect()(0).getLong(0) == 24L)
  }

  test("labels discovery mirrors information_schema behavior") {
    val (eng, _) = freshEngine()
    assert(eng.labels() == Seq("__name__", "host"))
    val vals = eng.labelValues("host").collect().map(_.getString(0)).sorted.toSeq
    assert(vals == Seq("server1", "server2"))
  }

  test("filtered label values: matchers and time bounds narrow values AND prune the scan") {
    // host is hour-distinct here (serverH in hour H) so filters change results
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_eng_lv_"), cacheTtlMs = 0L)
    val points = for {
      h <- 0 until 3
      m <- Seq("cpu_usage", "mem_usage")
      i <- 0 until 6
    } yield MetricPoint(t0 + h * hourNs + i * 600L * 1000000000L,
      m, i / 10.0 + h, Map("host" -> s"server$h"))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, points))
    val eng = new QueryEngine(spark, cat)

    // distinct adds an exchange → AQE wraps the plan and hides the scan
    // inside query stages; descend through both wrapper kinds
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      allScans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    }

    // time-bounded: only hour 1's host, and only hour 1's chunk scanned
    val hour1 = eng.labelValues("host",
      startNs = Some(t0 + hourNs), endNs = Some(t0 + 2 * hourNs - 1))
    assert(hour1.collect().map(_.getString(0)).toSeq == Seq("server1"))
    val nBounded = scannedFiles(hour1)
    val nAll = scannedFiles(eng.labelValues("host",
      startNs = Some(Long.MinValue), endNs = Some(Long.MaxValue)))
    assert(nBounded < nAll, "time-bounded label values must prune chunks at planning")

    // matcher-filtered: __name__ selector applies; zone maps can't split the
    // two metrics (same chunk) but value filtering must still apply
    val matched = eng.labelValues("host",
      matchers = graft.promql.PromQL.parseMatchers("""{__name__="cpu_usage"}"""))
    assert(matched.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("server0", "server1", "server2"))
    val none = eng.labelValues("host",
      matchers = graft.promql.PromQL.parseMatchers("""{__name__="no_such_metric"}"""))
    assert(none.collect().isEmpty)
    // matcher + bound compose
    val both = eng.labelValues("host",
      matchers = graft.promql.PromQL.parseMatchers("""{__name__="cpu_usage"}"""),
      startNs = Some(t0 + 2 * hourNs), endNs = None)
    assert(both.collect().map(_.getString(0)).toSeq == Seq("server2"))
    // injection guard carries over
    intercept[IllegalArgumentException](eng.labelValues("host; DROP TABLE metrics"))
  }

  test("foldable time expressions prune via the optimized plan (now()-interval path)") {
    val (eng, _) = freshEngine()
    // arithmetic bound: parse-only extraction can't see it; the optimizer folds it
    val df = eng.sql(
      s"""SELECT COUNT(*) AS cnt FROM metrics
         |WHERE timestamp_ns >= ${t0} + ${hourNs} AND timestamp_ns < ${t0} + 2 * ${hourNs}
         |""".stripMargin, nowNs = t0 + 100 * hourNs)
    assert(df.collect()(0).getLong(0) == 24L)
    assert(eng.lastPrunedPaths.size == 1) // only the hour-1 chunk survives pruning
    // now()-based query: prunes to nothing against 2024 data, returns 0 rows cleanly
    val df2 = eng.sql(
      "SELECT COUNT(*) AS cnt FROM metrics WHERE timestamp > now() - INTERVAL '5' MINUTE")
    assert(df2.collect()(0).getLong(0) == 0L)
    assert(eng.lastPrunedPaths.isEmpty)
  }

  test("repeat of a result-cached foldable query keeps its pruned set (no InMemoryRelation poisoning)") {
    val (eng, _) = freshEngine()
    // arithmetic bound → parse-only extraction can't memoize → RE-extracted
    // per call through the optimizer. The first call persists its small
    // result; the repeat's re-extraction must not see the cached
    // InMemoryRelation (whose plan has no Filter) or it collapses to the
    // default window and prunes everything away.
    val q = s"SELECT COUNT(*) AS cnt FROM metrics " +
      s"WHERE timestamp_ns >= $t0 + $hourNs AND timestamp_ns < $t0 + 2 * $hourNs"
    assert(eng.sql(q).collect()(0).getLong(0) == 24L)
    assert(eng.lastPrunedPaths.size == 1)
    assert(eng.sql(q).collect()(0).getLong(0) == 24L, "repeat must return the same rows")
    assert(eng.lastPrunedPaths.size == 1,
      "repeat must re-prune to the same chunk, not the default window")
  }

  test("schema drift across chunks: label-set union, null-fill, NULL-keeping !~") {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_drift_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    // batch 1 has {host}, batch 2 has {zone} — mirrors per-payload dynamic schemas
    // (otlp.rs:249-295) with schema-homogeneous chunks (ingester/mod.rs:585-630)
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0, "cpu", 1.0, Map("host" -> "a")))))
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + hourNs, "cpu", 2.0, Map("zone" -> "z1")))))
    val eng = new QueryEngine(spark, cat)
    val all = eng.sql(
      s"""SELECT host, zone, value_f64 FROM metrics
         |WHERE timestamp_ns >= $t0 AND timestamp_ns <= ${t0 + 2 * hourNs}
         |ORDER BY timestamp_ns""".stripMargin).collect()
    assert(all.length == 2)
    assert(all(0).getString(0) == "a" && all(0).isNullAt(1))
    assert(all(1).isNullAt(0) && all(1).getString(1) == "z1")
    // `!~` keeps the NULL-host row (reference regexp_match IS NULL semantics)
    val sql = graft.promql.PromQL.transpileInstant("""cpu{host!~"a.*"}""")
      .replace("ORDER BY timestamp_ns DESC LIMIT 1", "") // look at all rows
    val kept = eng.sql(
      s"SELECT value_f64 FROM metrics WHERE timestamp_ns >= $t0 AND timestamp_ns <= ${t0 + 2 * hourNs} " +
        s"AND " + graft.promql.PromQL.matcherToSql(graft.promql.LabelMatcher("host", "!~", "a.*")))
      .collect()
    assert(kept.map(_.getDouble(0)).toSeq == Seq(2.0))
  }

  test("empty batch write is a no-op") {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_empty2_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val metas = writer.write(Converters.pointsToDf(spark, Seq.empty))
    assert(metas.isEmpty)
    assert(cat.allChunks.isEmpty)
  }

  test("series endpoint: distinct label combinations, matcher-filtered") {
    val (eng, _) = freshEngine()
    assert(eng.series().count() == 4) // 2 metrics × 2 hosts
    val filtered = eng.series(Seq(graft.promql.LabelMatcher("host", "=", "server1")))
    assert(filtered.count() == 2)
  }

  test("interactive profile: identical results on an isolated child session") {
    val (defaultEng, cat) = freshEngine()
    val interactive = QueryEngine.interactive(spark, cat)
    val q = s"SELECT metric_name, COUNT(*) AS cnt FROM metrics " +
      s"WHERE timestamp_ns >= $t0 GROUP BY metric_name ORDER BY metric_name"
    val a = defaultEng.sql(q).collect().map(_.toSeq).toSeq
    val b = interactive.sql(q).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
    // conf isolation: the serving profile must not leak into the parent session
    assert(interactive.spark.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(spark.conf.get("spark.sql.codegen.wholeStage", "true") == "true")
    // session isolation: the serving profile runs on its own child session
    assert(interactive.spark ne spark)
  }

  test("result cache is byte-bounded: huge results are NOT persisted, small ones are") {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_rc_"), cacheTtlMs = 0L)
    val points = for {
      h <- 0 until 3; m <- Seq("cpu_usage", "mem_usage")
      host <- Seq("server1", "server2"); i <- 0 until 6
    } yield MetricPoint(t0 + h * hourNs + i * 600L * 1000000000L,
      m, (i % 100) / 100.0 + h, Map("host" -> host))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, points))
    val chunkBytes = cat.allChunks.map(_.sizeBytes).sum
    assert(chunkBytes > 4096, "test premise: warehouse bigger than the cache cap")
    // cap below the scan size: a full `SELECT *` (estimate ≈ file bytes) must
    // stream, not pin the whole scan; a global aggregate (estimate = 1 row) fits
    val eng = new QueryEngine(spark, cat,
      QueryEngine.QueryLimits(maxCachedResultBytes = 4096))
    val huge = s"SELECT * FROM metrics WHERE timestamp_ns >= $t0"
    val tiny = s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0"
    eng.sql(huge).count()
    eng.sql(tiny).count()
    assert(!eng.isResultCached(huge), "SELECT * over the full window must not be persisted")
    assert(eng.isResultCached(tiny), "dashboard-sized result must be persisted")
    // retained-bytes budget evicts LRU persisted entries (budget 1 byte → only
    // the most recent persisted result survives)
    val eng2 = new QueryEngine(spark, cat,
      QueryEngine.QueryLimits(maxCachedResultBytes = 4096, maxRetainedCacheBytes = 1L))
    val tiny2 = s"SELECT COUNT(*) AS c2 FROM metrics WHERE timestamp_ns >= $t0"
    eng2.sql(tiny).count()
    eng2.sql(tiny2).count()
    assert(!eng2.isResultCached(tiny), "older persisted entry must be evicted by the byte budget")
    assert(eng2.isResultCached(tiny2), "most recent entry survives the sweep")
  }

  test("r11 sqlRows: localized repeat serves the stored row array with ZERO " +
    "Spark jobs; results identical; invalidated by new data") {
    val (eng, cat) = freshEngine()
    val q = s"""SELECT metric_name, COUNT(*) AS cnt FROM metrics
               |WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}
               |GROUP BY metric_name ORDER BY metric_name""".stripMargin
    val want = eng.sql(q).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    eng.sql(q).collect() // repeat hit → localization
    assert(eng.sqlRows(q).map(r => (r.getString(0), r.getLong(1))).toSeq == want)
    // the fast path hands back the STORED array instance itself — reference
    // equality across repeats proves zero plan execution / zero row copying
    // (a collect() would allocate a fresh array every call)
    val got1 = eng.sqlRows(q)
    val got2 = eng.sqlRows(q)
    assert(got1.map(r => (r.getString(0), r.getLong(1))).toSeq == want)
    assert(eng.lastServeMode.get() == "l1")
    assert(got1 eq got2, "sqlRows must serve the stored row array, not re-collect")
    // new data changes the pruned-path key: sqlRows must NOT serve stale rows
    val pts = Seq(graft.ingest.MetricPoint(t0 + 100L, "cpu_usage", 9.0,
      Map("host" -> "server9")))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts))
    val fresh = eng.sqlRows(q).map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fresh.find(_._1 == "cpu_usage").get._2 == want.find(_._1 == "cpu_usage").get._2 + 1,
      s"sqlRows served stale rows after ingest: $fresh vs $want")
  }

  test("localization collect guard: benign failures fall back, fatal errors propagate") {
    val (eng, _) = freshEngine()
    // a SparkException (e.g. a lost cached block) → null ⇒ stay distributed
    assert(eng.collectForLocalize(() =>
      throw new org.apache.spark.SparkException("block lost")) == null)
    // a fatal JVM error must NOT be swallowed into a cache-policy decision
    intercept[OutOfMemoryError] {
      eng.collectForLocalize(() => throw new OutOfMemoryError("boom"))
    }
    // the success path passes rows through untouched
    assert(eng.collectForLocalize(() => Array.empty).length == 0)
  }

  test("concurrent queries with different pruned chunk sets never cross-contaminate") {
    // Regression: prune→register→spark.sql used to be non-atomic, so two
    // concurrent sql() calls could resolve the shared `metrics` view against
    // each other's registered path set — a query silently reading the WRONG
    // chunks. Each query now binds its own `metrics` relation, so planning
    // and execution both run concurrently with no lock.
    val (eng, _) = freshEngine()
    eng.resultCacheEnabled = false
    val iters = 25
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def worker(hour: Int): Thread = new Thread(() => {
      try {
        (0 until iters).foreach { i =>
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          val lo = t0 + hour * hourNs
          val hi = t0 + (hour + 1) * hourNs - 1
          // unique text per iteration so the plan cache never hides the race
          val q = s"SELECT COUNT(*) AS c FROM metrics " +
            s"WHERE timestamp_ns >= $lo AND timestamp_ns <= $hi LIMIT ${1000 + i}"
          val n = eng.execute(q)(df => df.collect()(0).getLong(0))
          if (n != 24L) errs.add(s"hour $hour iter $i: got $n rows (wrong chunk set)")
        }
      } catch { case e: Throwable => errs.add(s"hour $hour: $e") }
    })
    val ts = Seq(worker(0), worker(2))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toString)
  }

  test("time travel: sqlAt a retained version sees exactly the rows committed " +
    "by then; the live query sees everything; rollup routing stays off") {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_eng_tt_"),
      cacheTtlMs = 0L, manifestRetain = 8)
    val writer = new ChunkWriter(cat)
    def batch(h: Int, n: Int) = Converters.pointsToDf(spark, (0 until n).map(i =>
      MetricPoint(t0 + h * hourNs + i * 60L * 1000000000L, "cpu_usage",
        i.toDouble, Map("host" -> "s1"))))
    writer.write(batch(0, 10))
    val v1 = cat.state.version
    writer.write(batch(1, 7))
    val eng = new QueryEngine(spark, cat)
    val range = s"timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 3 * hourNs}"
    val live = eng.sql(s"SELECT count(*) AS c FROM metrics WHERE $range")
      .collect()(0).getLong(0)
    val asof = eng.sqlAt(v1, s"SELECT count(*) AS c FROM metrics WHERE $range")
      .collect()(0).getLong(0)
    assert(live == 17 && asof == 10, s"live=$live asof=$asof")
    // AS OF a version that never existed / was evicted → clean failure
    intercept[Exception](
      eng.sqlAt(99999L, s"SELECT count(*) FROM metrics WHERE $range").collect())
    // live query again (cache scoping didn't leak the historical path set)
    assert(eng.sql(s"SELECT count(*) AS c FROM metrics WHERE $range")
      .collect()(0).getLong(0) == 17)
  }

  private def hourCounts(h: Int): String =
    s"SELECT metric_name, COUNT(*) AS c FROM metrics WHERE timestamp_ns >= ${t0 + h * hourNs} " +
      s"AND timestamp_ns < ${t0 + (h + 1) * hourNs} GROUP BY metric_name ORDER BY metric_name"

  test("a persisted result stays cached after another query plans a different path set") {
    // Replacing a session temp view un-caches every cached plan built over the
    // old view, so re-registering `metrics` per path set silently dropped the
    // engine's persisted results while isResultCached still reported them.
    val (eng, _) = freshEngine()
    val q1 = eng.sql(hourCounts(0))
    val want = q1.collect().map(_.toSeq).toSeq
    assert(eng.isResultCached(hourCounts(0)) &&
      q1.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "premise: the first result is persisted")
    val paths0 = eng.lastPrunedPaths
    eng.sql(hourCounts(1)).collect()
    assert(eng.lastPrunedPaths != paths0, "premise: the second query selects other chunks")
    assert(q1.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "planning another path set must not un-cache a persisted result")
    assert(eng.isResultCached(hourCounts(0)))
    assert(eng.sql(hourCounts(0)).collect().map(_.toSeq).toSeq == want)
    assert(eng.lastServeMode.get() == "l1")
  }

  test("metrics inside a CTE body and an IN subquery binds to the pruned scan, " +
    "rows equal a spark.read.parquet reference") {
    val (eng, cat) = freshEngine()
    val range = s"timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 2 * hourNs}"
    val q =
      s"""WITH peak AS (SELECT host, MAX(value_f64) AS mx FROM metrics WHERE $range GROUP BY host)
         |SELECT m.metric_name, m.host, COUNT(*) AS cnt, MAX(peak.mx) AS mx
         |FROM metrics m JOIN peak ON m.host = peak.host
         |WHERE m.timestamp_ns >= $t0 AND m.timestamp_ns < ${t0 + 2 * hourNs} AND m.metric_name IN
         |  (SELECT metric_name FROM metrics WHERE $range AND metric_name LIKE 'cpu%')
         |GROUP BY m.metric_name, m.host ORDER BY m.metric_name, m.host""".stripMargin
    val got = eng.sql(q).collect().map(_.toSeq).toSeq
    assert(eng.lastPrunedPaths.size == 2, s"premise: prunes to 2 of 3 chunks: ${eng.lastPrunedPaths}")
    val ref = spark.newSession()
    ref.read.parquet(cat.allChunks.map(_.path): _*).createOrReplaceTempView("metrics")
    val want = ref.sql(q).collect().map(_.toSeq).toSeq
    assert(got == want && got.size == 2, s"$got vs $want")
  }

  test("a foreign `metrics` temp view on the engine's session leaves engine answers unchanged") {
    val (_, cat) = freshEngine()
    val eng = QueryEngine.interactive(spark, cat)
    val first = eng.sql(hourCounts(0))
    val want0 = first.collect().map(_.toSeq).toSeq
    val labels = eng.labels()
    eng.spark.range(1).selectExpr("'foreign' AS metric_name", "'server9' AS host",
      s"$t0 AS timestamp_ns", "999.0D AS value_f64").createOrReplaceTempView("metrics")
    // a new text plans after the foreign view exists; a repeat hits the cache
    val got1 = eng.sql(hourCounts(1)).collect().map(_.toSeq).toSeq
    assert(got1 == Seq(Seq("cpu_usage", 12L), Seq("mem_usage", 12L)), got1.toString)
    assert(first.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(eng.sql(hourCounts(0)).collect().map(_.toSeq).toSeq == want0)
    assert(eng.labels() == labels)
    assert(eng.labelValues("__name__").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("cpu_usage", "mem_usage"))
  }

  /** Run `q` through [[QueryEngine.execute]] and count, with a SparkListener
    * on the job group execute tags the call with, the jobs and tasks it ran.
    */
  private def jobsAndTasks[T](eng: QueryEngine, q: String)
                             (f: org.apache.spark.sql.DataFrame => T): (T, Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = eng.spark.sparkContext
    val jobsOf = new java.util.concurrent.ConcurrentHashMap[Int, (String, Seq[Int])]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasksOf = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsOf.put(js.jobId, (g, js.stageIds)))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { ended.add(je.jobId); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasksOf.merge(te.stageId, 1, (a, b) => a + b); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      var group: String = null
      val out = eng.execute(q) { df => group = sc.getLocalProperty("spark.jobGroup.id"); f(df) }
      import scala.jdk.CollectionConverters._
      def ours = jobsOf.asScala.filter(_._2._1 == group)
      // every event is posted before the action returns; wait for delivery
      val deadline = System.currentTimeMillis() + 30000L
      while ((ours.isEmpty || !ours.keys.forall(ended.contains)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      val tasks = ours.values.flatMap(_._2).map(st => Option(tasksOf.get(st)).fold(0)(_.toInt)).sum
      (out, ours.size, tasks)
    } finally sc.removeSparkListener(listener)
  }

  private val twoHourAgg =
    s"""SELECT metric_name, host, COUNT(*) AS cnt, MIN(value_f64) AS lo,
       |MAX(value_f64) AS hi FROM metrics
       |WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 2 * hourNs}
       |GROUP BY metric_name, host ORDER BY metric_name, host""".stripMargin

  /** The same aggregate over an unpruned, uncoalesced spark.read.parquet scan. */
  private def referenceRows(cat: ChunkCatalog): Seq[Seq[Any]] =
    spark.read.parquet(cat.allChunks.map(_.path): _*)
      .where(col("timestamp_ns") >= t0 && col("timestamp_ns") < t0 + 2 * hourNs)
      .groupBy("metric_name", "host")
      .agg(count(lit(1)).as("cnt"), min("value_f64").as("lo"), max("value_f64").as("hi"))
      .orderBy("metric_name", "host")
      .collect().map(_.toSeq).toSeq

  test("one-task reads: a small pruned set runs as one job of one task, rows " +
    "equal an uncoalesced reference") {
    val (eng, cat) = freshEngine()
    val (rows, jobs, tasks) = jobsAndTasks(eng, twoHourAgg)(_.collect().map(_.toSeq).toSeq)
    val selected = eng.lastPrunedPaths
    assert(selected.size == 2, s"premise: the window prunes to 2 of 3 chunks: $selected")
    val bytes = selected.flatMap(cat.state.chunks.get).map(_.sizeBytes).sum
    assert(bytes <= eng.oneTaskMaxBytes,
      s"premise: $bytes selected bytes are under the one-task cut-off")
    assert(jobs == 1 && tasks == 1, s"expected 1 job / 1 task, got $jobs / $tasks")
    assert(rows == referenceRows(cat) && rows.size == 4)
  }

  test("one-task reads: above the one-task cut-off the read keeps " +
    "its multi-task plan") {
    val (_, cat) = freshEngine()
    val selected = cat.chunksInRange(t0, t0 + 2 * hourNs - 1)
    val bytes = selected.map(_.sizeBytes).sum
    assert(selected.size == 2)
    val eng = new QueryEngine(spark, cat)
    eng.oneTaskMaxBytes = bytes - 1
    val (rows, jobs, tasks) = jobsAndTasks(eng, twoHourAgg)(_.collect().map(_.toSeq).toSeq)
    assert(tasks > 1, s"a set above the cut-off must stay partitioned: $jobs jobs / $tasks tasks")
    assert(rows == referenceRows(cat))
  }
}
