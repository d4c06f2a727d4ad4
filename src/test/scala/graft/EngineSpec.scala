package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.prune.TimeRange
import graft.util.ShmDirs

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
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_eng_"), cacheTtlMs = 0L)
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
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_empty_"), cacheTtlMs = 0L)
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
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_eng_lv_"), cacheTtlMs = 0L)
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
    // values and files scanned, both from the frame's FIRST action: a re-run
    // reports no files
    def scan(df: org.apache.spark.sql.DataFrame): (Seq[String], Long) = {
      val values = df.collect().map(_.getString(0)).sorted.toSeq
      (values, allScans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum)
    }

    // time-bounded: only hour 1's host, and only hour 1's chunk scanned
    val (hour1, nBounded) = scan(eng.labelValues("host",
      startNs = Some(t0 + hourNs), endNs = Some(t0 + 2 * hourNs - 1)))
    assert(hour1 == Seq("server1"))
    val (_, nAll) = scan(eng.labelValues("host",
      startNs = Some(Long.MinValue), endNs = Some(Long.MaxValue)))
    assert(nBounded * 3 == nAll && nAll > 0,
      s"time-bounded label values must scan 1 of 3 chunks: $nBounded of $nAll files")
    // an equality matcher prunes by zone map: server2 lives only in hour 2
    val (host2, nHost2) = scan(eng.labelValues("__name__",
      matchers = graft.promql.PromQL.parseMatchers("""{host="server2"}""")))
    assert(nHost2 * 3 == nAll, s"{host=\"server2\"} must scan 1 of 3 chunks")
    assert(host2 == Seq("cpu_usage", "mem_usage"))

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
    val served = eng.serve(
      s"""SELECT COUNT(*) AS cnt FROM metrics
         |WHERE timestamp_ns >= ${t0} + ${hourNs} AND timestamp_ns < ${t0} + 2 * ${hourNs}
         |""".stripMargin, nowNs = t0 + 100 * hourNs)
    assert(served.df.collect()(0).getLong(0) == 24L)
    assert(served.paths.size == 1) // only the hour-1 chunk survives pruning
    // now()-based query: prunes to nothing against 2024 data, returns 0 rows cleanly
    val served2 = eng.serve(
      "SELECT COUNT(*) AS cnt FROM metrics WHERE timestamp > now() - INTERVAL '5' MINUTE")
    assert(served2.df.collect()(0).getLong(0) == 0L)
    assert(served2.paths.isEmpty)
  }

  test("repeat of a result-cached foldable query keeps its pruned set (no InMemoryRelation poisoning)") {
    val (eng, _) = freshEngine()
    // arithmetic bound → folded by the optimizer over the stand-in, never
    // over a persisted plan. The repeat localizes the result; its pruned set
    // must still come from the folded bounds or it collapses to the default
    // window and prunes everything away.
    val q = s"SELECT COUNT(*) AS cnt FROM metrics " +
      s"WHERE timestamp_ns >= $t0 + $hourNs AND timestamp_ns < $t0 + 2 * $hourNs"
    val first = eng.serve(q)
    assert(first.df.collect()(0).getLong(0) == 24L)
    assert(first.paths.size == 1)
    val repeat = eng.serve(q)
    assert(repeat.df.collect()(0).getLong(0) == 24L, "repeat must return the same rows")
    assert(repeat.paths.size == 1,
      "repeat must re-prune to the same chunk, not the default window")
  }

  test("a now()-relative count is planned on every call and declines as time " +
    "passes, with the result cache on and off") {
    // one sample per second from 10 s ago to 2 min ahead: a count over the
    // last 10 s loses about one sample per second as the clock moves
    val nowNs = System.currentTimeMillis() * 1000000L
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_eng_now_"), cacheTtlMs = 0L)
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, (-10 until 120).map(i =>
      MetricPoint(nowNs + i * 1000000000L, "cpu_usage", 1.0, Map("host" -> "server1")))))
    val cached = new QueryEngine(spark, cat)
    val uncached = new QueryEngine(spark, cat)
    uncached.resultCacheEnabled = false
    val recent = "timestamp > now() - INTERVAL '10' SECOND"
    val queries = Seq(s"SELECT COUNT(*) AS c FROM metrics WHERE $recent",
      // literal bounds as well: the range memoizes, the clock call still decides
      s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= ${nowNs - hourNs} " +
        s"AND timestamp_ns < ${nowNs + hourNs} AND $recent")
    val cases = for (eng <- Seq(cached, uncached); q <- queries) yield (eng, q)
    val rounds = (0 until 4).map { i =>
      if (i > 0) Thread.sleep(2500L)
      cases.map { case (eng, q) =>
        val served = eng.serve(q)
        assert(served.mode == "computed", s"round $i served from ${served.mode}: $q")
        assert(!eng.isTimeFixed(q), s"round $i: classified time-fixed: $q")
        served.df.collect()(0).getLong(0)
      }
    }
    cases.indices.foreach { c =>
      val counts = rounds.map(_(c))
      assert(counts.zip(counts.tail).forall { case (x, y) => y < x },
        s"result cache ${cases(c)._1.resultCacheEnabled}: the count must decline " +
          s"on every repeat: $counts (${cases(c)._2})")
    }
  }

  test("time-fixed after one serve: literal bounds and no clock call; only " +
    "time-fixed texts are reused") {
    val (eng, cat) = freshEngine()
    val fixed = Seq(
      graft.promql.PromQL.transpileRange("sum by (host) (cpu_usage)", t0, t0 + 2 * hourNs, 600L),
      graft.promql.PromQL.transpileInstant("cpu_usage", Some(t0 + hourNs)),
      hourCounts(1),
      s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0", // lower bound only
      "SELECT COUNT(*) AS c FROM metrics WHERE timestamp >= TIMESTAMP '2024-01-01 01:00:00' " +
        "AND timestamp < TIMESTAMP '2024-01-01 02:00:00'",
      // literal arithmetic: folds to constants with no clock
      s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0 + $hourNs " +
        s"AND timestamp_ns < $t0 + 2 * $hourNs")
    val notFixed = Seq(
      "SELECT COUNT(*) AS c FROM metrics WHERE timestamp > now() - INTERVAL '5' MINUTE",
      "SELECT COUNT(*) AS c FROM metrics", // default window
      graft.promql.PromQL.transpileInstant("cpu_usage")) // no `time`
    (fixed ++ notFixed).foreach(q => assert(!eng.isTimeFixed(q), s"not served yet: $q"))
    (fixed ++ notFixed).foreach(eng.serve(_))
    fixed.foreach(q => assert(eng.isTimeFixed(q), s"must be time-fixed: $q"))
    notFixed.foreach(q => assert(!eng.isTimeFixed(q), s"must not be time-fixed: $q"))
    fixed.foreach(q => assert(eng.serve(q).mode == "l1", s"a time-fixed repeat must hit: $q"))
    // ORDER BY time_bucket leaves hosts tied: compare the rows in any order
    fixed.foreach(q => assert(eng.serve(q).df.collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
      SparkTestBase.referenceRows(cat, q).sortBy(_.toString), s"rows of a reused text: $q"))
    notFixed.foreach(q => assert(eng.serve(q).mode == "computed", s"must be planned again: $q"))
  }

  test("a text that reads metrics only inside WITH bodies takes its literal " +
    "window from them: time-fixed, reused, pruned to that window") {
    val (eng, _) = freshEngine()
    val (lo, hi) = (t0 + hourNs, t0 + 2 * hourNs - 1)
    // `x op x` chains read their one leaf through a CTE: every scan of
    // `metrics` sits in the WITH body
    val q = graft.promql.PromQL.transpileRange("cpu_usage * cpu_usage + cpu_usage", lo, hi, 600L)
    assert(q.startsWith("WITH __leaf0 AS ("), q)
    val first = eng.serve(q)
    assert(eng.isTimeFixed(q), "the CTE body's literal bounds make the text time-fixed")
    val repeat = eng.serve(q)
    assert(repeat.mode == "l1", s"a time-fixed repeat must hit, got ${repeat.mode}")
    val literal = eng.prune(TimeRange(lo, hi), Seq(graft.prune.ColumnPredicate.Eq(
      "metric_name", graft.prune.PValue.S("cpu_usage"))))
    assert(literal.size == 1)
    assert(first.paths == literal && repeat.paths == literal)
    assert(repeat.df.collect().toSeq == first.df.collect().toSeq)
  }

  test("a WITH body narrower than a bounded main scan leaves the main scan's prune " +
    "alone, rows equal a spark.read.parquet reference") {
    val (eng, cat) = freshEngine()
    val main = s"timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 2 * hourNs}"
    val qualified = s"m.timestamp_ns >= $t0 AND m.timestamp_ns < ${t0 + 2 * hourNs}"
    val hour1 = s"timestamp_ns >= ${t0 + hourNs} AND timestamp_ns < ${t0 + 2 * hourNs}"
    // a narrower CTE window, and a CTE label filter no chunk holds (LEFT JOIN
    // keeps every main row)
    val narrower = Seq(
      s"""WITH recent AS (SELECT host, MAX(value_f64) AS mx FROM metrics WHERE $hour1 GROUP BY host)
         |SELECT m.host, COUNT(*) AS cnt, MAX(recent.mx) AS mx
         |FROM metrics m JOIN recent ON m.host = recent.host
         |WHERE $main GROUP BY m.host ORDER BY m.host""".stripMargin,
      s"""WITH odd AS (SELECT host, MAX(value_f64) AS mx FROM metrics
         |  WHERE $hour1 AND host = 'server9' GROUP BY host)
         |SELECT m.host, COUNT(*) AS cnt, MAX(odd.mx) AS mx
         |FROM metrics m LEFT JOIN odd ON m.host = odd.host
         |WHERE $main GROUP BY m.host ORDER BY m.host""".stripMargin,
      // the main scan's bounds on a qualified column
      s"""WITH recent AS (SELECT host, MAX(value_f64) AS mx FROM metrics WHERE $hour1 GROUP BY host)
         |SELECT m.host, COUNT(*) AS cnt, MAX(recent.mx) AS mx
         |FROM metrics m JOIN recent ON m.host = recent.host
         |WHERE $qualified GROUP BY m.host ORDER BY m.host""".stripMargin)
    narrower.foreach { q =>
      val served = eng.serve(q)
      val got = served.df.collect().map(_.toSeq).toSeq
      assert(served.paths.size == 2, s"the main scan's two hours: ${served.paths}")
      val want = SparkTestBase.referenceRows(cat, q)
      assert(got == want && got.map(_(1)) == Seq(24L, 24L), s"$got vs $want")
    }
  }

  test("a time bound above a Window or a LIMIT bounds the scan below it; IS NOT NULL " +
    "alone reads every hour; rows equal a spark.read.parquet reference") {
    val (eng, cat) = freshEngine()
    val bound = s"timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 2 * hourNs}"
    val cases = Seq(
      s"""SELECT * FROM (SELECT host, metric_name, timestamp_ns, value_f64 -
         |  LAG(value_f64) OVER (PARTITION BY host, metric_name ORDER BY timestamp_ns) AS d
         |  FROM metrics) WHERE $bound ORDER BY host, metric_name, timestamp_ns""".stripMargin -> 2,
      s"""SELECT * FROM (SELECT host, metric_name, timestamp_ns, value_f64 FROM metrics
         |  ORDER BY timestamp_ns, host, metric_name LIMIT 5) WHERE $bound
         |ORDER BY timestamp_ns, host, metric_name""".stripMargin -> 2,
      "SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns IS NOT NULL" -> 3)
    cases.foreach { case (q, hours) =>
      val served = eng.serve(q)
      val got = served.df.collect().map(_.toSeq).toSeq
      assert(served.paths.size == hours, s"$q read ${served.paths}")
      val want = SparkTestBase.referenceRows(cat, q)
      assert(got.nonEmpty && got == want, s"$got vs $want")
    }
  }

  /** `click` and `view` (host h1) written in two batches of one hour: two
    * chunks, each holding one metric.
    */
  private def twoMetricEngine(): (QueryEngine, ChunkCatalog) = {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_eng_2m_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    Seq("click" -> 1.0, "view" -> 4.0).foreach { case (m, v) =>
      writer.write(Converters.pointsToDf(spark, (0 until 6).map(i =>
        MetricPoint(t0 + i * 600L * 1000000000L, m, v, Map("host" -> "h1")))))
    }
    assert(cat.allChunks.size == 2)
    (new QueryEngine(spark, cat), cat)
  }

  test("a binary expression over two metrics reads each metric's chunks, rows " +
    "equal a spark.read.parquet reference") {
    val (eng, cat) = twoMetricEngine()
    val q = graft.promql.PromQL.transpileRange("sum by (host) (click) / sum by (host) (view)",
      t0, t0 + hourNs - 1, 600L)
    val served = eng.serve(q)
    val got = served.df.collect().map(_.toSeq).toSeq
    assert(served.paths.sorted == cat.allChunks.map(_.path).sorted,
      s"each side's metric must keep its chunk: ${served.paths}")
    val (range, preds) = eng.analyze(q, t0)
    assert(eng.prune(range, preds) == served.paths)
    val want = SparkTestBase.referenceRows(cat, q)
    assert(got == want && got.nonEmpty && got.forall(_.last == 0.25), s"$got vs $want")
  }

  test("an IN list the optimizer turns into InSet prunes like its short twin") {
    val (eng, cat) = twoMetricEngine()
    def in(values: Seq[String]) =
      s"SELECT host, COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0 AND " +
        s"timestamp_ns < ${t0 + hourNs} AND metric_name IN (${values.map(v => s"'$v'").mkString(", ")}) " +
        "GROUP BY host ORDER BY host"
    // the extra values sort before `click`: no chunk's zone map holds them
    val short = in(Seq("click", "a0", "a1"))
    val long = in("click" +: (0 until 11).map(i => s"a$i"))
    val (s, l) = (eng.serve(short), eng.serve(long))
    assert(s.paths.size == 1, s"premise: the 3-value list keeps the click chunk only: ${s.paths}")
    assert(l.paths == s.paths)
    val got = l.df.collect().map(_.toSeq).toSeq
    assert(got == SparkTestBase.referenceRows(cat, long) && got == Seq(Seq("h1", 6L)), got.toString)
  }

  test("schema drift across chunks: label-set union, null-fill, NULL-keeping !~") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_drift_"), cacheTtlMs = 0L)
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
    // label endpoints over a window whose only chunk lacks `zone`: the column
    // reads as NULL, as over all chunks, instead of failing to resolve
    val (lo, hi) = (Some(t0), Some(t0 + hourNs - 1))
    assert(eng.labelValues("zone", Nil, lo, hi).collect().isEmpty)
    assert(eng.labelValues("host", Seq(graft.promql.LabelMatcher("zone", "!~", "z.*")), lo, hi)
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    // zone="z0" prunes the zone chunk by its zone map and keeps the host one
    assert(eng.series(Seq(graft.promql.LabelMatcher("zone", "=", "z0"))).collect().isEmpty)
  }

  test("empty batch write is a no-op") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_empty2_"), cacheTtlMs = 0L)
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

  test("result cache is row-bounded: a repeat localizes a small result; a larger " +
    "one stays plan-only and is not collected again") {
    val (eng, _) = freshEngine()
    eng.maxLocalRows = 10
    val huge = s"SELECT * FROM metrics WHERE timestamp_ns >= $t0" // 72 rows
    val tiny = s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0"
    eng.sql(tiny).collect()
    eng.sql(tiny).collect()
    assert(eng.isResultCached(tiny), "a small result localizes on its first repeat")
    val want = eng.sql(huge).collect().map(_.toSeq).toSet
    assert(want.size == 72)
    // the first repeat runs one bounded collect besides its own execution ...
    val (rows1, jobs1, _) = jobsAndTasks(eng.sql(huge).collect())
    // ... and marks the entry, so a later repeat only executes the plan
    val (rows2, jobs2, _) = jobsAndTasks(eng.sql(huge).collect())
    assert(!eng.isResultCached(huge), "a result above maxLocalRows must stay plan-only")
    assert(jobs2 >= 1 && jobs1 == jobs2 + 1, s"jobs: first repeat $jobs1, later repeat $jobs2")
    assert(rows1.map(_.toSeq).toSet == want && rows2.map(_.toSeq).toSet == want)
    val later = eng.serve(huge)
    assert(later.mode == "l1" && later.rows.isEmpty, "a plan-only hit carries no rows")
  }

  test("a one-off cold query leaves the session's cache manager empty") {
    val (eng, _) = freshEngine()
    spark.catalog.clearCache()
    assert(eng.sql(hourCounts(0)).collect().length == 2)
    assert(spark.sharedState.cacheManager.isEmpty, "a first sighting must persist nothing")
    assert(!eng.isResultCached(hourCounts(0)))
  }

  test("a first repeat localizes; the next sqlRows serves the same array with zero jobs") {
    val (eng, _) = freshEngine()
    val q = hourCounts(1)
    val first = eng.serve(q)
    assert(first.mode == "computed" && first.rows.isEmpty && !eng.isResultCached(q),
      "a first sighting keeps only its plan")
    val cold = first.df.collect()
    val repeat = eng.serve(q) // localizes and returns the rows it stored
    assert(repeat.mode == "l1" && repeat.rows.isDefined && eng.isResultCached(q))
    val (again, jobs, _) = jobsAndTasks(eng.sqlRows(q))
    assert(jobs == 0, s"a localized hit ran $jobs Spark jobs")
    assert(repeat.rows.exists(_ eq again), "sqlRows must serve the stored row array, not re-collect")
    assert(again.map(_.toSeq).toSeq == cold.map(_.toSeq).toSeq)
    assert(first.paths == repeat.paths && first.paths.size == 1)
  }

  test("concurrent serves each report their own chunk paths and route") {
    val (eng, cat) = freshEngine()
    graft.compact.Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    // per hour window: a raw read (a row-level value predicate never routes)
    // and a bucketed aggregate the hourly rollup answers
    val texts = for (h <- Seq(0, 2); routed <- Seq(false, true)) yield {
      val window = s"timestamp_ns >= ${t0 + h * hourNs} AND timestamp_ns < ${t0 + (h + 1) * hourNs}"
      if (routed)
        s"SELECT (timestamp_ns div $hourNs) * $hourNs AS b, metric_name, COUNT(*) AS c " +
          s"FROM metrics WHERE $window GROUP BY 1, 2"
      else s"SELECT metric_name, COUNT(*) AS c FROM metrics WHERE $window " +
        "AND value_f64 >= 0 GROUP BY metric_name"
    }
    val expected = texts.map { q => val s = eng.serve(q); (s.paths, s.route) }
    assert(expected.map(_._2) == Seq(QueryEngine.Raw, QueryEngine.Rollup,
      QueryEngine.Raw, QueryEngine.Rollup), s"premise: routes $expected")
    assert(expected(0)._1 != expected(2)._1, "premise: the two windows select other chunks")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map(t => new Thread(() => {
      try (0 until 25).foreach { i =>
        val k = (t + i) % texts.size
        // a distinct text per call, so every call plans instead of hitting L1
        val s = eng.serve(s"${texts(k)} -- t$t i$i")
        if ((s.paths, s.route) != expected(k))
          errs.add(s"thread $t call $i: ${(s.paths, s.route)} vs ${expected(k)}")
      } catch { case e: Throwable => errs.add(s"thread $t: $e") }
    }))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toString)
  }

  test("a hot text keeps its memoized time range while more than 1000 other texts are served") {
    val (eng, _) = freshEngine()
    val hot = hourCounts(1)
    (1 until 1100).foreach { i =>
      if (i % 100 == 0) eng.serve(hot)
      else eng.serve(s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0 " +
        s"AND timestamp_ns < ${t0 + hourNs} LIMIT $i")
    }
    assert(eng.isTimeFixed(hot), "a text served every 100 calls must stay in the text cache")
    assert(!eng.isTimeFixed(s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0 " +
      s"AND timestamp_ns < ${t0 + hourNs} LIMIT 1"), "the oldest cold texts are evicted")
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
    val served = eng.serve(q)
    assert(served.mode == "l1" && served.rows.exists(_ eq got1))
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

  test("time travel: serve asOf a retained version sees exactly the rows committed " +
    "by then; the live query sees everything; rollup routing stays off") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_eng_tt_"),
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
    val asof = eng.serve(s"SELECT count(*) AS c FROM metrics WHERE $range", asOf = Some(v1))
      .df.collect()(0).getLong(0)
    assert(live == 17 && asof == 10, s"live=$live asof=$asof")
    // AS OF a version that never existed / was evicted → clean failure
    intercept[Exception](
      eng.serve(s"SELECT count(*) FROM metrics WHERE $range", asOf = Some(99999L)).df.collect())
    // live query again (cache scoping didn't leak the historical path set)
    assert(eng.sql(s"SELECT count(*) AS c FROM metrics WHERE $range")
      .collect()(0).getLong(0) == 17)
  }

  private def hourCounts(h: Int): String =
    s"SELECT metric_name, COUNT(*) AS c FROM metrics WHERE timestamp_ns >= ${t0 + h * hourNs} " +
      s"AND timestamp_ns < ${t0 + (h + 1) * hourNs} GROUP BY metric_name ORDER BY metric_name"

  test("a localized result stays cached after another query plans a different path set") {
    // Replacing a session temp view un-caches every cached plan built over the
    // old view, so re-registering `metrics` per path set once silently dropped
    // the engine's cached results while isResultCached still reported them.
    val (eng, _) = freshEngine()
    val want = eng.sql(hourCounts(0)).collect().map(_.toSeq).toSeq
    val rows = eng.sqlRows(hourCounts(0))
    assert(eng.isResultCached(hourCounts(0)), "premise: the repeat localized the result")
    val paths0 = eng.serve(hourCounts(0)).paths
    eng.sql(hourCounts(1)).collect()
    assert(eng.serve(hourCounts(1)).paths != paths0,
      "premise: the second query selects other chunks")
    assert(eng.isResultCached(hourCounts(0)),
      "planning another path set must not drop a cached result")
    val again = eng.serve(hourCounts(0))
    assert(again.mode == "l1" && again.rows.exists(_ eq rows))
    assert(rows.map(_.toSeq).toSeq == want)
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
    val served = eng.serve(q)
    val got = served.df.collect().map(_.toSeq).toSeq
    assert(served.paths.size == 2, s"premise: prunes to 2 of 3 chunks: ${served.paths}")
    val want = SparkTestBase.referenceRows(cat, q)
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
    val repeat = eng.serve(hourCounts(0))
    assert(repeat.mode == "l1")
    assert(repeat.df.collect().map(_.toSeq).toSeq == want0)
    assert(eng.labels() == labels)
    assert(eng.labelValues("__name__").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("cpu_usage", "mem_usage"))
  }

  /** Run `thunk` and count, with a SparkListener on a local property this
    * thread tags its jobs with, the jobs and tasks it ran.
    */
  private def jobsAndTasks[T](thunk: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val key = "graft.test.probe"
    val tag = java.util.UUID.randomUUID().toString
    val stagesOf = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasksOf = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val marker = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) stagesOf.put(js.jobId, js.stageIds)
          else if (t == tag + "-marker") marker.set(js.jobId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { ended.add(je.jobId); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasksOf.merge(te.stageId, 1, (a, b) => a + b); ()
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = thunk
      // the listener bus delivers events in order: once a marker job run
      // after the thunk has ended, every event of the thunk's jobs has too
      sc.setLocalProperty(key, tag + "-marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!ended.contains(marker.get()) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      val tasks = stagesOf.values.asScala.flatten
        .map(st => Option(tasksOf.get(st)).fold(0)(_.toInt)).sum
      (out, stagesOf.size, tasks)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
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
    val (rows, jobs, tasks) =
      jobsAndTasks(eng.execute(twoHourAgg)(_.collect().map(_.toSeq).toSeq))
    val selected = eng.serve(twoHourAgg).paths
    assert(selected.size == 2, s"premise: the window prunes to 2 of 3 chunks: $selected")
    val bytes = selected.flatMap(cat.state.chunks.get).map(_.sizeBytes).sum
    assert(bytes <= eng.oneTaskMaxBytes,
      s"premise: $bytes selected bytes are under the one-task cut-off")
    assert(jobs == 1 && tasks == 1, s"expected 1 job / 1 task, got $jobs / $tasks")
    assert(rows == referenceRows(cat) && rows.size == 4)
    // filtered label values over one hour read the same way
    val (hosts, lvJobs, lvTasks) = jobsAndTasks(eng.labelValues("host",
      startNs = Some(t0 + hourNs), endNs = Some(t0 + 2 * hourNs - 1)).collect())
    assert(hosts.map(_.getString(0)).sorted.toSeq == Seq("server1", "server2"))
    assert(lvJobs == 1 && lvTasks == 1, s"label values: $lvJobs jobs / $lvTasks tasks")
  }

  test("one-task reads: above the one-task cut-off the read keeps " +
    "its multi-task plan") {
    val (_, cat) = freshEngine()
    val selected = cat.chunksInRange(t0, t0 + 2 * hourNs - 1)
    val bytes = selected.map(_.sizeBytes).sum
    assert(selected.size == 2)
    val eng = new QueryEngine(spark, cat)
    eng.oneTaskMaxBytes = bytes - 1
    val (rows, jobs, tasks) =
      jobsAndTasks(eng.execute(twoHourAgg)(_.collect().map(_.toSeq).toSeq))
    assert(tasks > 1, s"a set above the cut-off must stay partitioned: $jobs jobs / $tasks tasks")
    assert(rows == referenceRows(cat))
  }
}
