package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.promql.PromQL
import graft.util.ShmDirs

/** THE DIVERGENCE LEDGER — every deliberate, reference-faithful divergence
  * from true Prometheus / standard semantics, each pinned by a golden test.
  *
  * These behaviors look like bugs against the upstream Prometheus spec but
  * are EXACTLY what the reference engine does (file:line cited per case), and
  * the DuckDB oracle gate asserts them at sf0.01/0.1 every round. "Fixing"
  * any of them to the standard semantics breaks oracle hash-equality — if a
  * future change trips one of these tests, the correct action is to keep the
  * quirk (or change BOTH this ledger and the oracle SQL deliberately, never
  * silently). Referenced from COVERAGE.md.
  */
class DivergenceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L

  // --------------------------------------------------------------------------
  // D1. PromQL regex matchers are UNANCHORED.
  // True Prometheus wraps matcher regexes as ^(?:re)$ (full match); the
  // reference transpiles =~ to an unanchored regexp_match
  // (src/api/query/prometheus_api.rs:705-741) so `=~"cpu"` also matches
  // "total_cpu_time". We keep RLIKE (unanchored) to hash-match the oracle.
  test("D1: regex matchers stay unanchored (substring match, not full match)") {
    val sql = PromQL.matcherToSql(graft.promql.LabelMatcher("host", "=~", "cpu"))
    assert(sql == "`host` RLIKE 'cpu'", "must stay RLIKE with the raw pattern, no ^$ anchors")
    // behavioral pin: substring hit that full-match anchoring would reject
    import spark.implicits._
    val hit = Seq("total_cpu_time").toDF("host").filter(expr(sql)).count()
    assert(hit == 1L, "unanchored semantics must match substrings")
  }

  // --------------------------------------------------------------------------
  // D2. rate/irate ≈ (MAX−MIN)/range, increase/delta ≈ MAX−MIN — NO counter
  // reset correction, NO Prometheus extrapolation. The reference ships this
  // approximation for the whole rate family
  // (src/api/query/prometheus_api.rs:782-805). A counter reset inside the
  // window therefore yields the plain max-min, not the reset-corrected sum.
  // (The reset-aware variant exists as the FLAGGED extension
  // Operators.counterRate — never silently substituted here.)
  test("D2: rate family is (MAX-MIN)/range with no reset handling") {
    val sql = PromQL.transpileRange("rate(ctr[5m])", t0, t0 + 600L * 1000000000L, 60L)
    assert(sql.contains("(MAX(") && sql.contains(") - MIN(") && !sql.toLowerCase.contains("lag("),
      s"rate must transpile to MAX-MIN/range, got: $sql")
    // behavioral pin: counter 0,10,20, RESET, 5 in one bucket → rate sees
    // (20-0)/60, losing the 25 increase a reset-aware rate would report
    import spark.implicits._
    val rows = Seq(0.0, 10.0, 20.0, 5.0).zipWithIndex
      .map { case (v, i) => (t0 + i * 10L * 1000000000L, "ctr", v) }
      .toDF("timestamp_ns", "metric_name", "value_f64")
    rows.createOrReplaceTempView("metrics")
    val got = spark.sql(
      s"SELECT (MAX(value_f64) - MIN(value_f64)) / 60 AS r FROM metrics").collect()(0).getDouble(0)
    assert(math.abs(got - 20.0 / 60.0) < 1e-12,
      "reset is NOT corrected: max-min = 20, not 35")
  }

  // --------------------------------------------------------------------------
  // D3. Split-phase dedup keys on (timestamp, metric_name) ONLY — labels are
  // IGNORED. Two series with the same metric and timestamp but different
  // hosts collapse to one row while a shard split is active (reference
  // src/query/dedup.rs:61-113 builds its composite key from timestamp +
  // metric_name alone). Faithful data loss, pinned here.
  test("D3: active-split dedup ignores label columns (timestamp+metric key only)") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_div_"), cacheTtlMs = 0L)
    val pts = Seq(
      MetricPoint(t0, "cpu_usage", 1.0, Map("host" -> "a")),
      MetricPoint(t0, "cpu_usage", 2.0, Map("host" -> "b")), // same ts+name, other host
      MetricPoint(t0 + 1000000000L, "cpu_usage", 3.0, Map("host" -> "a")))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts))
    val eng = new QueryEngine(spark, cat)
    val q = s"SELECT timestamp, metric_name, host FROM metrics WHERE timestamp_ns >= $t0"
    assert(eng.sql(q).count() == 3L, "no split: all three rows")
    cat.setActiveSplits(Seq("shard-1"))
    assert(eng.sql(q).count() == 2L,
      "active split: rows sharing (timestamp, metric_name) collapse even across hosts")
    cat.setActiveSplits(Nil)
  }

  // --------------------------------------------------------------------------
  // D4. Single-arg topk/bottomk DEGRADE to a full non-limited aggregation
  // ordered by value — the reference parses the k but never applies a LIMIT
  // (src/api/query/prometheus_api.rs:899-907 maps topk to MAX with no k).
  // The real-k behavior exists only as the flagged two-arg extension.
  test("D4: topk degrades to un-limited ORDER BY (k parsed but dropped)") {
    val degraded = PromQL.transpileInstant("topk(metric_total)")
    assert(!degraded.toUpperCase.contains("LIMIT"),
      s"faithful topk must NOT emit a LIMIT, got: $degraded")
    // the flagged extension applies a real k — the two must stay distinct
    val ext = PromQL.transpileInstant("topk(3, metric_total)")
    assert(ext.toUpperCase.contains("LIMIT 3"),
      s"two-arg extension must keep LIMIT 3, got: $ext")
  }

  // --------------------------------------------------------------------------
  // D5. Aggregation fall-throughs: stdvar → AVG on the instant path
  // (prometheus_api.rs:899-907); stddev → AVG on the RANGE path while the
  // instant path keeps STDDEV (rs:1018-1026 — asymmetric, ported verbatim);
  // an expression the parser cannot read is treated as a literal METRIC NAME,
  // never an error. True PromQL errors on all three.
  test("D5: agg fall-throughs (stdvar→AVG; range stddev→AVG; unparsable→metric name)") {
    val sql = PromQL.transpileInstant("stdvar(metric_total)")
    assert(sql.toUpperCase.contains("AVG("), s"stdvar must fall through to AVG: $sql")
    // instant stddev is real; RANGE stddev silently degrades to AVG
    assert(PromQL.transpileInstant("stddev(metric_total)").toUpperCase.contains("STDDEV("))
    val range = PromQL.transpileRange("stddev(metric_total)", t0, t0 + hourNs, 60L)
    assert(!range.toUpperCase.contains("STDDEV(") && range.toUpperCase.contains("AVG("),
      s"range-path stddev must degrade to AVG: $range")
    // unparseable expression → the whole text becomes the metric-name equality
    val unknown = PromQL.transpileInstant("mystery_agg(metric_total)")
    assert(unknown.contains("metric_name = 'mystery_agg(metric_total)'"),
      s"unparseable input degrades to a literal metric-name selector: $unknown")
  }

  // --------------------------------------------------------------------------
  // D6. `!~` KEEPS rows whose label is NULL. Spark's 3-valued NOT RLIKE drops
  // NULLs; the reference's `regexp_match(col, re) IS NULL` is TRUE for them
  // (prometheus_api.rs:829-853). The transpiler emits the NULL-keeping form.
  test("D6: negative regex matcher keeps NULL labels (IS NULL OR NOT RLIKE)") {
    val sql = PromQL.matcherToSql(graft.promql.LabelMatcher("host", "!~", "prod.*"))
    assert(sql == "(`host` IS NULL OR NOT (`host` RLIKE 'prod.*'))")
    import spark.implicits._
    val kept = Seq(Some("prod-1"), Some("dev-1"), None).toDF("host")
      .filter(expr(sql)).collect().map(_.isNullAt(0) || { true }).length
    assert(kept == 2, "NULL host must survive !~ (dev-1 and NULL)")
  }

  // --------------------------------------------------------------------------
  // D7. A query with NO time predicate gets a DEFAULT LAST-1-HOUR window, not
  // a full scan (reference src/query/mod.rs:140-152 injects now()-1h..now()).
  // Standard SQL semantics would return all rows.
  test("D7: missing time predicate defaults to the last hour, not a full scan") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_div7_"), cacheTtlMs = 0L)
    val pts = Seq(
      MetricPoint(t0, "cpu_usage", 1.0, Map("host" -> "a")), // "old" data
      MetricPoint(t0 + 48 * hourNs, "cpu_usage", 2.0, Map("host" -> "a")))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts))
    val eng = new QueryEngine(spark, cat)
    // pretend "now" is 30 min after the second point: only it is in-window
    val nowNs = t0 + 48 * hourNs + 1800L * 1000000000L
    val got = eng.sql("SELECT value_f64 FROM metrics", nowNs = nowNs).collect()
    assert(got.map(_.getDouble(0)).toSeq == Seq(2.0),
      "default window must clip to [now-1h, now] — never a full scan")
  }

  // --------------------------------------------------------------------------
  // D8. Instant queries serve the single LATEST row set (ORDER BY ts DESC
  // LIMIT n), not Prometheus's 5-minute staleness lookback
  // (reference prometheus_api.rs instant path). Pinned structurally.
  test("D8: instant query is latest-row semantics, no 5m staleness lookback") {
    val sql = PromQL.transpileInstant("metric_total")
    assert(sql.toUpperCase.contains("ORDER BY") && sql.toUpperCase.contains("DESC"),
      s"instant path must be latest-row (ORDER BY ts DESC), got: $sql")
    assert(!sql.contains("300"), "no 5-minute staleness window is applied")
  }
}
