package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.promql.{LabelMatcher, PromQL}

/** Parser + transpiler goldens from FIXTURES.md F7 (reference parser cases at
  * src/api/query/prometheus_api.rs:744-853).
  */
class PromQLSpec extends AnyFunSuite {

  test("*_over_time extension family parses and maps to per-bucket aggregates") {
    val p = graft.promql.PromQL.parse("max_over_time(cpu[24h])")
    assert(p.function.contains("max_over_time") && p.rangeSeconds.contains(86400L))
    val sql = graft.promql.PromQL.transpileRange("max_over_time(cpu[24h])", 0L, 1L, 60L)
    assert(sql.contains("MAX(COALESCE(value_f64"))
    assert(graft.promql.PromQL.transpileRange("count_over_time(cpu[5m])", 0L, 1L, 60L)
      .contains("COUNT(*)"))
    assert(graft.promql.PromQL.transpileRange("sum_over_time(cpu[5m])", 0L, 1L, 60L)
      .contains("SUM(COALESCE(value_f64"))
  }

  test("transpileRangeSeriesAgg: per-series rate inner, cross-series agg outer") {
    val sql = graft.promql.PromQL.transpileRangeSeriesAgg(
      """sum by (env) (rate(http{job="api"}[5m]))""", 0L, 1000000000L, 60L,
      seriesLabels = Seq("host"))
    // inner: per (metric, job-matcher label, env, host) rate per bucket
    assert(sql.contains("(MAX(COALESCE(value_f64"))
    assert(sql.contains("GROUP BY time_bucket, metric_name, `job`, `env`, `host`"))
    // outer: SUM over series, grouped by bucket + by-labels only
    assert(sql.contains("SUM(value) AS value"))
    assert(sql.contains("GROUP BY time_bucket, metric_name, `env` ORDER BY time_bucket"))
    // non-nested input is rejected, not silently degraded
    intercept[IllegalArgumentException] {
      graft.promql.PromQL.transpileRangeSeriesAgg("rate(x[5m])", 0L, 1L, 60L, Nil)
    }
  }

  test("scalacheck: parser/transpiler totality — arbitrary input never throws") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // a mix of: pure noise, promql-ish fragments, and mutated valid queries
    val promChars = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf("{}()[]=!~\",| .:*+-/\\'`$".toSeq))
    val noise = Gen.listOf(promChars).map(_.mkString)
    val promish = for {
      agg <- Gen.oneOf("sum", "topk(3,", "quantile(0.5,", "rate(", "bogus(")
      sel <- Gen.oneOf("cpu", "cpu{host=\"a\"}", "cpu{host=~\"h[0-", "{", "}", "")
      tail <- Gen.oneOf(")", "", "[5m])", ") by (host", ") by (host)")
    } yield s"$agg$sel$tail"
    // operator expressions: 1-4 promish atoms joined by every operator
    // spelling, with the bool and on(...) modifiers
    val opSpelling = for {
      op <- Gen.oneOf("+", "-", "*", "/", "==", "!=", ">", "<", ">=", "<=")
      mod <- Gen.oneOf("", "", "bool ", "on(host) ", "bool on(host, env) ", "on() ")
    } yield s" $op $mod"
    val chain = for {
      n <- Gen.choose(1, 4)
      atoms <- Gen.listOfN(n, Gen.oneOf(promish, Gen.oneOf("cpu", "1", "0.5", "-cpu")))
      ops <- Gen.listOfN(n - 1, opSpelling)
    } yield atoms.head + ops.zip(atoms.tail).map { case (o, a) => o + a }.mkString
    val gen = Gen.oneOf(noise, promish, chain)
    val prop = Prop.forAll(gen) { q =>
      // every entry point must TOTALLY handle garbage: fall back per the
      // reference (whole string = metric name), never throw
      graft.promql.PromQL.parse(q)
      graft.promql.PromQL.transpileInstant(q)
      graft.promql.PromQL.transpileRange(q, 0L, 1000000000L, 60L)
      true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("EXTENSION: offset modifier — parse positions, window shift, bucket mapping, zero-offset identity") {
    // selector-level
    val p1 = PromQL.parse("cpu offset 5m")
    assert(p1.metricName == "cpu" && p1.offsetSeconds.contains(300L))
    val p2 = PromQL.parse("""cpu{host="a"} offset 1h""")
    assert(p2.offsetSeconds.contains(3600L) && p2.labelMatchers.nonEmpty)
    // after the range brackets, inside a range function
    val p3 = PromQL.parse("rate(cpu[5m] offset 1d)")
    assert(p3.function.contains("rate") && p3.rangeSeconds.contains(300L) &&
      p3.offsetSeconds.contains(86400L))
    // wrapped in an aggregation: offset survives the recursion
    val p4 = PromQL.parse("sum by (host) (cpu offset 30m)")
    assert(p4.aggregation.contains("sum") && p4.offsetSeconds.contains(1800L))
    // instant: lookback bound shifts back, representative timestamp maps forward
    val sql = PromQL.transpileInstant("max by (host) (click offset 1h)",
      Some(7200000000000L))
    assert(sql.contains("timestamp_ns <= 3600000000000"), sql)
    assert(sql.contains("MAX(timestamp_ns) + 3600000000000"), sql)
    // range: scanned window shifts back, bucket computed on ts+offset
    val rsql = PromQL.transpileRange("sum by (host) (view offset 1d)",
      86400000000000L * 2, 86400000000000L * 3, 21600L)
    assert(rsql.contains("timestamp_ns >= 86400000000000"), rsql)
    assert(rsql.contains("timestamp_ns <= 172800000000000"), rsql)
    assert(rsql.contains("((timestamp_ns + 86400000000000) DIV 21600000000000)"), rsql)
    // zero offset: byte-identical SQL to the pre-offset transpiler (every
    // existing oracle keeps hashing)
    val plain = PromQL.transpileRange("sum by (host) (view)", 0L, 1000000000L, 60L)
    assert(!plain.contains("+ 0") && plain.contains("(timestamp_ns DIV 60000000000)"), plain)
  }

  test("EXTENSION: vector binary operator — split positions, matching labels, on(), fallbacks") {
    import graft.promql.PromQL.{VecBin, VecLeaf}
    // top-level split, parens/quotes respected
    assert(PromQL.parseVecTree("sum by (h) (a) / sum by (h) (b)") ==
      VecBin(VecLeaf("sum by (h) (a)"), "/", None, VecLeaf("sum by (h) (b)")))
    assert(PromQL.parseVecTree("""a{job="x/y"}""") == VecLeaf("""a{job="x/y"}"""),
      "op inside quotes is not a split")
    assert(PromQL.parseVecTree("rate(a[5m])") == VecLeaf("rate(a[5m])"), "ops only at depth 0")
    assert(PromQL.parseVecTree("-a") == VecLeaf("-a"), "leading minus is a sign")
    // on(...) modifier
    assert(PromQL.parseVecTree("a / on(host, region) b") ==
      VecBin(VecLeaf("a"), "/", Some(Seq("host", "region")), VecLeaf("b")))
    // transpiled shape: join on (bucket, labels), NULLIF guard on division,
    // metric_name dropped from the result (Prometheus __name__ semantics)
    val sql = PromQL.transpileRange(
      "sum by (host) (click) / sum by (host) (view)", 0L, 1000000000L, 60L)
    assert(sql.contains("l.time_bucket = r.time_bucket AND l.`host` = r.`host`"), sql)
    assert(sql.contains("l.value / NULLIF(r.value, 0)"), sql)
    assert(sql.startsWith("SELECT l.time_bucket, l.`host`,"), sql)
    // mismatched side labels without on(...) fall back to the reference's
    // whole-string treatment (metric-name fallback — never a throw)
    val fb = PromQL.transpileRange("sum by (a) (x) / sum by (b) (y)", 0L, 1L, 60L)
    assert(fb.contains("FROM metrics"), fb)
    // chained operators: transpiled with real precedence as nested joins
    // (see the dedicated chained test below)
    val chain = PromQL.transpileRange("a * b + c", 0L, 1L, 60L)
    assert(chain.contains(") l JOIN (") && chain.contains("l.value + r.value"), chain)
    // plain queries: byte-identical to the non-binary transpiler
    assert(PromQL.transpileRange("sum by (host) (view)", 0L, 1L, 60L)
      .startsWith("SELECT (timestamp_ns DIV"))
    // on(...) naming a label NEITHER side projects must fall back at
    // TRANSPILE time (the emitted SQL would otherwise fail at execution,
    // past the fallback) — bare selectors project no label columns
    val onAbsent = PromQL.transpileRange("a / on(host) b", 0L, 1L, 60L)
    assert(onAbsent.contains("FROM metrics") && !onAbsent.contains("l.`host`"), onAbsent)
  }

  test("EXTENSION r11: chained binary expressions — precedence tree, scalar " +
    "operands, single-op routing byte-identical to the r10 transpiler") {
    import graft.promql.PromQL.{VecBin, VecLeaf, ScalarLeaf}
    // */ binds tighter than +-, left-assoc: a * b + c = (a*b) + c
    assert(PromQL.parseVecTree("a * b + c") ==
      VecBin(VecBin(VecLeaf("a"), "*", None, VecLeaf("b")), "+", None, VecLeaf("c")))
    // equal precedence left-assoc: a / b * 100 = (a/b) * 100, scalar leaf
    assert(PromQL.parseVecTree("a / b * 100") ==
      VecBin(VecBin(VecLeaf("a"), "/", None, VecLeaf("b")), "*", None, ScalarLeaf("100")))
    // on(...) binds to ITS operator inside the chain
    assert(PromQL.parseVecTree("a / on(host) b + c") ==
      VecBin(VecBin(VecLeaf("a"), "/", Some(Seq("host")), VecLeaf("b")),
        "+", None, VecLeaf("c")))
    // the Grafana percent panel: scalar applied map-side (no third join)
    val sql = PromQL.transpileRange(
      "sum by (host) (click) / sum by (host) (view) * 100", 0L, 1000000000L, 60L)
    assert(sql.contains("l.value / NULLIF(r.value, 0)"), sql)
    assert(sql.contains("l.value * 100 AS value"), sql)
    assert(sql.endsWith("ORDER BY time_bucket, `host`"), sql)
    assert(sql.split("JOIN").length == 2, s"scalar leaf must not add a join: $sql")
    // scalar-LEFT division guards the vector side: 100 / x → NULLIF(l.value)
    val sl = PromQL.transpileRange("100 / sum by (host) (view)", 0L, 1L, 60L)
    assert(sl.contains("100 / NULLIF(l.value, 0)"), sl)
    // scalar-scalar refused → whole-string fallback (parser totality)
    val ss = PromQL.transpileRange("1 + 2", 0L, 1L, 60L)
    assert(ss.contains("metric_name = '1 + 2'"), ss)
    // a SINGLE vector-op-vector query (the q_promql_binary shape) emits the
    // SQL the single-operator transpiler emitted, byte for byte
    def leaf(m: String) = "SELECT (timestamp_ns DIV 60000000000) * 60000000000 AS time_bucket, " +
      "metric_name, `host`, SUM(COALESCE(value_f64, CAST(value_i64 AS DOUBLE), " +
      s"CAST(value_u64 AS DOUBLE))) AS value FROM metrics WHERE metric_name = '$m' AND " +
      "timestamp_ns >= 0 AND timestamp_ns <= 1000000000 GROUP BY time_bucket, metric_name, " +
      "`host` ORDER BY time_bucket"
    assert(PromQL.transpileRange("sum by (host) (click) / sum by (host) (view)",
      0L, 1000000000L, 60L) ==
      "SELECT l.time_bucket, l.`host`, l.value / NULLIF(r.value, 0) AS value FROM " +
        s"(${leaf("click")}) l JOIN (${leaf("view")}) r ON l.time_bucket = r.time_bucket " +
        "AND l.`host` = r.`host` ORDER BY time_bucket, `host`")
  }

  test("EXTENSION r12: comparison tier — below arithmetic, filter vs bool " +
    "semantics, byte-identical arithmetic routing, repeated-leaf CTE") {
    import graft.promql.PromQL.{VecBin, VecLeaf, ScalarLeaf}
    val spark = SparkTestBase.spark
    import spark.implicits._
    // precedence: comparison binds LOOSER than arithmetic — a / b > 0.01
    // parses as (a/b) > 0.01
    assert(PromQL.parseVecTree("a / b > 0.01") ==
      VecBin(VecBin(VecLeaf("a"), "/", None, VecLeaf("b")), ">", None,
        ScalarLeaf("0.01")))
    // bool modifier sticks to its comparison; >= tokenizes as one operator
    assert(PromQL.parseVecTree("a >= bool 5") ==
      VecBin(VecLeaf("a"), ">=", None, ScalarLeaf("5"), bool = true))
    // == / != parse (and are not eaten by matcher syntax inside braces)
    assert(PromQL.parseVecTree("""a{host="x>y"} != b""") ==
      VecBin(VecLeaf("""a{host="x>y"}"""), "!=", None, VecLeaf("b")))
    val t = 1000000000L
    Seq((1L * t, "click", "h1", 2.0), (1L * t, "view", "h1", 8.0),
        (1L * t, "click", "h2", 6.0), (1L * t, "view", "h2", 8.0))
      .map { case (ts, m, h, v) => (ts, m, h, v, null.asInstanceOf[java.lang.Long],
        null.asInstanceOf[java.lang.Long]) }
      .toDF("timestamp_ns", "metric_name", "host", "value_f64", "value_i64", "value_u64")
      .createOrReplaceTempView("metrics")
    def run(q: String): Seq[(String, Double)] =
      spark.sql(PromQL.transpileRange(q, 0L, 59L * t, 60L)).collect()
        .map(r => (r.getString(1), r.getDouble(2))).toSeq.sortBy(_._1)
    // filter semantics (no bool): value survives unchanged, h1 (0.25) dropped
    assert(run("sum by (host) (click) / sum by (host) (view) > 0.5") ==
      Seq(("h2", 0.75)), "filter")
    // bool: every element kept, 0/1 values
    assert(run("sum by (host) (click) / sum by (host) (view) > bool 0.5") ==
      Seq(("h1", 0.0), ("h2", 1.0)), "bool")
    // vector CMP vector: lhs sample survives where the comparison holds
    assert(run("sum by (host) (view) > sum by (host) (click)") ==
      Seq(("h1", 8.0), ("h2", 8.0)), "vec-vec filter keeps lhs value")
    assert(run("sum by (host) (click) == sum by (host) (view)") == Nil, "==")
    // scalar CMP vector: elements come from the vector side
    assert(run("5 < sum by (host) (click)") == Seq(("h2", 6.0)), "scalar-lhs")
    // all-distinct leaves need no CTE
    val arith = "sum by (host) (click) / sum by (host) (view) * 100"
    assert(!PromQL.transpileRange(arith, 0L, 1L, 60L).contains("__leaf"), "no CTE")
    // repeated leaf → ONE CTE, scanned once: a/b + a/c scans `a` once
    val cteSql = PromQL.transpileRange(
      "sum by (host) (click) / sum by (host) (view) + " +
        "sum by (host) (click) / sum by (host) (click)", 0L, 59L * t, 60L)
    assert(cteSql.startsWith("WITH __leaf0 AS"), cteSql)
    // the repeated leaf's selector body appears exactly once in the SQL
    assert("metric_name = 'click'".r.findAllIn(cteSql).size == 1, cteSql)
    val cteGot = spark.sql(cteSql).collect()
      .map(r => (r.getString(1), r.getDouble(2))).toSeq.sortBy(_._1)
    assert(cteGot == Seq(("h1", 1.25), ("h2", 1.75)), cteGot.toString)
    // x op x reads its one leaf through one CTE, and returns the rows of the
    // two-subquery join form that distinct leaves get
    val x = "sum by (host) (click)"
    val xx = PromQL.transpileRange(s"$x / $x", 0L, 59L * t, 60L)
    assert(xx.startsWith("WITH __leaf0 AS (") && !xx.contains("__leaf1"), xx)
    assert("metric_name = 'click'".r.findAllIn(xx).size == 1, xx)
    val leaf = PromQL.transpileRange(x, 0L, 59L * t, 60L)
    val twoSubqueries = "SELECT l.time_bucket, l.`host`, l.value / NULLIF(r.value, 0) " +
      s"AS value FROM ($leaf) l JOIN ($leaf) r ON l.time_bucket = r.time_bucket AND " +
      "l.`host` = r.`host` ORDER BY time_bucket, `host`"
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows(xx) == rows(twoSubqueries))
    assert(rows(xx) == Seq((0L, "h1", 1.0), (0L, "h2", 1.0)), rows(xx).toString)
  }

  test("EXTENSION r11: chained binary — executed semantics on a fixture " +
    "(ratio*100 values, inner-join drop, precedence over +)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val t = 1000000000L // 1 s in ns
    Seq(
      // (ts_ns, metric, host, v): bucket 0 has click 2 / view 8 on h1;
      // view-only on h2 (must DROP from the inner join)
      (1L * t, "click", "h1", 2.0), (1L * t, "view", "h1", 8.0),
      (2L * t, "view", "h2", 5.0),
      (61L * t, "click", "h1", 3.0), (61L * t, "view", "h1", 4.0))
      .map { case (ts, m, h, v) => (ts, m, h, v, null.asInstanceOf[java.lang.Long],
        null.asInstanceOf[java.lang.Long]) }
      .toDF("timestamp_ns", "metric_name", "host", "value_f64", "value_i64", "value_u64")
      .createOrReplaceTempView("metrics")
    val sql = PromQL.transpileRange(
      "sum by (host) (click) / sum by (host) (view) * 100", 0L, 120L * t, 60L)
    val got = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, "h1", 25.0), (60L * t, "h1", 75.0)), got.toString)
    // precedence: a + b * c must compute b*c first (h1 bucket 0:
    // click + view*view = 2 + 64 = 66, NOT (2+8)*8 = 80)
    val sql2 = PromQL.transpileRange(
      "sum by (host) (click) + sum by (host) (view) * sum by (host) (view)",
      0L, 59L * t, 60L)
    val got2 = spark.sql(sql2).collect().map(r => r.getDouble(2)).toSeq
    assert(got2 == Seq(66.0), got2.toString)
  }

  test("EXTENSION r11: histogram_quantile — interpolation, +Inf cap, le " +
    "grouping required, totality fallback") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val t = 1000000000L
    // one bucket window, host h1: cumulative counts 10 (le=1), 15 (le=2),
    // 20 (+Inf). φ=0.5 → rank 10 → first bucket (prev 0): 0 + 1*(10/10) = 1.0;
    // φ=0.6 → rank 12 → second bucket: 1 + (2-1)*(12-10)/(15-10) = 1.4;
    // φ=0.9 → rank 18 → +Inf bucket → highest finite le = 2.0
    val rows = Seq(("1", 10.0), ("2", 15.0), ("+Inf", 20.0)).flatMap { case (le, c) =>
      // encode cumulative counts as c samples of value 1 per bucket? simpler:
      // one sample per bucket whose SUM is the cumulative count
      Seq((1L * t, "lat_bucket", "h1", le, c))
    }
    rows.map { case (ts, m, h, le, v) => (ts, m, h, le, v,
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]) }
      .toDF("timestamp_ns", "metric_name", "host", "le", "value_f64",
        "value_i64", "value_u64")
      .createOrReplaceTempView("metrics")
    def q(phi: Double): Seq[(Long, String, Double)] = {
      val sql = PromQL.transpileRange(
        s"histogram_quantile($phi, sum by (le, host) (lat_bucket))", 0L, 59L * t, 60L)
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    }
    assert(q(0.5) == Seq((0L, "h1", 1.0)), q(0.5).toString)
    assert(q(0.6) == Seq((0L, "h1", 1.4)), q(0.6).toString)
    assert(q(0.9) == Seq((0L, "h1", 2.0)), q(0.9).toString)
    // inner aggregation not grouped by le → totality fallback, never a throw
    val fb = PromQL.transpileRange(
      "histogram_quantile(0.9, sum by (host) (lat_bucket))", 0L, 1L, 60L)
    assert(fb.contains("FROM metrics"), fb)
    // φ out of [0,1] → fallback
    val fb2 = PromQL.transpileRange(
      "histogram_quantile(1.5, sum by (le) (lat_bucket))", 0L, 1L, 60L)
    assert(!fb2.contains("max_fin"), fb2)
  }

  test("EXTENSION r12: histogram_quantile total comes from the +Inf bucket — " +
    "a group without +Inf drops (Prometheus: NaN), and a malformed " +
    "non-cumulative set cannot manufacture a quantile from a mid-range max") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val t = 1000000000L
    // h1: well-formed with +Inf (cumulative 10/15/20);
    // h2: NO +Inf bucket — must produce no row, not an interpolated value;
    // h3: malformed non-cumulative (mid bucket 30 > +Inf 20) — total must be
    //     the +Inf value 20 (rank 18 ≤ 30 lands in the FIRST bucket whose
    //     cnt ≥ rank), never 30
    val rows =
      Seq(("h1", "1", 10.0), ("h1", "2", 15.0), ("h1", "+Inf", 20.0),
          ("h2", "1", 10.0), ("h2", "2", 15.0),
          ("h3", "1", 5.0), ("h3", "2", 30.0), ("h3", "+Inf", 20.0))
    rows.map { case (h, le, v) => (1L * t, "lat_bucket", h, le, v,
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long]) }
      .toDF("timestamp_ns", "metric_name", "host", "le", "value_f64",
        "value_i64", "value_u64")
      .createOrReplaceTempView("metrics")
    val sql = PromQL.transpileRange(
      "histogram_quantile(0.9, sum by (le, host) (lat_bucket))", 0L, 59L * t, 60L)
    val got = spark.sql(sql).collect()
      .map(r => (r.getString(1), r.getDouble(2))).toMap
    assert(!got.contains("h2"), s"+Inf-less group must drop: $got")
    assert(got("h1") == 2.0, got.toString)
    // h3 rank = 0.9*20 = 18; first bucket with cnt >= 18 is le=2 (cnt 30):
    // 1 + (2-1)*(18-5)/(30-5) = 1.52 — derived from the +Inf total, not 30
    assert(math.abs(got("h3") - 1.52) < 1e-9, got.toString)
  }

  test("EXTENSION: offset without an evaluation time must not shift the reported timestamp") {
    // no timeNs anchor ⇒ the scan is unshifted, so adding the offset to the
    // representative timestamp would fabricate a time later than any sample
    val sql = PromQL.transpileInstant("sum(cpu offset 1h)")
    assert(sql.contains("MAX(timestamp_ns) AS timestamp_ns") &&
      !sql.contains("MAX(timestamp_ns) +"), sql)
    // with the anchor, both the bound and the mapping shift
    val anchored = PromQL.transpileInstant("sum(cpu offset 1h)", Some(7200000000000L))
    assert(anchored.contains("timestamp_ns <= 3600000000000") &&
      anchored.contains("MAX(timestamp_ns) + 3600000000000"), anchored)
  }

  test("bare selector") {
    val p = PromQL.parse("cpu_usage")
    assert(p.metricName == "cpu_usage")
    assert(p.labelMatchers.isEmpty && p.aggregation.isEmpty && p.function.isEmpty)
  }

  test("selector with matchers: = != =~ !~") {
    val p = PromQL.parse("""http_requests{env!="prod", pod=~"web-.*"}""")
    assert(p.metricName == "http_requests")
    assert(p.labelMatchers == Seq(
      LabelMatcher("env", "!=", "prod"), LabelMatcher("pod", "=~", "web-.*")))
  }

  test("single matcher") {
    val p = PromQL.parse("""cpu_usage{host="server1"}""")
    assert(p.labelMatchers == Seq(LabelMatcher("host", "=", "server1")))
  }

  test("aggregations with by clause") {
    val p = PromQL.parse("sum by (service) (cpu_usage)")
    assert(p.aggregation.contains("sum") && p.groupBy == Seq("service"))
    val p2 = PromQL.parse("avg by (host, region) (mem_usage)")
    assert(p2.aggregation.contains("avg") && p2.groupBy == Seq("host", "region"))
    val p3 = PromQL.parse("sum(cpu_usage)")
    assert(p3.aggregation.contains("sum") && p3.groupBy.isEmpty)
  }

  test("range functions") {
    val p = PromQL.parse("rate(http_requests_total[5m])")
    assert(p.function.contains("rate") && p.rangeSeconds.contains(300L))
    assert(p.metricName == "http_requests_total")
    val p2 = PromQL.parse("increase(errors_total[1h])")
    assert(p2.function.contains("increase") && p2.rangeSeconds.contains(3600L))
  }

  test("aggregation over range function") {
    val p = PromQL.parse("sum by (host) (rate(reqs[5m]))")
    assert(p.aggregation.contains("sum") && p.function.contains("rate") &&
      p.groupBy == Seq("host") && p.metricName == "reqs")
  }

  test("matcher → SQL: regex is unanchored RLIKE; quotes escaped") {
    assert(PromQL.matcherToSql(LabelMatcher("pod", "=~", "web-.*")) ==
      "`pod` RLIKE 'web-.*'")
    assert(PromQL.matcherToSql(LabelMatcher("env", "!~", "prod")) ==
      "(`env` IS NULL OR NOT (`env` RLIKE 'prod'))")
    assert(PromQL.matcherToSql(LabelMatcher("h", "=", "o'brien")) ==
      "`h` = 'o''brien'")
    // the IDENTIFIER is escaped too: a backtick inside a label name cannot
    // break out of the identifier quoting (same injection class as the value)
    assert(PromQL.matcherToSql(LabelMatcher("a`b", "=", "x")) ==
      "`a``b` = 'x'")
  }

  test("EXTENSION: two-arg topk/bottomk/quantile parse the param and apply it") {
    val p = PromQL.parse("""topk(5, cpu_usage{env="prod"})""")
    assert(p.aggregation.contains("topk") && p.param.contains(5.0) &&
      p.metricName == "cpu_usage")
    val sql = PromQL.transpileInstant("""topk(5, cpu_usage{env="prod"})""")
    // group cols after `value` pin tie order deterministically across engines
    assert(sql.contains("ORDER BY value DESC, metric_name LIMIT 5"))
    assert(sql.contains("MAX(") && !sql.replace("MAX(timestamp_ns)", "").contains("MIN("))
    val bk = PromQL.transpileInstant("bottomk(3, mem_usage) by (host)")
    assert(bk.contains("ORDER BY value ASC, metric_name, `host` LIMIT 3") &&
      bk.contains("GROUP BY metric_name, `host`"))
    // bottomk's series representative is MIN(value): ordering per-series MAXima
    // ascending would pick the k series whose maximum is smallest — inverted
    // intent for series with wide value ranges.
    assert(bk.contains("MIN(COALESCE") && bk.contains("MIN(COALESCE(value_f64"))
    val q = PromQL.transpileInstant("quantile(0.95, lat)")
    assert(q.contains("PERCENTILE(") && q.contains("0.95"))
    // single-arg topk keeps the reference's degrade-to-no-limit quirk
    val quirk = PromQL.transpileInstant("topk(cpu_usage)")
    assert(!quirk.contains("LIMIT"))
  }

  test("matcher → SQL: backslashes survive Spark string-literal escaping") {
    // `=~"\d+"` must reach RLIKE as \d+ — Spark literals eat single backslashes,
    // so the SQL text needs them doubled
    assert(PromQL.matcherToSql(LabelMatcher("pod", "=~", "\\d+")) ==
      "`pod` RLIKE '\\\\d+'")
    // a value ending in a backslash must not escape the closing quote
    assert(PromQL.matcherToSql(LabelMatcher("path", "=", "C:\\")) ==
      "`path` = 'C:\\\\'")
    // end-to-end: the generated condition actually matches digits via Spark
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq("abc123", "nodigits", "d+").toDF("pod")
    val got = df.filter(org.apache.spark.sql.functions.expr(
      PromQL.matcherToSql(LabelMatcher("pod", "=~", "\\d+"))))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("abc123"))
  }

  test("instant transpile: agg query shape") {
    val sql = PromQL.transpileInstant("sum by (service) (cpu_usage)")
    assert(sql.contains("SUM(COALESCE(value_f64, CAST(value_i64 AS DOUBLE), CAST(value_u64 AS DOUBLE)))"))
    assert(sql.contains("metric_name = 'cpu_usage'"))
    assert(sql.contains("GROUP BY metric_name, `service`"))
    assert(sql.contains("ORDER BY value DESC"))
  }

  test("instant transpile: bare selector → latest row") {
    val sql = PromQL.transpileInstant("cpu_usage", timeNs = Some(123L))
    assert(sql.contains("SELECT * FROM metrics"))
    assert(sql.contains("timestamp_ns <= 123"))
    assert(sql.contains("ORDER BY timestamp_ns DESC LIMIT 1"))
  }

  test("range transpile: bucketing + rate approximation") {
    val sql = PromQL.transpileRange("rate(reqs[5m])", 0L, 1000000000L, 60L)
    assert(sql.contains("(timestamp_ns DIV 60000000000) * 60000000000 AS time_bucket"))
    assert(sql.contains("(MAX(COALESCE(value_f64, CAST(value_i64 AS DOUBLE), CAST(value_u64 AS DOUBLE))) - MIN("))
    assert(sql.contains("/ (300)")) // rangeSeconds, not step
    assert(sql.contains("timestamp_ns >= 0 AND timestamp_ns <= 1000000000"))
  }

  test("range transpile: default per-bucket AVG; unknown agg → AVG") {
    val sql = PromQL.transpileRange("cpu_usage", 0L, 10L, 1L)
    assert(sql.contains("AVG(COALESCE"))
  }

  test("topk degrades to non-limited aggregation (reference quirk)") {
    val sql = PromQL.transpileInstant("topk(5, cpu)") // not the std form; parse fallback
    assert(sql.nonEmpty)
    val p = PromQL.parse("topk(cpu_usage)")
    assert(p.aggregation.contains("topk"))
  }

  test("label values SQL + identifier validation") {
    assert(PromQL.labelValuesSql("__name__") ==
      "SELECT DISTINCT `metric_name` AS value FROM metrics ORDER BY value")
    assert(PromQL.labelValuesSql("host").contains("`host`"))
    intercept[IllegalArgumentException] {
      PromQL.labelValuesSql("host; DROP TABLE metrics")
    }
  }
}
