package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.ChunkCatalog
import graft.compact.Downsampler
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.util.ShmDirs

/** Engine-integrated rollup routing (graft.plans.RollupRouting): the SAME SQL
  * text answers from the registered rollup when it qualifies and from raw
  * chunks when it doesn't, with identical results. Values are integer-valued
  * doubles so sums are exact in any association order — result equality can be
  * asserted exactly, not approximately.
  */
class RollupRoutingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z, hour-aligned

  /** 4 hours × 2 metrics × 2 hosts × 12 points/hour, integer values. */
  private def freshEngine(): (QueryEngine, ChunkCatalog, ChunkWriter) = {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_rollup_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val points = for {
      h <- 0 until 4
      m <- Seq("cpu_usage", "mem_usage")
      host <- Seq("server1", "server2")
      i <- 0 until 12
    } yield MetricPoint(t0 + h * hourNs + i * 300L * 1000000000L,
      m, ((h * 31 + i * 7) % 23).toDouble, Map("host" -> host))
    writer.write(Converters.pointsToDf(spark, points))
    (new QueryEngine(spark, cat), cat, writer)
  }

  private def routed(s: QueryEngine.Served): Boolean = s.route == QueryEngine.Rollup

  private val bucketedSql: String = {
    val step = 2L * hourNs
    s"SELECT (timestamp_ns div $step) * $step AS time_bucket, metric_name, host, " +
      "round(sum(value_f64), 4) AS sum_v, min(value_f64) AS min_v, " +
      "max(value_f64) AS max_v, count(*) AS cnt, avg(value_f64) AS avg_v " +
      s"FROM metrics WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
  }

  test("bucketed aggregate routes to the rollup, reads no raw chunk, equals the raw answer") {
    val (eng, cat, _) = freshEngine()
    // the raw answer first (no rollup registered yet)
    val rawServed = eng.serve(bucketedSql)
    val rawDf = rawServed.df
    val raw = rawDf.collect().map(_.toSeq).toSeq
    assert(!routed(rawServed) && raw.size == 8) // 2 buckets × 2 metrics × 2 hosts
    // premise: this chunk set is small, so the engine's leaf reads it as
    // one task — routing below must route that leaf too
    assert(rawDf.queryExecution.analyzed.collectFirst {
      case m: graft.plans.MetricsScan if m.oneTask => ()
    }.isDefined)
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    val routedServed = eng.serve(bucketedSql)
    val routedDf = routedServed.df
    assert(routed(routedServed), "2h step over a 1h rollup must route")
    // the physical scan reads the rollup table, not the raw chunk files
    val plan = routedDf.queryExecution.executedPlan.toString
    assert(plan.contains("rollup"), s"scan must read the rollup table:\n$plan")
    assert(!plan.contains("/data/"), s"no raw chunk may be read:\n$plan")
    assert(routedDf.collect().map(_.toSeq).toSeq == raw,
      "rollup-served result must EQUAL the raw aggregation")
    // warm repeat stays truthful about its source
    val repeat = eng.serve(bucketedSql)
    assert(repeat.mode == "l1" && routed(repeat))
  }

  test("routing never rewrites a foreign table that mimics the metrics schema") {
    val (eng, cat, _) = freshEngine()
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    // a user-visible parquet table with IDENTICAL column names but its own
    // data — a bucketed aggregate over it must answer from ITS rows, never
    // be silently rewritten onto this warehouse's rollup
    val foreign = ShmDirs.tempDir("graft_foreign_").resolve("t").toString
    Converters.pointsToDf(spark,
        Seq(MetricPoint(t0, "cpu_usage", 999.0, Map("host" -> "server1"))))
      .write.parquet(foreign)
    spark.read.parquet(foreign).createOrReplaceTempView("foreign_metrics")
    val served = eng.serve(bucketedSql.replace("FROM metrics ", "FROM foreign_metrics "))
    val out = served.df.collect()
    assert(!routed(served), "foreign relation must not route")
    assert(out.length == 1 && out(0).getAs[Double]("sum_v") == 999.0)
  }

  test("non-routable shapes fall back to raw: unaligned bound, non-multiple step, unknown label") {
    val (eng, cat, _) = freshEngine()
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    val step = 2L * hourNs
    def runs(sql: String): Boolean = {
      val s = eng.serve(sql)
      s.df.collect()
      routed(s)
    }
    // bound not bucket-aligned (off by one second)
    assert(!runs(s"SELECT metric_name, count(*) AS cnt FROM metrics " +
      s"WHERE timestamp_ns >= ${t0 + 1000000000L} AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "GROUP BY 1 ORDER BY 1"), "unaligned lower bound must not route")
    // step not a multiple of the resolution (90 min over a 1h rollup)
    val badStep = 5400L * 1000000000L
    assert(!runs(s"SELECT (timestamp_ns div $badStep) * $badStep AS b, count(*) AS cnt " +
      s"FROM metrics WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "GROUP BY 1 ORDER BY 1"), "non-multiple step must not route")
    // a predicate on a column the rollup does not retain per-row
    assert(!runs(s"SELECT metric_name, count(*) AS cnt FROM metrics " +
      s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "AND value_f64 >= 1.0 GROUP BY 1 ORDER BY 1"), "row-level value predicate must not route")
    // an aggregate over a column the rollup does not store
    assert(!runs(s"SELECT metric_name, count(DISTINCT host) AS h FROM metrics " +
      s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "GROUP BY 1 ORDER BY 1"), "count distinct must not route")
    // the routable shape still routes after all those misses
    assert(runs(s"SELECT (timestamp_ns div $step) * $step AS b, count(*) AS cnt " +
      s"FROM metrics WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "GROUP BY 1 ORDER BY 1"))
  }

  test("write-invalidation: a new overlapping chunk drops the rollup; retention drops it too") {
    val (eng, cat, writer) = freshEngine()
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    val beforeServed = eng.serve(bucketedSql)
    val before = beforeServed.df.collect().map(_.toSeq).toSeq
    assert(routed(beforeServed))
    // new raw data inside the covered window: rollup must vanish and the SAME
    // SQL must answer from raw — now INCLUDING the new rows
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + hourNs + 1000L, "cpu_usage", 100.0, Map("host" -> "server1")))))
    assert(cat.rollups.isEmpty, "overlapping ingest must invalidate the rollup")
    val afterServed = eng.serve(bucketedSql)
    val after = afterServed.df.collect().map(_.toSeq).toSeq
    assert(!routed(afterServed), "stale cache must not serve the dropped rollup")
    assert(after != before, "the new row must be visible (no stale rollup serving)")
    // retention removal likewise invalidates (it deletes rows)
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    assert(cat.rollups.nonEmpty)
    new graft.compact.Compactor(spark, cat).applyRetention(t0 + 2 * hourNs,
      skewMarginNs = 0L)
    assert(cat.rollups.isEmpty, "retention must invalidate overlapping rollups")
  }

  test("date_trunc buckets route (minute/hour/day); non-UTC zone refuses hour, keeps minute") {
    val (eng, cat, _) = freshEngine()
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 60L,
      labelCols = Seq("host"))
    val lo = "TIMESTAMP '2024-01-01 00:00:00+00:00'"
    val hiHours = "TIMESTAMP '2024-01-01 04:00:00+00:00'"
    val hiDay = "TIMESTAMP '2024-01-02 00:00:00+00:00'"
    def q(unit: String, hi: String) =
      s"SELECT date_trunc('$unit', timestamp) AS b, metric_name, host, " +
        "sum(value_f64) AS sum_v, count(*) AS cnt " +
        s"FROM metrics WHERE timestamp >= $lo AND timestamp < $hi " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    // 12 points/hour at whole minutes: 48×4 / 4×4 / 1×4 expected rows
    for ((unit, hi, rows) <- Seq(("minute", hiHours, 192), ("hour", hiHours, 16),
        ("day", hiDay, 4))) {
      val raw = SparkTestBase.referenceRows(cat, q(unit, hi))
      assert(raw.size == rows, s"$unit raw shape")
      val served = eng.serve(q(unit, hi))
      assert(routed(served), s"date_trunc('$unit') must route")
      val plan = served.df.queryExecution.executedPlan.toString
      assert(plan.contains("rollup") && !plan.contains("/data/"),
        s"$unit must read only the rollup table:\n$plan")
      assert(served.df.collect().map(_.toSeq).toSeq == raw,
        s"date_trunc('$unit') routed result must equal raw")
    }
    // Kathmandu is +05:45: hour/day truncation boundaries sit off the UTC
    // bucket grid → must answer from raw; minute truncation is still exact
    // under any whole-minute offset → still routes
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    val eng2 = new QueryEngine(s2, cat)
    val hour = eng2.serve(q("hour", hiHours))
    hour.df.collect()
    assert(!routed(hour), "hour truncation in +05:45 must not route")
    val minute = eng2.serve(q("minute", hiHours))
    minute.df.collect()
    assert(routed(minute), "minute truncation is zone-safe and must route")
  }

  test("BETWEEN and ns-column bounds route (closed-closed +1 edge absorbed)") {
    val (eng, cat, _) = freshEngine()
    Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    val step = hourNs
    // BETWEEN on timestamp_ns: closed-closed, upper edge at bucket-end−1 ns
    val q1 = s"SELECT (timestamp_ns div $step) * $step AS b, metric_name, " +
      "sum(value_f64) AS s FROM metrics " +
      s"WHERE timestamp_ns BETWEEN $t0 AND ${t0 + 4 * hourNs - 1} " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    // date_trunc leg bounded on the ns column instead of the µs timestamp
    val q2 = "SELECT date_trunc('hour', timestamp) AS b, metric_name, " +
      "sum(value_f64) AS s FROM metrics " +
      s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + 4 * hourNs} " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    // BETWEEN on the µs timestamp column (closed-closed Grafana range shape)
    val q3 = "SELECT date_trunc('hour', timestamp) AS b, metric_name, " +
      "sum(value_f64) AS s FROM metrics " +
      "WHERE timestamp BETWEEN TIMESTAMP '2024-01-01 00:00:00+00:00' " +
      "AND TIMESTAMP '2024-01-01 03:59:59.999999+00:00' " +
      "GROUP BY 1, 2 ORDER BY 1, 2"
    for ((q, name) <- Seq((q1, "ns BETWEEN"), (q2, "trunc + ns bounds"),
        (q3, "µs BETWEEN"))) {
      val raw = SparkTestBase.referenceRows(cat, q)
      assert(raw.nonEmpty)
      val served = eng.serve(q)
      assert(routed(served), s"$name must route")
      assert(served.df.collect().map(_.toSeq).toSeq == raw, s"$name routed == raw")
    }
    // misaligned BETWEEN upper edge (mid-bucket) must stay on raw — absorbing
    // it would add the rest of the bucket's rows
    val midBucket = eng.serve(s"SELECT (timestamp_ns div $step) * $step AS b, " +
      s"sum(value_f64) AS s FROM metrics WHERE timestamp_ns BETWEEN $t0 AND " +
      s"${t0 + hourNs + 5} GROUP BY 1")
    midBucket.df.collect()
    assert(!routed(midBucket), "mid-bucket BETWEEN upper bound must not route")
  }

  test("catalog JSON roundtrips rollup registrations") {
    val (_, cat, _) = freshEngine()
    val meta = Downsampler.materializeRollup(spark, cat, resolutionSeconds = 3600L,
      labelCols = Seq("host"))
    val reread = new ChunkCatalog(cat.root, cacheTtlMs = 0L).state
    assert(reread.rollups == List(meta))
  }
}
