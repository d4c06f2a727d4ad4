package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.ChunkCatalog
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.util.ShmDirs

/** Engine-integrated naive-top-k rewrite (graft.plans.TopKRouting): the SAME
  * SQL text — row_number() ≤ k over the engine's `metrics` relation — re-plans as
  * the two-phase Operators.topKPerGroup with identical rows; anything the
  * matcher does not fully understand routes to the raw window plan.
  */
class TopKRoutingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L

  /** 2 metrics × 3 hosts × 40 points, values a total order within a metric. */
  private def freshEngine(): QueryEngine = new QueryEngine(spark, freshCatalog())

  private def freshCatalog(): ChunkCatalog = {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_topk_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val points = for {
      m <- Seq("cpu_usage", "mem_usage")
      host <- Seq("server1", "server2", "server3")
      i <- 0 until 40
    } yield MetricPoint(t0 + i * 60L * 1000000000L, m,
      (i * 3 + host.last.toInt * 7 + m.length) % 97,
      Map("host" -> host))
    writer.write(Converters.pointsToDf(spark, points))
    cat
  }

  private def routed(s: QueryEngine.Served): Boolean = s.route == QueryEngine.TopK

  /** Serve and run `sql`; true iff TopKRouting re-planned it. */
  private def runsRouted(eng: QueryEngine, sql: String): Boolean = {
    val s = eng.serve(sql)
    s.df.collect()
    routed(s)
  }

  private val naiveSql =
    "SELECT metric_name, host, timestamp_ns, value_f64, rn FROM (" +
      "SELECT metric_name, host, timestamp_ns, value_f64, " +
      "row_number() OVER (PARTITION BY metric_name ORDER BY value_f64 DESC, " +
      "timestamp_ns, host) AS rn FROM metrics " +
      s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
      ") WHERE rn <= 5 ORDER BY metric_name, rn"

  test("row_number ≤ k rewrites to the two-phase shape with identical rows") {
    val cat = freshCatalog()
    val eng = new QueryEngine(spark, cat)
    val raw = SparkTestBase.referenceRows(cat, naiveSql)
    assert(raw.size == 10) // 2 metrics × top-5
    val served = eng.serve(naiveSql)
    assert(routed(served), "the naive shape must re-plan")
    // the two-phase local-prune marker must be in the executed plan
    val plan = served.df.queryExecution.executedPlan.toString
    assert(plan.contains("__rn_local"),
      s"expected the two-phase local-prune stage in the plan:\n$plan")
    assert(served.df.collect().map(_.toSeq).toSeq == raw,
      "rewritten result must equal the naive window result")
    // warm repeat stays truthful
    val repeat = eng.serve(naiveSql)
    assert(repeat.mode == "l1" && routed(repeat))
  }

  test("expression ordering routes too (analyzer extracts it into the child projection)") {
    val cat = freshCatalog()
    val eng = new QueryEngine(spark, cat)
    val sql =
      "SELECT metric_name, host, rn FROM (" +
        "SELECT metric_name, host, row_number() OVER (PARTITION BY metric_name " +
        "ORDER BY value_f64 * 2 DESC, timestamp_ns, host) AS rn FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
        ") WHERE rn <= 3 ORDER BY metric_name, rn"
    val raw = SparkTestBase.referenceRows(cat, sql)
    val served = eng.serve(sql)
    assert(routed(served), "expression ordering must still match via _w0")
    assert(served.df.collect().map(_.toSeq).toSeq == raw)
  }

  test("non-routable shapes stay on the raw plan") {
    val eng = freshEngine()
    // extra conjunct on the rank filter: not a single bound
    assert(!runsRouted(eng, naiveSql.replace("WHERE rn <= 5", "WHERE rn <= 5 AND rn > 1")))
    // no partition: global top-k (TakeOrdered territory)
    assert(!runsRouted(eng,
      "SELECT metric_name, rn FROM (SELECT metric_name, row_number() OVER (" +
        "ORDER BY value_f64 DESC, timestamp_ns, host, metric_name) AS rn FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
        ") WHERE rn <= 5 ORDER BY rn"))
    // rank() instead of row_number(): different tie semantics, never rewritten
    assert(!runsRouted(eng,
      "SELECT metric_name, rn FROM (SELECT metric_name, rank() OVER (" +
        "PARTITION BY metric_name ORDER BY value_f64 DESC) AS rn FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
        ") WHERE rn <= 5 ORDER BY metric_name, rn"))
    // a foreign table mimicking the schema must not be rewritten
    val foreign = ShmDirs.tempDir("graft_topk_f_").resolve("t").toString
    Converters.pointsToDf(spark,
        Seq(MetricPoint(t0, "cpu_usage", 999.0, Map("host" -> "server1"))))
      .write.parquet(foreign)
    spark.read.parquet(foreign).createOrReplaceTempView("foreign_metrics_topk")
    val served = eng.serve(naiveSql.replace("FROM metrics ", "FROM foreign_metrics_topk "))
    val out = served.df.collect()
    assert(!routed(served))
    assert(out.length == 1 && out(0).getAs[Double]("value_f64") == 999.0)
    // and the routable shape still routes afterwards
    assert(runsRouted(eng, naiveSql))
  }

  test("routes over the one-task coalesced view and over the partitioned scan alike") {
    val cat = freshCatalog()
    def coalesced(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case m: graft.plans.MetricsScan if m.oneTask => ()
      }.isDefined
    val small = new QueryEngine(spark, cat)
    val smallServed = small.serve(naiveSql)
    val smallRows = smallServed.df.collect().map(_.toSeq).toSeq
    assert(routed(smallServed) && coalesced(smallServed.df),
      "a dashboard-sized chunk set binds as the one-task relation and still routes")
    // cut-off 0: no chunk set is small enough, the relation stays a plain scan
    val large = new QueryEngine(spark, cat)
    large.oneTaskMaxBytes = 0L
    val largeServed = large.serve(naiveSql)
    val largeRows = largeServed.df.collect().map(_.toSeq).toSeq
    assert(routed(largeServed) && !coalesced(largeServed.df))
    assert(smallRows == largeRows && smallRows.size == 10)
  }
}
