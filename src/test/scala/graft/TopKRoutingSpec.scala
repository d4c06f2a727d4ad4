package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.ChunkCatalog
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import java.nio.file.Files

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
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_topk_"), cacheTtlMs = 0L)
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

  private val naiveSql =
    "SELECT metric_name, host, timestamp_ns, value_f64, rn FROM (" +
      "SELECT metric_name, host, timestamp_ns, value_f64, " +
      "row_number() OVER (PARTITION BY metric_name ORDER BY value_f64 DESC, " +
      "timestamp_ns, host) AS rn FROM metrics " +
      s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
      ") WHERE rn <= 5 ORDER BY metric_name, rn"

  test("row_number ≤ k rewrites to the two-phase shape with identical rows") {
    val eng = freshEngine()
    eng.topKRoutingEnabled = false
    val raw = eng.sql(naiveSql).collect().map(_.toSeq).toSeq
    assert(!eng.lastTopKRouted && raw.size == 10) // 2 metrics × top-5
    eng.topKRoutingEnabled = true
    val routed = eng.sql(naiveSql)
    assert(eng.lastTopKRouted, "the naive shape must re-plan")
    // the two-phase local-prune marker must be in the executed plan
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("__rn_local"),
      s"expected the two-phase local-prune stage in the plan:\n$plan")
    assert(routed.collect().map(_.toSeq).toSeq == raw,
      "rewritten result must equal the naive window result")
    // warm repeat stays truthful
    eng.sql(naiveSql)
    assert(eng.lastTopKRouted)
  }

  test("expression ordering routes too (analyzer extracts it into the child projection)") {
    val eng = freshEngine()
    val sql =
      "SELECT metric_name, host, rn FROM (" +
        "SELECT metric_name, host, row_number() OVER (PARTITION BY metric_name " +
        "ORDER BY value_f64 * 2 DESC, timestamp_ns, host) AS rn FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
        ") WHERE rn <= 3 ORDER BY metric_name, rn"
    eng.topKRoutingEnabled = false
    val raw = eng.sql(sql).collect().map(_.toSeq).toSeq
    eng.topKRoutingEnabled = true
    val routed = eng.sql(sql)
    assert(eng.lastTopKRouted, "expression ordering must still match via _w0")
    assert(routed.collect().map(_.toSeq).toSeq == raw)
  }

  test("non-routable shapes stay on the raw plan") {
    val eng = freshEngine()
    // extra conjunct on the rank filter: not a single bound
    eng.sql(naiveSql.replace("WHERE rn <= 5", "WHERE rn <= 5 AND rn > 1")).collect()
    assert(!eng.lastTopKRouted)
    // no partition: global top-k (TakeOrdered territory)
    eng.sql(
      "SELECT metric_name, rn FROM (SELECT metric_name, row_number() OVER (" +
        "ORDER BY value_f64 DESC, timestamp_ns, host, metric_name) AS rn FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
        ") WHERE rn <= 5 ORDER BY rn").collect()
    assert(!eng.lastTopKRouted)
    // rank() instead of row_number(): different tie semantics, never rewritten
    eng.sql(
      "SELECT metric_name, rn FROM (SELECT metric_name, rank() OVER (" +
        "PARTITION BY metric_name ORDER BY value_f64 DESC) AS rn FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs}" +
        ") WHERE rn <= 5 ORDER BY metric_name, rn").collect()
    assert(!eng.lastTopKRouted)
    // a foreign table mimicking the schema must not be rewritten
    val foreign = Files.createTempDirectory("graft_topk_f_").resolve("t").toString
    Converters.pointsToDf(spark,
        Seq(MetricPoint(t0, "cpu_usage", 999.0, Map("host" -> "server1"))))
      .write.parquet(foreign)
    spark.read.parquet(foreign).createOrReplaceTempView("foreign_metrics_topk")
    val out = eng.sql(naiveSql.replace("FROM metrics ", "FROM foreign_metrics_topk "))
      .collect()
    assert(!eng.lastTopKRouted)
    assert(out.length == 1 && out(0).getAs[Double]("value_f64") == 999.0)
    // and the routable shape still routes afterwards
    eng.sql(naiveSql).collect()
    assert(eng.lastTopKRouted)
  }

  test("routes over the one-task coalesced view and over the partitioned scan alike") {
    val cat = freshCatalog()
    def coalesced(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case org.apache.spark.sql.catalyst.plans.logical.Repartition(1, false, _) => ()
      }.isDefined
    val small = new QueryEngine(spark, cat)
    val smallDf = small.sql(naiveSql)
    val smallRows = smallDf.collect().map(_.toSeq).toSeq
    assert(small.lastTopKRouted && coalesced(smallDf),
      "a dashboard-sized chunk set binds as the one-task relation and still routes")
    // cut-off 0: no chunk set is small enough, the relation stays a plain scan
    val large = new QueryEngine(spark, cat)
    large.oneTaskMaxBytes = 0L
    val largeDf = large.sql(naiveSql)
    val largeRows = largeDf.collect().map(_.toSeq).toSeq
    assert(large.lastTopKRouted && !coalesced(largeDf))
    assert(smallRows == largeRows && smallRows.size == 10)
  }
}
