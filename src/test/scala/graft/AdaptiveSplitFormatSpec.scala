package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.adaptive.AdaptiveIndex
import graft.adaptive.AdaptiveIndex.{IndexType, LifecycleState}
import graft.catalog.ChunkCatalog
import graft.compact.{ColumnPromoter, ShardSplitter}
import graft.engine.ResultFormat
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.util.ShmDirs

class AdaptiveSplitFormatSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val t0 = 1704067200L * 1000000000L
  private val hourNs = 3600L * 1000000000L

  test("stats collector: counters, percentiles, window eviction") {
    val sc = new AdaptiveIndex.StatsCollector(windowMs = 1000L)
    sc.recordFilter("host", 0.1, nowMs = 0L)
    sc.recordFilter("host", 0.3, nowMs = 100L)
    sc.recordFilter("host", 0.2, nowMs = 200L)
    sc.recordGroupBy("service", nowMs = 200L)
    assert(sc.filterCount("host") == 3)
    assert(sc.groupByCount("service") == 1)
    assert(sc.selectivityPercentile("host", 0.5).contains(0.2))
    sc.recordFilter("host", 0.9, nowMs = 2000L) // evicts the first three
    assert(sc.filterCount("host") == 1)
  }

  test("stats collector: concurrent records are all counted") {
    val sc = new AdaptiveIndex.StatsCollector()
    val (threads, perThread) = (4, 3000)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map(_ => pool.submit(new Runnable {
        override def run(): Unit = (0 until perThread).foreach { _ =>
          sc.recordFilter("host", 0.1, nowMs = 0L)
          sc.recordGroupBy("service", nowMs = 0L)
        }
      }))
      done.foreach(_.get())
    } finally pool.shutdown()
    assert(sc.filterCount("host") == threads * perThread)
    assert(sc.groupByCount("service") == threads * perThread)
  }

  test("stats collector: records from analyzed Spark plans") {
    import spark.implicits._
    val df = Seq(("cpu", 1.0)).toDF("metric_name", "v")
    val plan = df.filter(col("metric_name") === "cpu").groupBy("metric_name")
      .agg(sum("v")).queryExecution.analyzed
    val sc = new AdaptiveIndex.StatsCollector()
    sc.recordFromPlan(plan)
    assert(sc.filterCount("metric_name") == 1)
    assert(sc.groupByCount("metric_name") == 1)
  }

  test("recommender: score formula and cardinality-class index type") {
    val sc = new AdaptiveIndex.StatsCollector()
    (1 to 10).foreach(_ => sc.recordFilter("env", 0.01, nowMs = 0L))
    (1 to 10).foreach(_ => sc.recordFilter("pod", 0.01, nowMs = 0L))
    sc.recordFilter("rare", 0.99, nowMs = 0L)
    val recs = AdaptiveIndex.recommend(sc,
      cardinalities = Map("env" -> 5L, "pod" -> 5000000L, "rare" -> 10L))
    val byCol = recs.map(r => r.column -> r).toMap
    assert(byCol("env").indexType == IndexType.Inverted)
    assert(byCol("pod").indexType == IndexType.BloomFilter)
    assert(!byCol.contains("rare")) // low benefit → below minScore
    // score = 10 * (1-0.01) * 50 / 15 = 33.0
    assert(math.abs(byCol("env").score - 33.0) < 1e-9)
  }

  test("lifecycle: invisible→visible→deprecated→removed") {
    import AdaptiveIndex._
    val day = 86400L * 1000
    var e = IndexEntry("host", LifecycleState.Invisible, createdMs = 0L,
      lastUsedMs = 0L, wouldHaveHelped = 5L)
    e = advance(e, nowMs = 49L * 3600 * 1000)
    assert(e.state == LifecycleState.Visible)
    e = advance(e, nowMs = 31L * day)
    assert(e.state == LifecycleState.Deprecated)
    e = advance(e, nowMs = 38L * day)
    assert(e.state == LifecycleState.Removed)
    // invisible with no would-have-helped stays invisible
    val stuck = advance(IndexEntry("x", LifecycleState.Invisible, 0L, 0L, 0L),
      nowMs = 100L * day)
    assert(stuck.state == LifecycleState.Invisible)
  }

  test("shard split: rewrite at split point, dedup during, atomic swap, no loss") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_split_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val points = (0 until 60).map(i =>
      MetricPoint(t0 + i * 60L * 1000000000L, "cpu", i.toDouble, Map("host" -> "a")))
    writer.write(Converters.pointsToDf(spark, points))
    assert(cat.allChunks.size == 1)
    val splitTs = t0 + 30L * 60L * 1000000000L
    val halves = new ShardSplitter(spark, cat).split(splitTs, "shard-a", "shard-b")
    assert(halves.size == 2)
    cat.invalidateCache()
    val chunks = cat.allChunks
    assert(chunks.size == 2)
    assert(chunks.flatMap(_.shardId).toSet == Set("shard-a", "shard-b"))
    assert(chunks.map(_.rowCount).sum == 60)
    assert(!cat.hasActiveSplit) // cleanup phase ran
    val lo = chunks.find(_.shardId.contains("shard-a")).get
    assert(lo.maxTimestampNs < splitTs)
    val total = spark.read.parquet(chunks.map(_.path): _*).count()
    assert(total == 60)
  }

  test("column promotion rewrites chunks with the derived column") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_promo_"), cacheTtlMs = 0L)
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0, "cpu", 1.0, Map("host" -> "a-1")))))
    val metas = new ColumnPromoter(spark, cat).promote("host_prefix",
      "split(host, '-')[0]")
    val df = spark.read.parquet(metas.head.path)
    assert(df.columns.contains("host_prefix"))
    assert(df.select("host_prefix").collect()(0).getString(0) == "a")
  }

  test("JSON result format: columns/data/stats, timestamps as unix-ns") {
    import spark.implicits._
    val df = Seq((java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704067200L)),
      "cpu", 1.5, 7L)).toDF("timestamp", "name", "v", "n")
    val json = ResultFormat.toJson(df, executionTimeMs = 3L)
    assert(json.contains(""""columns":["timestamp","name","v","n"]"""))
    assert(json.contains("1704067200000000000")) // ns serialization
    assert(json.contains(""""rows_read":1"""))
    assert(json.contains(""""execution_time_ms":3"""))
  }

  test("Arrow IPC roundtrip via stream reader") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    val bytes = ResultFormat.toArrow(df)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    assert(reader.loadNextBatch())
    val root = reader.getVectorSchemaRoot
    assert(root.getRowCount == 2)
    assert(root.getVector("id").asInstanceOf[org.apache.arrow.vector.BigIntVector].get(0) == 1L)
    reader.close(); alloc.close()
  }

  test("Prometheus matrix payload: series grouping + bucket timestamps") {
    import spark.implicits._
    val df = Seq(
      ("cpu", "h1", 1.0, 1704067200000000000L),
      ("cpu", "h1", 2.0, 1704067260000000000L),
      ("cpu", "h2", 3.0, 1704067200000000000L))
      .toDF("metric_name", "host", "value", "time_bucket")
    val json = ResultFormat.toPromMatrix(df)
    assert(json.contains(""""resultType":"matrix""""))
    assert(json.contains(""""host":"h1"""") && json.contains(""""host":"h2""""))
    assert(json.contains("1.7040672E9")) // bucket/1e9 seconds
    // h1 series carries both samples in bucket order
    val h1Idx = json.indexOf(""""host":"h1"""")
    val h1Part = json.substring(h1Idx, math.min(json.length, h1Idx + 200))
    assert(h1Part.contains(""""1.0"""") && h1Part.contains(""""2.0""""))
  }

  test("Prometheus vector payload shape") {
    import spark.implicits._
    val df = Seq(("cpu", "h1", 42.0, 1704067200000000000L))
      .toDF("metric_name", "host", "value", "timestamp_ns")
    val json = ResultFormat.toPromVector(df)
    assert(json.contains(""""__name__":"cpu""""))
    assert(json.contains(""""host":"h1""""))
    assert(json.contains(""""resultType":"vector""""))
  }

  test("downsampler rolls up to resolution buckets") {
    import graft.compact.Downsampler
    val df = Converters.pointsToDf(spark, (0 until 120).map(i =>
      MetricPoint(t0 + i * 1000000000L, "cpu", i.toDouble, Map("host" -> "a"))))
    val ds = Downsampler.downsample(df, resolutionSeconds = 60L, labelCols = Seq("host"))
    val rows = ds.orderBy("time_bucket").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("sample_count") == 60L)
    assert(rows(0).getAs[Double]("max_value") == 59.0)
  }
}
