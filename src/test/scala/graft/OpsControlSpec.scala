package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sharding.{HotShardConfig, RollingAverage, ShardAction, ShardMonitor}
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.compact.Compactor
import graft.engine.QueryEngine
import graft.util.ShmDirs

/** Operational control surfaces ported from the reference: hot-shard detection
  * (src/sharding/monitor.rs), compaction backpressure (src/compactor/mod.rs:
  * 203-221), query concurrency + timeout (src/query/mod.rs:50-60).
  */
class OpsControlSpec extends AnyFunSuite {

  test("rolling average: eviction, avg, rate") {
    val r = new RollingAverage(windowMs = 1000L)
    r.addSample(10.0, nowMs = 0L)
    r.addSample(20.0, nowMs = 500L)
    assert(r.avg == 15.0)
    r.addSample(30.0, nowMs = 1600L) // evicts both older samples
    assert(r.avg == 30.0)
    // rate: 3 samples over 1 second span
    val q = new RollingAverage(windowMs = 60000L)
    q.addSample(1.0, 0L); q.addSample(1.0, 500L); q.addSample(1.0, 1000L)
    assert(q.ratePerSecond == 3.0)
  }

  test("hot shard: split only after sustained hotness over the detection window") {
    val mon = new ShardMonitor(HotShardConfig(
      detectionWindowMs = 60000L, writeQpsThreshold = 10.0))
    // 100 writes in 1 s → 100 QPS >> 10 → hot, but not yet sustained
    (0 until 100).foreach(i => mon.recordWrite("s1", 100L, 1.0, nowMs = i * 10L))
    assert(mon.evaluateShards(nowMs = 1000L).isEmpty) // just became hot
    // keep it hot past the window → Split recommended
    (0 until 100).foreach(i => mon.recordWrite("s1", 100L, 1.0, nowMs = 61000L + i * 10L))
    assert(mon.evaluateShards(nowMs = 62000L) == Seq(ShardAction.Split("s1")))
  }

  test("hot shard: each threshold axis triggers; cooling resets the clock") {
    val cfg = HotShardConfig(detectionWindowMs = 1000L)
    val mon = new ShardMonitor(cfg)
    // CPU axis
    mon.recordCpu("c", 0.9, nowMs = 0L)
    assert(mon.evaluateShards(0L).isEmpty) // hot, not sustained
    mon.recordCpu("c", 0.9, nowMs = 1500L)
    assert(mon.evaluateShards(1500L) == Seq(ShardAction.Split("c")))
    // latency axis
    mon.recordWrite("l", 1L, latencyMs = 500.0, nowMs = 0L)
    // cooling: samples age out → hot_since cleared, then re-hot restarts the clock
    mon.recordCpu("c", 0.1, nowMs = 5000L) // old hot samples evicted
    assert(!mon.evaluateShards(5000L).contains(ShardAction.Split("c")))
    mon.recordCpu("c", 0.9, nowMs = 6000L)
    assert(!mon.evaluateShards(6000L).contains(ShardAction.Split("c"))) // clock restarted
  }

  test("compaction backpressure: 0 / 50 / 100 ms bands at 3x and 6x the L0 threshold") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_bp_"), cacheTtlMs = 0L)
    val compactor = new Compactor(SparkTestBase.spark, cat, l0FileThreshold = 2)
    def addL0(n: Int, from: Int): Unit = (from until (from + n)).foreach(i =>
      cat.register(ChunkMeta(s"c$i", i * 1000L, i * 1000L + 1, 1, 1, level = 0)))
    addL0(5, 0) // 5 ≤ 3·2=6 → no backpressure
    cat.invalidateCache()
    val bp0 = compactor.backpressure()
    assert(bp0.l0PendingFiles == 5 && !bp0.isBehind && bp0.recommendedDelayMs == 0L)
    addL0(5, 5) // 10 > 6 → moderate
    cat.invalidateCache()
    val bp1 = compactor.backpressure()
    assert(bp1.isBehind && bp1.recommendedDelayMs == 50L)
    addL0(5, 10) // 15 > 12 → significant
    cat.invalidateCache()
    assert(compactor.backpressure().recommendedDelayMs == 100L)
  }

  test("query timeout cancels the job group and surfaces QueryTimeoutException") {
    val spark = SparkTestBase.spark
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_qt_"), cacheTtlMs = 0L)
    val eng = new QueryEngine(spark, cat,
      QueryEngine.QueryLimits(maxConcurrent = 4, timeoutMs = 800L))
    // interruptible slow tasks (sleep responds to interruptOnCancel; a tight
    // codegen'd range loop would linger after cancellation and pin local threads)
    val slow = org.apache.spark.sql.functions.udf { x: Long => Thread.sleep(20000L); x }
    val ex = intercept[QueryEngine.QueryTimeoutException] {
      eng.execute("SELECT COUNT(*) AS c FROM metrics") { _ =>
        spark.range(0L, 4L, 1L, 4).select(slow(org.apache.spark.sql.functions.col("id")))
          .collect()
      }
    }
    assert(ex.getMessage.contains("800 ms"))
  }

  test("query concurrency gate serializes beyond maxConcurrent") {
    val spark = SparkTestBase.spark
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_qc_"), cacheTtlMs = 0L)
    val eng = new QueryEngine(spark, cat,
      QueryEngine.QueryLimits(maxConcurrent = 1, timeoutMs = 60000L))
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 3).map { _ =>
      new Thread(() => {
        eng.execute("SELECT COUNT(*) AS c FROM metrics") { df =>
          val n = inFlight.incrementAndGet()
          maxSeen.updateAndGet(m => math.max(m, n))
          Thread.sleep(150)
          inFlight.decrementAndGet()
          df.collect()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(maxSeen.get() == 1) // permit=1 → never two queries in flight
  }

  test("adaptive clustering: query log → recommendation → lifecycle → clustered sweep prunes the column") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestBase.spark
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_ac_"), cacheTtlMs = 0L)
    val writer = new graft.ingest.ChunkWriter(cat)
    val t0ns = 1704067200L * 1000000000L
    // 1 h of 8-host data, two interleaved flushes (L0 ripens at threshold 2);
    // timestamp-sorted chunks → every chunk's host zone map spans h0..h7
    val df = graft.fixtures.DataGenerator.generate(spark, metrics = 4, hosts = 8,
      regions = 1, samplesPerSecond = 20, durationSeconds = 300, startNs = t0ns)
      .persist()
    val side = pmod(xxhash64(col("timestamp_ns")), lit(2))
    writer.write(df.filter(side === 0))
    writer.write(df.filter(side === 1))
    val totalRows = df.count()
    df.unpersist(blocking = false)

    // a synthetic query log: the engine's stats hook records WHERE columns
    val eng = new QueryEngine(spark, cat)
    val q = s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0ns " +
      s"AND timestamp_ns < ${t0ns + 3600L * 1000000000L} AND host = 'host-3'"
    (1 to 3).foreach(_ => eng.sql(q).collect())

    val now = System.currentTimeMillis()
    val ctrl = new graft.adaptive.AdaptiveIndex.ClusteringController(
      eng.adaptiveStats, probationMs = 1000L, maxClusterColumns = 2)
    // lifecycle respected: a fresh recommendation is INVISIBLE — no layout
    // change on the first tick, even though host scores above threshold
    assert(ctrl.activeClusterColumns(nowMs = now).isEmpty)
    assert(ctrl.entries.exists(e => e.column == "host" &&
      e.state == graft.adaptive.AdaptiveIndex.LifecycleState.Invisible))
    // the time axis never reaches the layout
    assert(!ctrl.entries.exists(_.column == "timestamp_ns"))

    // past probation with would-have-helped evidence → VISIBLE → the sweep
    // consumes it as clusterBy (gate on via Maintenance config)
    val maint = new graft.compact.Maintenance(spark, cat,
      retentionNs = 100L * 365 * 86400 * 1000000000L, // fixture is 2024-dated
      compactor = new Compactor(spark, cat, l0FileThreshold = 2,
        clusterTargetBytes = 64L << 10, clusterMinLevel = 1),
      adaptiveClustering = Some(ctrl))
    val before = cat.allChunks
    assert(before.forall(c => c.columnStats.get("host").exists(s =>
      s.minString.get <= "host-3" && s.maxString.get >= "host-3")),
      "precondition: unclustered zone maps cannot prune the host predicate")
    val report = maint.runOnce(nowMs = now + 2000L)
    assert(report.clusteredBy == Seq("host"), s"sweep saw ${report.clusteredBy}")
    assert(report.compacted.nonEmpty)

    // measured improvement: the clustered layout's zone maps now exclude
    // most chunks for host-3, and the data survived byte-identically
    val after = cat.allChunks
    val kept = after.count(c => c.columnStats.get("host").exists(s =>
      s.minString.get <= "host-3" && s.maxString.get >= "host-3"))
    assert(after.size >= 2, "fixture must range-split for the prune check to mean anything")
    assert(kept < after.size,
      s"clustered sweep should prune: $kept of ${after.size} chunks still match")
    assert(after.map(_.rowCount).sum == totalRows)
    val viaEngine = eng.sql(q).collect()(0).getLong(0)
    assert(viaEngine == totalRows / 8) // uniform hosts: exactly 1/8 of rows
  }
}
