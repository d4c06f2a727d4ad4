package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.compact.Compactor
import graft.engine.QueryEngine
import graft.util.ShmDirs

/** Operational control surfaces ported from the reference: compaction
  * backpressure (src/compactor/mod.rs:203-221), query concurrency + timeout
  * (src/query/mod.rs:50-60).
  */
class OpsControlSpec extends AnyFunSuite {

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
