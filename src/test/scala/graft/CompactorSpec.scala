package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.compact.Compactor
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import java.nio.file.Files
import graft.util.ShmDirs

class CompactorSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L

  test("L0 candidate selection: hour groups at threshold") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp_"), cacheTtlMs = 0L)
    def c(p: String, hour: Long) =
      ChunkMeta(p, hour * hourNs, hour * hourNs + 1, 10, 100)
    cat.registerAll(Seq(c("a", 0), c("b", 0), c("c", 0), c("d", 1)))
    val comp = new Compactor(spark, cat, l0FileThreshold = 3)
    val groups = comp.l0Candidates()
    assert(groups.size == 1)
    assert(groups.head.map(_.path).toSet == Set("a", "b", "c"))
  }

  test("serveFromRollup: coarser-step result equals raw aggregation even on uneven buckets") {
    import org.apache.spark.sql.functions._
    import graft.ingest.{Converters, MetricPoint}
    // UNEVEN buckets: hour 0 has 3 samples, hour 1 has 1 — avg-of-avgs over
    // the two 1h rollup rows would be (2+8)/2 = 5.0; the true 2h avg is
    // (1+2+3+8)/4 = 3.5. The mergeable (sum,count) rollup must produce 3.5.
    val pts = Seq(
      MetricPoint(t0, "cpu", 1.0, Map("host" -> "a")),
      MetricPoint(t0 + 60L * 1000000000L, "cpu", 2.0, Map("host" -> "a")),
      MetricPoint(t0 + 120L * 1000000000L, "cpu", 3.0, Map("host" -> "a")),
      MetricPoint(t0 + hourNs, "cpu", 8.0, Map("host" -> "a")))
    val raw = Converters.pointsToDf(spark, pts)
    val rollup = graft.compact.Downsampler.downsampleMergeable(
      raw, resolutionSeconds = 3600L, labelCols = Seq("host"))
    assert(rollup.count() == 2)
    val served = graft.compact.Downsampler.serveFromRollup(
        rollup, resolutionSeconds = 3600L, stepSeconds = 7200L, labelCols = Seq("host"))
      .collect()
    assert(served.length == 1)
    val r = served(0)
    assert(r.getAs[Double]("sum_value") == 14.0 && r.getAs[Long]("sample_count") == 4L)
    assert(r.getAs[Double]("min_value") == 1.0 && r.getAs[Double]("max_value") == 8.0)
    assert(r.getAs[Double]("avg_value") == 3.5, "avg must be sum/count, not avg-of-avgs")
    intercept[IllegalArgumentException] {
      graft.compact.Downsampler.serveFromRollup(rollup, 3600L, 5400L, Seq("host"))
    }
  }

  test("merger error paths: empty group and nonexistent chunk fail loudly (ref coverage_gap_tests.rs:551-583)") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp_err_"), cacheTtlMs = 0L)
    val comp = new Compactor(spark, cat)
    intercept[IllegalArgumentException] { comp.compactGroups(Seq(Nil)) }
    intercept[Exception] {
      comp.compactGroups(Seq(Seq(ChunkMeta("/nonexistent/chunk.parquet", 0L, 1L, 1L, 1L))))
    }
    // and the catalog is untouched by either failure
    assert(cat.allChunks.isEmpty)
  }

  test("candidate selection on an empty catalog is empty (ref error_path_tests.rs:650-722)") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp_empty_"), cacheTtlMs = 0L)
    val comp = new Compactor(spark, cat)
    assert(comp.l0Candidates().isEmpty)
    assert(comp.leveledCandidates(99).isEmpty) // nonexistent level: empty, no error
  }

  test("leveled candidate selection: greedy size grouping") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp2_"), cacheTtlMs = 0L)
    def c(p: String, hour: Long, size: Long) =
      ChunkMeta(p, hour * hourNs, hour * hourNs + 1, 10, size, level = 1)
    cat.registerAll(Seq(c("a", 0, 400), c("b", 1, 400), c("c", 2, 400), c("d", 3, 900)))
    val comp = new Compactor(spark, cat, levelTargetBytes = _ => 1000L)
    val groups = comp.leveledCandidates(1)
    assert(groups.size == 1) // a+b (800) fits; c+d exceeds → c alone dropped (size<2)
    assert(groups.head.map(_.path) == Seq("a", "b"))
  }

  test("compactGroup merges, sorts, bumps level, swaps catalog, defers GC") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp3_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val mk = (offset: Long) => (0 until 10).map(i =>
      MetricPoint(t0 + i * 60L * 1000000000L + offset, "cpu", i.toDouble, Map("h" -> "x")))
    writer.write(Converters.pointsToDf(spark, mk(0)))
    writer.write(Converters.pointsToDf(spark, mk(1000)))
    assert(cat.allChunks.size == 2)
    val comp = new Compactor(spark, cat, l0FileThreshold = 2)
    val merged = comp.runOnce()
    assert(merged.size == 1)
    assert(merged.head.level == 1)
    assert(merged.head.rowCount == 20)
    cat.invalidateCache()
    assert(cat.allChunks.size == 1)
    assert(cat.state.pendingDeletes.size == 2)
    // data preserved and time-sorted
    val df = spark.read.parquet(merged.head.path)
    assert(df.count() == 20)
    val ts = df.select("timestamp_ns").collect().map(_.getLong(0))
    assert(ts.sorted.toSeq == ts.toSeq)
  }

  test("compactGroups: many groups in one sweep — one sorted chunk each, atomic swap") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp4_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    // 3 hours × 2 interleaved L0 writes per hour
    val mk = (hour: Int, offset: Long) => (0 until 10).map(i =>
      MetricPoint(t0 + hour * hourNs + i * 60L * 1000000000L + offset,
        "cpu", i.toDouble, Map("h" -> "x")))
    (0 until 3).foreach { h =>
      writer.write(Converters.pointsToDf(spark, mk(h, 0)))
      writer.write(Converters.pointsToDf(spark, mk(h, 1000)))
    }
    assert(cat.allChunks.size == 6)
    val comp = new Compactor(spark, cat, l0FileThreshold = 2)
    // the batched L0 sweep directly (runOnce would additionally cascade the
    // three fresh tiny L1 chunks into an L2 group — separate, existing behavior)
    val merged = comp.compactGroups(comp.l0Candidates())
    assert(merged.size == 3)
    assert(merged.forall(_.level == 1))
    assert(merged.forall(_.rowCount == 20))
    assert(merged.forall(_.schemaDdl.isDefined))
    cat.invalidateCache()
    assert(cat.allChunks.size == 3)
    assert(cat.state.pendingDeletes.size == 6)
    // each group: one sorted file set carrying exactly its hour's rows
    merged.sortBy(_.minTimestampNs).zipWithIndex.foreach { case (m, h) =>
      val df = spark.read.parquet(m.path)
      assert(df.count() == 20)
      assert(!df.columns.contains("__grp"))
      val ts = df.select("timestamp_ns").collect().map(_.getLong(0))
      assert(ts.sorted.toSeq == ts.toSeq)
      assert(m.minTimestampNs == t0 + h * hourNs)
      // zone maps survived the sweep (stats per group, not global)
      assert(m.columnStats("timestamp_ns").minLong.contains(t0 + h * hourNs))
    }
  }

  test("retention removes wholly-expired chunks with skew margin") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_cmp4_"), cacheTtlMs = 0L)
    cat.registerAll(Seq(
      ChunkMeta("old", 0, 1000, 10, 100),
      ChunkMeta("new", 5000L * 1000000000L, 6000L * 1000000000L, 10, 100)))
    val comp = new Compactor(spark, cat)
    val removed = comp.applyRetention(cutoffNs = 4000L * 1000000000L)
    assert(removed == Seq("old"))
    cat.invalidateCache()
    assert(cat.allChunks.map(_.path) == Seq("new"))
  }

  test("maintenance downsample loop: aged chunks roll up, live ingest survives, idempotent") {
    import graft.compact.Maintenance
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_mnt_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val mk = (base: Long) => (0 until 10).map(i =>
      MetricPoint(base + i * 60L * 1000000000L, "cpu", i.toDouble, Map("h" -> "x")))
    writer.write(Converters.pointsToDf(spark, mk(t0)))           // aged (hour 0)
    writer.write(Converters.pointsToDf(spark, mk(t0 + 48 * hourNs))) // recent
    val nowMs = (t0 + 49 * hourNs) / 1000000L
    val maint = new Maintenance(spark, cat,
      retentionNs = 365L * 86400 * 1000000000L,
      downsample = Some(Maintenance.Downsample(
        afterNs = 24 * hourNs, resolutionSeconds = 3600L, labelCols = Seq("h"))))

    val rep = maint.runOnce(nowMs)
    assert(rep.rolledUp.isDefined)
    val meta = rep.rolledUp.get
    cat.invalidateCache()
    assert(cat.rollups.map(_.path) == Seq(meta.path))
    // coverage ends at the CUTOFF (bucket-aligned), not at the first live
    // row: data arriving in the (cutoff, first-live) gap then stays raw
    // without needing invalidation
    assert(meta.maxCoveredNsExclusive == t0 + 25 * hourNs)
    // the rollup holds exactly the aged hour
    val r = spark.read.parquet(meta.path)
    assert(r.count() == 1 && r.collect()(0).getAs[Double]("sum_value") == 45.0)

    // second sweep with no newly-aged data: idempotent no-op
    val rep2 = maint.runOnce(nowMs)
    assert(rep2.rolledUp.isEmpty)
    cat.invalidateCache()
    assert(cat.rollups.map(_.path) == Seq(meta.path))

    // live ingest at RECENT timestamps does not invalidate the rollup
    writer.write(Converters.pointsToDf(spark, mk(t0 + 50 * hourNs)))
    cat.invalidateCache()
    assert(cat.rollups.map(_.path) == Seq(meta.path))

    // more data ages past the threshold: the sweep EXTENDS the prior rollup
    // INCREMENTALLY (merging only newly-aged chunks — O(increment), not
    // O(all aged history)), retires the superseded registration AND its files
    val laterMs = (t0 + 80 * hourNs) / 1000000L
    val rep3 = maint.runOnce(laterMs)
    assert(rep3.rolledUp.isDefined)
    val meta2 = rep3.rolledUp.get
    assert(meta2.maxCoveredNsExclusive > meta.maxCoveredNsExclusive)
    assert(meta2.buildCutoffNs == laterMs * 1000000L - 24 * hourNs)
    cat.invalidateCache()
    assert(cat.rollups.map(_.path) == Seq(meta2.path))
    // merged content equals what a full rebuild over all aged chunks gives:
    // 3 aged hours x 10 rows, each hour bucket summing 0..9 = 45
    val merged = spark.read.parquet(meta2.path)
    assert(merged.count() == 3)
    assert(merged.agg(org.apache.spark.sql.functions.sum("sum_value"),
        org.apache.spark.sql.functions.sum("sample_count"))
      .collect()(0).toSeq == Seq(135.0, 30L))
    // The superseded rollup's FILES survive retirement (an in-flight query
    // may still be scanning them — immediate deletion raced exactly that in
    // the dual-maintenance soak) and ride the same grace-period GC as chunk
    // rewrites; after the grace the directory is deleted recursively.
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(meta.path)),
      "retired rollup files must outlive in-flight queries")
    assert(cat.state.pendingDeletes.map(_._1).contains(meta.path))
    cat.gc(laterMs + 300001L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(meta.path)),
      "grace-elapsed GC must remove the retired rollup directory")

    // late-arriving data INSIDE the covered past invalidates (write-invalidation)
    writer.write(Converters.pointsToDf(spark, mk(t0 + hourNs)))
    cat.invalidateCache()
    assert(cat.rollups.isEmpty)
  }

  test("compaction across the age boundary: extension full-rebuilds, never double-counts") {
    import graft.compact.Maintenance
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_mnt_str_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val mk = (base: Long) => (0 until 10).map(i =>
      MetricPoint(base + i * 60L * 1000000000L, "cpu", i.toDouble, Map("h" -> "x")))
    // three aged hours + one recent hour; each hour's values sum to 45
    (0 until 3).foreach(h => writer.write(Converters.pointsToDf(spark, mk(t0 + h * hourNs))))
    writer.write(Converters.pointsToDf(spark, mk(t0 + 48 * hourNs)))
    val maint = new Maintenance(spark, cat,
      retentionNs = 365L * 86400 * 1000000000L,
      downsample = Some(Maintenance.Downsample(
        afterNs = 24 * hourNs, resolutionSeconds = 3600L, labelCols = Seq("h"))))
    val rep = maint.runOnce((t0 + 49 * hourNs) / 1000000L)
    val first = rep.rolledUp.get // hours 0-2 rolled: sum 135, 30 samples
    assert(!first.staleForExtension)

    // compact an already-rolled chunk together with the recent (unrolled)
    // chunk: the merged chunk's maxTs crosses the rollup's buildCutoffNs —
    // the catalog must flag the rollup stale-for-extension (ADVICE r6 high)
    cat.invalidateCache()
    val chunks = cat.allChunks
    val rolledChunk = chunks.find(_.maxTimestampNs < t0 + 3 * hourNs).get
    val recentChunk = chunks.find(_.minTimestampNs >= t0 + 48 * hourNs).get
    val comp = new Compactor(spark, cat)
    comp.compactGroups(Seq(Seq(rolledChunk, recentChunk)))
    cat.invalidateCache()
    assert(cat.rollups.head.staleForExtension,
      "boundary-straddling merge must poison incremental extension")

    // everything now ages: the sweep must REBUILD from all aged chunks. An
    // incremental merge here would re-aggregate the merged chunk's already-
    // rolled hour (sum 225, 50 samples) — exact is 4 hours x 45 = 180, 40.
    val rep2 = maint.runOnce((t0 + 80 * hourNs) / 1000000L)
    val second = rep2.rolledUp.get
    assert(!second.staleForExtension)
    val r = spark.read.parquet(second.path)
      .agg(org.apache.spark.sql.functions.sum("sum_value"),
        org.apache.spark.sql.functions.sum("sample_count")).collect()(0)
    assert(r.toSeq == Seq(180.0, 40L),
      s"expected exact rebuild totals (180.0, 40), got ${r.toSeq}")
    cat.invalidateCache()
    assert(cat.rollups.map(_.path) == Seq(second.path)) // prior retired
  }

  test("lease coordination: concurrent compactors never double-compact a group") {
    import graft.catalog.{LeaseStatus, LeaseStore}
    // Two compactor instances, each with its OWN catalog instance over the
    // same directory (nothing shared in memory — the multi-driver shape).
    // Without leases both would select the same ripe L0 group before either
    // commits, merge it twice, and register duplicate rows. The lease makes
    // one of them skip (reference mod.rs:567-575).
    val dir = ShmDirs.tempDir("graft_cmp_lease_")
    val seedCat = new ChunkCatalog(dir, cacheTtlMs = 0L)
    val writer = new ChunkWriter(seedCat)
    val mk = (offset: Long) => (0 until 10).map(i =>
      MetricPoint(t0 + i * 60L * 1000000000L + offset, "cpu", i.toDouble, Map("h" -> "x")))
    (0 until 4).foreach(i => writer.write(Converters.pointsToDf(spark, mk(i * 1000L))))
    assert(seedCat.allChunks.size == 4)

    val leaseDir = ShmDirs.tempDir("graft_cmp_lease_doc_")
    def compactor(node: String) = new Compactor(spark,
      new ChunkCatalog(dir, cacheTtlMs = 0L), l0FileThreshold = 2,
      leases = Some(new LeaseStore(leaseDir, baseBackoffMs = 5L)), nodeId = node)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[ChunkMeta]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq("n1", "n2").map { node =>
      val c = compactor(node)
      val t = new Thread(() => {
        start.await()
        try results.add(c.runOnce())
        catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"lease-guarded sweeps must not fail: $errors")
    val merged = results.toArray(Array.empty[Seq[ChunkMeta]]).flatten
    assert(merged.size == 1, s"the one ripe group must compact exactly once, got ${merged.size}")
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    assert(fresh.allChunks.size == 1, "exactly one merged chunk in the catalog")
    assert(fresh.allChunks.head.rowCount == 40L, "all 4 flushes' rows preserved once")
    // every lease reached a terminal state (winner Completed; a laggard that
    // acquired post-release re-validates and marks its lease Failed) and
    // scavenging clears the document
    val ls = new LeaseStore(leaseDir)
    val terminal = ls.loadAll()
    assert(terminal.values.forall(_.status != LeaseStatus.Active), s"leaked active: $terminal")
    assert(terminal.values.exists(_.status == LeaseStatus.Completed))
    assert(ls.scavenge() == terminal.size)
    assert(ls.loadAll().isEmpty)
  }
}