package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.ChunkCatalog
import graft.engine.{QueryEngine, Telemetry}
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.util.ShmDirs

/** L2 disk result-cache tier (reference foyer NVMe layer,
  * src/query/cached_store.rs:49-181): L1 evictions demote localized result
  * rows to a local file; an L1 miss with a demoted key promotes it back
  * instead of re-executing. Byte-bounded, staleness-safe (the key carries the
  * pruned chunk-path set), and strictly fail-open (an unreadable file falls
  * through to a plain recompute).
  */
class L2CacheSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L

  /** Engine with the L2 tier on; [[demote]] puts an entry there. */
  private def l2Engine(maxL2Bytes: Long = 256L << 20): (QueryEngine, ChunkCatalog, java.io.File) = {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_l2_"), cacheTtlMs = 0L)
    val points = for {
      h <- 0 until 3; m <- Seq("cpu_usage", "mem_usage")
      host <- Seq("server1", "server2"); i <- 0 until 6
    } yield MetricPoint(t0 + h * hourNs + i * 600L * 1000000000L,
      m, (i % 100) / 100.0 + h, Map("host" -> host))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, points))
    val dir = ShmDirs.tempDir("graft_l2c_").toFile
    val eng = new QueryEngine(spark, cat, QueryEngine.QueryLimits(
      l2CacheDir = Some(dir.getAbsolutePath), maxL2CacheBytes = maxL2Bytes))
    (eng, cat, dir)
  }

  private def eventually[T](timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) fail("condition not met in time")
      Thread.sleep(50)
    }
  }

  /** Localize `q` (first sighting, then its first repeat), evict it from L1
    * and wait for the demote; returns the rows.
    */
  private def demote(eng: QueryEngine, q: String): Seq[Seq[Any]] = {
    val rows = eng.sql(q).collect().map(_.toSeq).toSeq
    eng.sql(q).collect()
    assert(eng.isResultCached(q), "premise: the repeat localized the result")
    val d0 = Telemetry.l2Demotions.sum()
    eng.evictL1(q)
    eventually() { Telemetry.l2Demotions.sum() > d0 }
    rows
  }

  /** The tier's entry files, one `l2-<id>.bin` per demoted result. */
  private def l2Files(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).map(_.toSeq.filter(f =>
      f.isFile && f.getName.startsWith("l2-") && f.getName.endsWith(".bin"))).getOrElse(Nil)

  private val qA = s"SELECT metric_name, COUNT(*) AS c FROM metrics " +
    s"WHERE timestamp_ns >= $t0 GROUP BY metric_name ORDER BY metric_name"
  private val qB = s"SELECT host, COUNT(*) AS c FROM metrics " +
    s"WHERE timestamp_ns >= $t0 GROUP BY host ORDER BY host"

  test("L1 eviction demotes to disk; repeat serves from L2 as a LocalRelation") {
    val (eng, _, dir) = l2Engine()
    val expected = demote(eng, qA)
    // localized rows demote driver-serialized into one file (no Spark job
    // on promote), and nothing else is left in the tier's directory
    assert(l2Files(dir).size == 1, "a demoted result must be one l2-*.bin file")
    assert(dir.listFiles().length == 1, s"unexpected entries: ${dir.listFiles().toSeq}")
    val h0 = Telemetry.l2Hits.sum()
    val promoted = eng.serve(qA)
    assert(Telemetry.l2Hits.sum() == h0 + 1, "repeat must be an L2 hit")
    assert(promoted.mode == "l2", s"a promote reports l2, not ${promoted.mode}")
    assert(promoted.rows.map(_.map(_.toSeq).toSeq).contains(expected),
      "a promote returns the rows it read")
    val served = promoted.df
    assert(served.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "small L2 hit must serve a driver-local relation, not a rescan")
    assert(served.collect().map(_.toSeq).toSeq == expected)
    // the promoted entry is back in L1: the NEXT repeat is a plain L1 hit
    val h1 = Telemetry.l2Hits.sum()
    assert(eng.serve(qA).mode == "l1")
    assert(Telemetry.l2Hits.sum() == h1, "promoted entry must hit L1, not L2 again")
  }

  test("L2 byte budget LRU-evicts demoted files and deletes them at once") {
    val (eng, _, dir) = l2Engine(maxL2Bytes = 1L)
    demote(eng, qA)
    // a second demote exceeds the 1-byte L2 budget, which then LRU-evicts
    // qA's file
    demote(eng, qB)
    // budget of 1 byte keeps only the most recent demoted entry; the evicted
    // file is gone by the time the demote that evicted it is counted
    assert(l2Files(dir).size == 1, s"evicted file not deleted: ${l2Files(dir)}")
  }

  test("staleness: new ingest changes the key, so L2 is never consulted") {
    val (eng, cat, _) = l2Engine()
    val before = demote(eng, qA).map(r => r(0).asInstanceOf[String] -> r(1).asInstanceOf[Long]).toMap
    // a new chunk in the window changes the pruned path set → different key
    new ChunkWriter(cat).write(Converters.pointsToDf(spark,
      Seq(MetricPoint(t0 + 10L, "cpu_usage", 0.5, Map("host" -> "server3")))))
    val h0 = Telemetry.l2Hits.sum()
    val after = eng.sql(qA).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Telemetry.l2Hits.sum() == h0, "changed key must bypass the stale L2 entry")
    assert(after("cpu_usage") == before("cpu_usage") + 1, "fresh rows must be visible")
  }

  test("unreadable demoted file falls back to recompute (fail-open)") {
    val (eng, _, dir) = l2Engine()
    val expected = demote(eng, qA)
    // corrupt every demoted payload
    l2Files(dir).foreach { f => val w = new java.io.FileOutputStream(f); w.write(1); w.close() }
    val h0 = Telemetry.l2Hits.sum()
    val served = eng.sql(qA).collect().map(_.toSeq).toSeq
    assert(served == expected, "corrupt L2 entry must recompute, not fail or mis-serve")
    assert(Telemetry.l2Hits.sum() == h0, "a failed promote is not a hit")
    assert(l2Files(dir).isEmpty, "an unreadable entry's file is deleted")
  }

  test("plan-only entries (never materialized) do not demote") {
    val (eng, _, dir) = l2Engine()
    val d0 = Telemetry.l2Demotions.sum()
    eng.sql(qA).count() // first sighting: plan only
    eng.maxLocalRows = 1
    eng.sql(qB).count()
    eng.sql(qB).count() // a repeat above the row bound stays plan-only
    assert(!eng.isResultCached(qA) && !eng.isResultCached(qB))
    eng.evictL1(qA)
    eng.evictL1(qB)
    Thread.sleep(500)
    assert(Telemetry.l2Demotions.sum() == d0, "plan-only entries must not demote")
    assert(l2Files(dir).isEmpty)
  }
}
