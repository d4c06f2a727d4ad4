package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.compact.{ColumnPromoter, Compactor, ShardSplitter}
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.util.ShmDirs

/** What every chunk writer registers: each chunk's row count is what its
  * files hold, and each zone map contains every value the chunk holds —
  * including a chunk holding NaN (a Prometheus staleness marker), which Spark
  * orders above every number, so a NaN row matches `value_f64 > x`.
  *
  * Runs on its own session with AQE partition coalescing off, so a tiny
  * flush fans out into several files per hour chunk, as a large one does.
  */
class ChunkMetaSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkTestBase.spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }
  private val sec = 1000000000L
  private val hourNs = 3600L * sec
  private val t0 = 1704067200L * sec

  private def newCatalog(prefix: String) =
    new ChunkCatalog(ShmDirs.tempDir(prefix), cacheTtlMs = 0L)

  private def write(cat: ChunkCatalog, pts: Seq[MetricPoint]): Seq[ChunkMeta] =
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts))

  /** One hour of `host=a` samples at 1.0 plus a 10.0 and a NaN sample
    * sharing one timestamp (so they land in the same file).
    */
  private def onesWithTenAndNaN(hour: Int): Seq[MetricPoint] =
    (0 until 120).map(i =>
      MetricPoint(t0 + hour * hourNs + i * 30L * sec, "cpu", 1.0, Map("host" -> "a"))) ++
      Seq(MetricPoint(t0 + hour * hourNs + 1801L * sec, "cpu", 10.0, Map("host" -> "b")),
        MetricPoint(t0 + hour * hourNs + 1801L * sec, "cpu", Double.NaN, Map("host" -> "c")))

  private val overFive =
    s"SELECT COUNT(*) FROM metrics WHERE timestamp_ns >= $t0 " +
      s"AND timestamp_ns < ${t0 + 4 * hourNs} AND value_f64 > 5"

  private def engineCount(cat: ChunkCatalog, sql: String): Long =
    new QueryEngine(spark, cat).sqlRows(sql)(0).getLong(0)

  private def referenceCount(cat: ChunkCatalog, sql: String): Long =
    SparkTestBase.referenceRows(cat, sql).head.head.asInstanceOf[Long]

  /** Every registered chunk: rowCount is its files' row count, and every
    * non-null, non-NaN value of a zoned column lies in its [min, max].
    */
  private def assertTrueMetas(cat: ChunkCatalog, writer: String): Unit = {
    cat.invalidateCache()
    assert(cat.allChunks.nonEmpty, writer)
    cat.allChunks.foreach { m =>
      val df = spark.read.parquet(m.path)
      assert(df.count() == m.rowCount, s"$writer: rowCount of ${m.path}")
      assert(m.schemaDdl.isDefined && m.sizeBytes > 0, s"$writer: ${m.path}")
      m.columnStats.foreach { case (c, st) =>
        val t = df.schema(c).dataType
        val vals = if (t == DoubleType) df.filter(!isnan(col(c))) else df
        val r = vals.agg(min(col(c)), max(col(c))).collect()(0)
        if (!r.isNullAt(0)) t match {
          case DoubleType =>
            assert(st.minDouble.forall(_ <= r.getDouble(0)) &&
              st.maxDouble.forall(_ >= r.getDouble(1)), s"$writer: $c of ${m.path}: $st vs $r")
          case LongType =>
            assert(st.minLong.forall(_ <= r.getLong(0)) &&
              st.maxLong.forall(_ >= r.getLong(1)), s"$writer: $c of ${m.path}: $st vs $r")
          case StringType =>
            assert(st.minString.forall(_ <= r.getString(0)) &&
              st.maxString.forall(_ >= r.getString(1)), s"$writer: $c of ${m.path}: $st vs $r")
          case other => fail(s"$writer: zone map on a $other column $c")
        }
      }
      val ts = m.columnStats("timestamp_ns")
      assert(ts.minLong.contains(m.minTimestampNs) && ts.maxLong.contains(m.maxTimestampNs))
    }
  }

  test("a multi-file hour flush with a NaN file keeps the NaN row reachable") {
    val cat = newCatalog("graft_meta_flush_")
    val Seq(chunk) = write(cat, onesWithTenAndNaN(0))
    val files = new java.io.File(chunk.path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1, s"the flush wrote $files file(s) for its hour")
    assert(referenceCount(cat, overFive) == 2L)
    assert(engineCount(cat, overFive) == 2L)
  }

  test("compacting a chunk holding NaN keeps the NaN row reachable") {
    val cat = newCatalog("graft_meta_compact_")
    write(cat, onesWithTenAndNaN(0))
    write(cat, Seq(MetricPoint(t0 + 60L * sec, "cpu", 1.0, Map("host" -> "a"))))
    new Compactor(spark, cat).compactGroups(Seq(cat.allChunks))
    cat.invalidateCache()
    assert(cat.allChunks.size == 1)
    assert(referenceCount(cat, overFive) == 2L)
    assert(engineCount(cat, overFive) == 2L)
  }

  /** Two interleaved flushes per hour over `hours` hours, with a label only
    * some rows carry (a nullable column) and a NaN per hour.
    */
  private def seeded(prefix: String, hours: Int): ChunkCatalog = {
    val cat = newCatalog(prefix)
    (0 until hours).foreach { h =>
      val pts = onesWithTenAndNaN(h).zipWithIndex.map { case (p, i) =>
        p.copy(value = if (p.value == 1.0) i.toDouble else p.value,
          labels = if (i % 3 == 0) p.labels + ("region" -> s"r${i % 7}") else p.labels)
      }
      val (a, b) = pts.zipWithIndex.partition(_._2 % 2 == 0)
      write(cat, a.map(_._1))
      write(cat, b.map(_._1) :+
        MetricPoint(t0 + h * hourNs + 7L, "mem", -3.5, Map("host" -> "z")))
    }
    cat
  }

  test("every writer registers true row counts and zone maps that contain its values") {
    val ingest = seeded("graft_meta_ingest_", hours = 2)
    assertTrueMetas(ingest, "ingest flush")

    val one = seeded("graft_meta_one_", hours = 1)
    new Compactor(spark, one).compactGroups(Seq(one.allChunks))
    assertTrueMetas(one, "one-group sweep")

    val many = seeded("graft_meta_many_", hours = 3)
    val comp = new Compactor(spark, many, l0FileThreshold = 2)
    assert(comp.compactGroups(comp.l0Candidates()).size == 3)
    assertTrueMetas(many, "many-group sweep")

    val clustered = seeded("graft_meta_z_", hours = 2)
    val zOut = new Compactor(spark, clustered, l0FileThreshold = 2, clusterBy = Seq("host"),
      clusterTargetBytes = 1L << 10, clusterMinLevel = 1).runOnce()
    assert(zOut.size > 2, "the clustered sweep range-splits each group")
    assertTrueMetas(clustered, "clustered sweep")

    val split = seeded("graft_meta_split_", hours = 1)
    val halves = new ShardSplitter(spark, split).split(t0 + 1800L * sec, "lo", "hi")
    assert(halves.flatMap(_.shardId).toSet == Set("lo", "hi"))
    assertTrueMetas(split, "shard split")

    val promoted = seeded("graft_meta_promote_", hours = 1)
    new ColumnPromoter(spark, promoted).promote("host_initial", "substring(host, 1, 1)")
    assertTrueMetas(promoted, "column promotion")
    assert(promoted.allChunks.forall(_.columnStats.contains("host_initial")))
  }

  test("a many-group sweep reads its sources once") {
    import org.apache.spark.scheduler._
    val cat = seeded("graft_meta_read_", hours = 3)
    val comp = new Compactor(spark, cat, l0FileThreshold = 2)
    val groups = comp.l0Candidates()
    val sourceBytes = groups.flatten.map(_.sizeBytes).sum
    val sc = spark.sparkContext
    val key = "graft.test.sweep"
    val tag = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val marker = new java.util.concurrent.atomic.AtomicInteger(-1)
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) js.stageIds.foreach(stages.add)
          else if (t == tag + "-marker") marker.set(js.jobId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { ended.add(je.jobId); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null) {
          read.addAndGet(te.taskMetrics.inputMetrics.bytesRead); ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      comp.compactGroups(groups)
      // the bus delivers events in order: once a job run after the sweep has
      // ended, every task end of the sweep has been delivered
      sc.setLocalProperty(key, tag + "-marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!ended.contains(marker.get()) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    info(s"sources $sourceBytes B on disk, sweep task bytesRead ${read.get} B")
    assert(read.get > 0L)
    assert(read.get <= sourceBytes, s"read ${read.get} B of $sourceBytes B of sources")
  }
}
