package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.functions.ZOrderExpressions
import graft.functions.ZOrderExpressions._
import graft.catalog.ChunkCatalog
import graft.compact.Compactor
import graft.ingest.ChunkWriter
import graft.util.ShmDirs

/** Z-order clustering: the Morton-key expression's bit-level contract, and
  * the clustered compaction path end-to-end — data preserved exactly, output
  * range-split into z-bucket chunks whose zone maps prune non-time predicates.
  */
class ZOrderSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L

  private def zEval(norms: Seq[ColumnNorm], values: Any*): Long = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val lits = values.map {
      case s: String => Literal.create(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)
      case other => Literal(other)
    }
    ZOrder64(lits, norms).eval(null).asInstanceOf[Long]
  }

  test("interleave matches the naive 2-column Morton model") {
    // 4-char ASCII strings with the Default norm: the 32-bit code is EXACTLY
    // the big-endian bytes (no scaling, no floats), so the key must equal
    // textbook bit interleaving of the two codes
    def naive(a: Long, b: Long): Long = {
      var out = 0L
      for (bit <- 31 to 0 by -1)
        out = (out << 2) | (((a >>> bit) & 1L) << 1) | ((b >>> bit) & 1L)
      out
    }
    val norms = Seq[ColumnNorm](Default, Default)
    val asciiStr = Gen.listOfN(4, Gen.chooseNum(0, 127)).map(_.map(_.toChar).mkString)
    check(Prop.forAll(asciiStr, asciiStr) { (a, b) =>
      zEval(norms, a, b) ==
        (naive(ZOrderExpressions.stringCode(a, 0),
          ZOrderExpressions.stringCode(b, 0)) ^ Long.MinValue)
    })
  }

  test("z-key is monotone in each dimension with the others fixed") {
    val norms = Seq[ColumnNorm](LongRange(0L, 65535L), LongRange(0L, 65535L))
    val g = Gen.chooseNum(0L, 65535L)
    check(Prop.forAll(g, g, g) { (x1, x2, y) =>
      val (a, b) = (math.min(x1, x2), math.max(x1, x2))
      // the sign-flipped key makes plain (signed) Long comparison the curve
      // order — exactly what sortWithinPartitions uses
      zEval(norms, a, y) <= zEval(norms, b, y) &&
        zEval(norms, y, a) <= zEval(norms, y, b)
    })
  }

  test("string prefix skip + range scaling discriminates shared-prefix values") {
    // without skip: 4-byte codes of metric_0042 vs metric_0911 are identical
    val noSkip = Seq[ColumnNorm](Default)
    assert(zEval(noSkip, "metric_0042") == zEval(noSkip, "metric_0911"))
    // with the compactor's norm (skip common prefix + scale to observed range)
    // they split across the full key range, and order is preserved
    val skip = commonPrefixBytes("metric_0042", "metric_0911")
    assert(skip == 8)
    val norm = Seq[ColumnNorm](StringPrefix(skip,
      ZOrderExpressions.stringCode("metric_0042", skip),
      ZOrderExpressions.stringCode("metric_0911", skip)))
    val lo = zEval(norm, "metric_0042")
    val hi = zEval(norm, "metric_0911")
    assert(lo < hi)
    assert(lo == Long.MinValue, "observed min scales to the bottom of the key space")
    assert(hi >= 0x7000000000000000L, "observed max scales to the top of the key space")
  }

  test("null inputs code to 0 instead of nulling the key") {
    val norms = Seq[ColumnNorm](Default, Default)
    val z = zEval(norms, null, "x")
    assert(z == zEval(norms, "", "x"), "null clusters with the low end")
  }

  test("codegen path equals interpreted eval bit-for-bit") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map { i =>
      val s = if (i % 17 == 0) null else s"host-${rnd.nextInt(1000)}"
      val l = rnd.nextLong()
      val d = if (i % 13 == 0) Double.NaN else rnd.nextDouble() * 2e6 - 1e6
      (s, l, d)
    }
    val norms = Seq[ColumnNorm](
      StringPrefix(5, stringCode("0", 0), stringCode("999", 0)),
      LongRange(-1000L, 1000L), DoubleRange(-1e6, 1e6))
    val df = rows.toDF("s", "l", "d")
    import org.apache.spark.sql.GraftBridge
    val expr = ZOrder64(Seq(
      GraftBridge.expression(col("s")),
      GraftBridge.expression(col("l")),
      GraftBridge.expression(col("d"))), norms)
    // DataFrame execution takes the doGenCode path — and with fallback OFF a
    // Janino compile error fails the test instead of silently degrading to
    // the interpreted path (which would make this equivalence check vacuous)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val fromCodegen =
      try df.select(GraftBridge.column(expr).as("z")).collect().map(_.getLong(0))
      finally spark.conf.set("spark.sql.codegen.fallback", "true")
    // direct eval is the interpreted path
    val fromEval = rows.map { case (s, l, d) =>
      zEval(norms, s, l, d)
    }
    assert(fromCodegen.toSeq == fromEval, "codegen and interpreted keys diverge")
  }

  test("graft_zorder64 SQL function is registered and deterministic") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_zorder64(s, v) AS z FROM VALUES ('a', 1L), ('b', 2L), ('a', 1L) t(s, v)")
      .collect().map(_.getLong(0))
    assert(r(0) == r(2) && r(0) != r(1))
  }

  // ---- clustered compaction end-to-end -------------------------------------

  private def mkMetrics(rows: Int) = {
    import spark.implicits._
    (0 until rows).map { i =>
      // alternate hour buckets so BOTH hours fill (two L0 groups, and the
      // resulting L1 pair forms a leveled candidate), with a pseudo-random
      // offset inside the hour
      val ts = t0 + ((i / 2) % 2).toLong * hourNs + (i.toLong * 7919L) % hourNs
      (new java.sql.Timestamp(ts / 1000000L), ts,
        s"m${i % 5}", s"h${i % 10}", i.toDouble,
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long])
    }.toDF("timestamp", "timestamp_ns", "metric_name", "host",
      "value_f64", "value_i64", "value_u64")
  }

  private def compacted(cluster: Boolean): (ChunkCatalog, Seq[graft.catalog.ChunkMeta]) = {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_zorder_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val df = mkMetrics(20000)
    // two interleaved L0 writes per hour → ripe L0 groups
    writer.write(df.filter(col("value_f64") % 2 === 0))
    writer.write(df.filter(col("value_f64") % 2 =!= 0))
    val comp =
      if (cluster) new Compactor(spark, cat, l0FileThreshold = 2,
        clusterBy = Seq("metric_name", "host"),
        clusterTargetBytes = 16L << 10, // tiny → force multiple z-buckets
        clusterMinLevel = 1)
      else new Compactor(spark, cat, l0FileThreshold = 2)
    val out = comp.runOnce()
    (cat, out)
  }

  test("clustered compaction preserves the data exactly and splits into z-bucket chunks") {
    val (plainCat, plainOut) = compacted(cluster = false)
    val (zCat, zOut) = compacted(cluster = true)
    assert(zOut.size > plainOut.size, "z-range split must emit multiple chunks per group")
    val plainDf = spark.read.parquet(plainCat.allChunks.map(_.path): _*)
    val zDf = spark.read.parquet(zCat.allChunks.map(_.path): _*)
    assert(zDf.count() == 20000L && plainDf.count() == 20000L)
    assert(zDf.exceptAll(plainDf).isEmpty && plainDf.exceptAll(zDf).isEmpty,
      "clustering must not change the data")
    assert(zCat.allChunks.nonEmpty)
  }

  test("z-bucket zone maps prune host/metric predicates that plain compaction cannot") {
    val (plainCat, _) = compacted(cluster = false)
    val (zCat, _) = compacted(cluster = true)
    def hitsFor(cat: ChunkCatalog, col: String, v: String): Int =
      cat.chunksInRange(t0, t0 + 2 * hourNs).count(c =>
        c.columnStats.get(col).forall(s =>
          s.minString.forall(_ <= v) && s.maxString.forall(_ >= v)))
    val zTotal = zCat.allChunks.size
    // plain: every chunk covers every host and metric → zero pruning
    assert(hitsFor(plainCat, "host", "h3") == plainCat.allChunks.size)
    // clustered: a single (host, metric) point predicate prunes most chunks
    val hostHits = hitsFor(zCat, "host", "h3")
    val metricHits = hitsFor(zCat, "metric_name", "m2")
    assert(hostHits < zTotal, s"host zone maps must prune ($hostHits of $zTotal)")
    assert(metricHits < zTotal, s"metric zone maps must prune ($metricHits of $zTotal)")
    // and the pruned scan still returns exactly the right rows
    val hit = zCat.chunksInRange(t0, t0 + 2 * hourNs).filter(c =>
      c.columnStats.get("host").forall(s =>
        s.minString.forall(_ <= "h3") && s.maxString.forall(_ >= "h3")))
    val got = spark.read.parquet(hit.map(_.path): _*)
      .filter(col("host") === "h3").count()
    assert(got == 2000L, s"h3 rows via pruned scan: $got")
  }

  test("numeric cluster columns: DoubleRange/LongRange norms from catalog stats, value predicates prune") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_zorder_num_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val df = mkMetrics(20000) // value_f64 = row index → wide observed range
    writer.write(df.filter(col("value_f64") % 2 === 0))
    writer.write(df.filter(col("value_f64") % 2 =!= 0))
    val comp = new Compactor(spark, cat, l0FileThreshold = 2,
      clusterBy = Seq("host", "value_f64"), // string + DOUBLE → DoubleRange norm
      clusterTargetBytes = 16L << 10, clusterMinLevel = 1)
    val out = comp.runOnce()
    assert(out.size > 2, "numeric clustering must still range-split")
    // data preserved exactly
    assert(spark.read.parquet(cat.allChunks.map(_.path): _*).count() === 20000L)
    // a narrow value_f64 band must prune chunks via the tightened zone maps
    val total = cat.allChunks.size
    val hits = cat.chunksInRange(t0, t0 + 2 * hourNs).count(c =>
      c.columnStats.get("value_f64").forall(s =>
        s.minDouble.forall(_ <= 100.0) && s.maxDouble.forall(_ >= 0.0)))
    assert(hits < total, s"value zone maps must prune ($hits of $total)")
    // and the pruned set still contains every matching row
    val hit = cat.chunksInRange(t0, t0 + 2 * hourNs).filter(c =>
      c.columnStats.get("value_f64").forall(s =>
        s.minDouble.forall(_ <= 100.0) && s.maxDouble.forall(_ >= 0.0)))
    val got = spark.read.parquet(hit.map(_.path): _*)
      .filter(col("value_f64") >= 0.0 && col("value_f64") <= 100.0).count()
    assert(got === 101L, s"rows in [0,100] via pruned scan: $got")
  }

  test("clustered compactor composes with the maintenance sweep: downsample and retention stay exact") {
    import graft.compact.{Compactor, Maintenance}
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_zorder_mnt_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val df = mkMetrics(20000) // hours 0 and 1, value_f64 = 0..19999
    writer.write(df.filter(col("value_f64") % 2 === 0))
    writer.write(df.filter(col("value_f64") % 2 =!= 0))
    val comp = new Compactor(spark, cat, l0FileThreshold = 2,
      clusterBy = Seq("metric_name", "host"),
      clusterTargetBytes = 16L << 10, clusterMinLevel = 1)
    val maint = new Maintenance(spark, cat,
      retentionNs = 365L * 86400 * 1000000000L,
      compactor = comp,
      downsample = Some(Maintenance.Downsample(
        afterNs = 24 * hourNs, resolutionSeconds = 3600L, labelCols = Seq("host"))))
    // now = t0+30h → age cutoff t0+6h: both ingested hours are fully aged
    val rep = maint.runOnce((t0 + 30 * hourNs) / 1000000L)
    // the sweep's compaction leg range-split into z-buckets (several chunks
    // per hour group), and the downsample leg built a rollup OVER those
    // clustered multi-file hours — z chunks span their full hour in time, so
    // the aged-coverage math must still see both hours
    assert(rep.compacted.size > 2, s"expected z-split, got ${rep.compacted.size} chunks")
    assert(rep.rolledUp.isDefined)
    val roll = spark.read.parquet(rep.rolledUp.get.path)
    val sums = roll.agg(sum("sum_value"), sum("sample_count")).collect()(0)
    assert(sums.getDouble(0) === (0 until 20000).map(_.toDouble).sum)
    assert(sums.getLong(1) === 20000L)
    // raw data is intact under the clustered layout
    assert(spark.read.parquet(cat.allChunks.map(_.path): _*).count() === 20000L)
    // the sweep's LEVELED stage merged both hours into one clustered group
    // (size-based leveled merges cross hour boundaries, exactly like the
    // plain path) — so z chunks span both hours with HONEST min/max ts.
    // Retention granularity is therefore the leveled-chunk span, not the
    // hour: a cutoff inside the span removes nothing...
    assert(cat.allChunks.forall(c =>
      c.minTimestampNs < t0 + hourNs && c.maxTimestampNs >= t0 + hourNs))
    assert(comp.applyRetention(t0 + hourNs).isEmpty,
      "mid-span cutoff must not remove partially-live chunks")
    // ...and a cutoff past the whole span removes every chunk
    val removed = comp.applyRetention(t0 + 3 * hourNs)
    cat.invalidateCache()
    assert(removed.nonEmpty && cat.allChunks.isEmpty)
  }

  test("maxMergeSpanNs bounds leveled merges so retention reclaims at the configured granularity") {
    import graft.compact.Compactor
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_zorder_span_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val df = mkMetrics(20000) // hours 0 and 1
    writer.write(df.filter(col("value_f64") % 2 === 0))
    writer.write(df.filter(col("value_f64") % 2 =!= 0))
    val comp = new Compactor(spark, cat, l0FileThreshold = 2,
      clusterBy = Seq("metric_name", "host"),
      clusterTargetBytes = 16L << 10, clusterMinLevel = 1,
      maxMergeSpanNs = Some(hourNs)) // leveled merges never cross an hour
    comp.runOnce()
    cat.invalidateCache()
    // no chunk spans both hours: hour 0 is independently reclaimable
    assert(cat.allChunks.forall(c =>
      c.maxTimestampNs - c.minTimestampNs < hourNs), "span cap violated")
    val hour0 = cat.allChunks.count(_.maxTimestampNs < t0 + hourNs)
    assert(hour0 > 1, "hour 0 should be several z-bucket chunks")
    // cutoff between the hours: hour 0 wholly expired (its rows live in the
    // first seconds of the hour), hour 1 not — plus the 30 s skew margin
    val removed = comp.applyRetention(t0 + hourNs)
    cat.invalidateCache()
    assert(removed.size == hour0, s"removed ${removed.size}, want $hour0")
    assert(spark.read.parquet(cat.allChunks.map(_.path): _*).count() == 10000L)
  }

  test("sweep mixing eligible and ineligible groups clusters only the cold ones") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_zorder_mix_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val df = mkMetrics(8000)
    writer.write(df.filter(col("value_f64") % 2 === 0))
    writer.write(df.filter(col("value_f64") % 2 =!= 0))
    // L0 → level 1 with clusterMinLevel = 2: groups are NOT eligible; the
    // sweep must fall back to plain single-chunk merges
    val comp = new Compactor(spark, cat, l0FileThreshold = 2,
      clusterBy = Seq("metric_name", "host"),
      clusterTargetBytes = 16L << 10,
      clusterMinLevel = 2)
    val l0Groups = comp.l0Candidates()
    val out = comp.runOnce()
    assert(out.count(_.level == 1) == l0Groups.size, "below clusterMinLevel: one chunk per group")
    assert(out.count(_.level == 2) >= 1, "the L1->L2 merge IS eligible")
    assert(spark.read.parquet(cat.allChunks.map(_.path): _*).count() == 8000L)
  }
}
