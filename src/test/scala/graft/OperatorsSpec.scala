package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Operators
import graft.util.ShmDirs

class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("topKPerGroup equals the naive single-window formulation") {
    val df = (1 to 5000).map(i => (s"g${i % 3}", i * 37 % 1000, i)).toDF("g", "v", "id")
      .repartition(8)
    val order = Seq(col("v").desc, col("id"))
    val fast = Operators.topKPerGroup(df, Seq("g"), order, 5)
      .select("g", "v", "id", "rn").collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy(order: _*)
    val naive = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("g", "v", "id", "rn").collect().map(_.toSeq).toSet
    assert(fast == naive)
  }

  test("saltedAggregate matches plain groupBy for sum/count/min/max") {
    val df = (1 to 10000).map(i => (if (i % 100 == 0) "cold" + i else "hot", i.toDouble))
      .toDF("k", "v").repartition(8)
    val salted = Operators.saltedAggregate(df, Seq("k"), saltBuckets = 16,
      partial = Seq("s" -> sum("v"), "c" -> count(lit(1)), "mn" -> min("v"), "mx" -> max("v")),
      finalAgg = Seq("s" -> (sum(_)), "c" -> (sum(_)), "mn" -> (min(_)), "mx" -> (max(_))))
      .orderBy("k").collect()
    val plain = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
      .orderBy("k").collect()
    assert(salted.length == plain.length)
    salted.zip(plain).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6)
      assert(a.getLong(2) == b.getLong(2))
      assert(a.getDouble(3) == b.getDouble(3) && a.getDouble(4) == b.getDouble(4))
    }
  }

  test("maintenance sweep: compaction + retention + GC in one pass") {
    val spark2 = spark
    val cat = new graft.catalog.ChunkCatalog(
      ShmDirs.tempDir("graft_maint_"), cacheTtlMs = 0L)
    val writer = new graft.ingest.ChunkWriter(cat)
    val t0 = 1704067200L * 1000000000L
    val mk = (off: Long) => (0 until 5).map(i =>
      graft.ingest.MetricPoint(t0 + i * 1000000000L + off, "cpu", i.toDouble, Map("h" -> "x")))
    writer.write(graft.ingest.Converters.pointsToDf(spark2, mk(0)))
    writer.write(graft.ingest.Converters.pointsToDf(spark2, mk(500)))
    val maint = new graft.compact.Maintenance(spark2, cat,
      compactor = new graft.compact.Compactor(spark2, cat, l0FileThreshold = 2))
    val report = maint.runOnce()
    assert(report.compacted.size == 1)
    // 2024 data is past the 90-day retention horizon → swept out
    assert(report.retentionRemoved.size == 1)
    assert(report.gcDeleted.isEmpty) // grace period (5 min) not yet elapsed
    cat.invalidateCache()
    assert(cat.allChunks.isEmpty)
    // with a horizon that still covers the data, the compacted chunk survives
    val cat2 = new graft.catalog.ChunkCatalog(
      ShmDirs.tempDir("graft_maint2_"), cacheTtlMs = 0L)
    val w2 = new graft.ingest.ChunkWriter(cat2)
    w2.write(graft.ingest.Converters.pointsToDf(spark2, mk(0)))
    w2.write(graft.ingest.Converters.pointsToDf(spark2, mk(500)))
    val keepAll = new graft.compact.Maintenance(spark2, cat2,
      retentionNs = 100L * 365 * 86400 * 1000000000L,
      compactor = new graft.compact.Compactor(spark2, cat2, l0FileThreshold = 2))
    val r2 = keepAll.runOnce()
    assert(r2.compacted.size == 1 && r2.retentionRemoved.isEmpty)
    cat2.invalidateCache()
    assert(cat2.allChunks.size == 1)
  }

  test("asOfJoin: most recent right row at-or-before left ts, per key") {
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 150L, "c"), (3L, 50L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 90L, 9.0), (1L, 150L, 15.0), (1L, 201L, 20.1), (2L, 150L, 99.0))
      .toDF("k", "ts", "v")
    val out = Operators.asOfJoin(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .orderBy("k", "ts").collect()
    // (1,100) → right@90; (1,200) → right@150; (2,150) → right@150 (inclusive);
    // (3,50) → no match
    assert(out.map(r => (r.getLong(0), r.getLong(1),
      Option(r.getAs[Any]("right_ts")), Option(r.getAs[Any]("right_v")))).toSeq == Seq(
      (1L, 100L, Some(90L), Some(9.0)),
      (1L, 200L, Some(150L), Some(15.0)),
      (2L, 150L, Some(150L), Some(99.0)),
      (3L, 50L, None, None)))
    // left payload columns survive
    assert(out.map(_.getAs[String]("tag")).toSeq == Seq("a", "b", "c", "d"))
  }

  test("asOfJoin with tolerance drops stale matches") {
    val left = Seq((1L, 1000L)).toDF("k", "ts")
    val right = Seq((1L, 10L, 1.0)).toDF("k", "ts", "v")
    val strict = Operators.asOfJoin(left, right, Seq("k"), "ts", "ts", Seq("v"),
      toleranceNs = Some(100L)).collect()
    assert(strict(0).isNullAt(strict(0).fieldIndex("right_v")))
    val loose = Operators.asOfJoin(left, right, Seq("k"), "ts", "ts", Seq("v"),
      toleranceNs = Some(10000L)).collect()
    assert(loose(0).getAs[Double]("right_v") == 1.0)
  }

  test("sessionize: gap starts a new session; boundaries exact; keys independent") {
    // user 1: events at 0, 10, 500 (gap 100 → session break before 500)
    // user 2: events at 5, 300 (break), 305
    val df = Seq(
      (1L, 0L, 1L), (1L, 10L, 2L), (1L, 500L, 3L),
      (2L, 5L, 4L), (2L, 300L, 5L), (2L, 305L, 6L)
    ).toDF("u", "ts", "id")
    val out = Operators.sessionize(df, Seq("u"), "ts", gap = 100L,
        tieBreak = Seq(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(out((1L, 0L)) == 1L && out((1L, 10L)) == 1L && out((1L, 500L)) == 2L)
    assert(out((2L, 5L)) == 1L && out((2L, 300L)) == 2L && out((2L, 305L)) == 2L)
    // a gap of exactly `gap` does NOT split (strict >)
    val edge = Operators.sessionize(
      Seq((1L, 0L), (1L, 100L)).toDF("u", "ts"), Seq("u"), "ts", 100L)
      .collect().map(_.getLong(2)).toSet
    assert(edge == Set(1L))
  }

  test("rangeJoin matches the naive interval join; no duplicate pairs") {
    val points = (0L until 2000L).map(i => (i * 7 % 1000, i)).toDF("ts", "pid")
      .repartition(8)
    // intervals of varied lengths incl. empty, bin-straddling, and whole-range
    val intervals = Seq(
      (0L, 10L, "a"), (5L, 5L, "empty"), (95L, 210L, "straddle"),
      (0L, 1000L, "all"), (999L, 1000L, "edge"), (640L, 704L, "aligned")
    ).toDF("s", "e", "iid")
    val got = Operators.rangeJoin(points, intervals, "ts", "s", "e", binSize = 64L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getString(1)))
    val naive = points.join(intervals, col("ts") >= col("s") && col("ts") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq == naive.sorted.toSeq) // same multiset ⇒ no dupes either
    assert(got.length == got.toSet.size)
  }

  test("scalacheck: rangeJoin equals the naive interval join on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genCase = for {
      nP <- Gen.choose(0, 60)
      pts <- Gen.listOfN(nP, Gen.choose(0L, 500L))
      nI <- Gen.choose(0, 12)
      ivs <- Gen.listOfN(nI, for {
        s <- Gen.choose(-50L, 520L)
        len <- Gen.choose(-10L, 200L) // includes empty/negative intervals
      } yield (s, s + len))
      bin <- Gen.oneOf(1L, 7L, 64L, 1000L)
    } yield (pts, ivs, bin)
    val prop = Prop.forAll(genCase) { case (pts, ivs, bin) =>
      val points = pts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "pid")
      val intervals = ivs.zipWithIndex.map { case ((s, e), i) => (s, e, i.toLong) }
        .toDF("s", "e", "iid")
      val got = Operators.rangeJoin(points, intervals, "ts", "s", "e", bin)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val naive = points.join(intervals, col("ts") >= col("s") && col("ts") < col("e"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      got.toSeq == naive.toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("rangeJoinAuto: bin derived from skewed interval lengths is the median, result exact") {
    // skewed density: 90 short (len 10) + 10 huge (len 1000) intervals — a
    // hand-tuned coarse bin collapses every point into few bins (occupancy²
    // candidates); the auto bin tracks the TYPICAL length
    val intervals = ((0 until 90).map(i => (i * 11L, i * 11L + 10L, i.toLong)) ++
      (0 until 10).map(i => (i * 90L, i * 90L + 1000L, 90L + i))).toDF("s", "e", "iid")
    val points = (0L until 1200L).map(t => (t, t)).toDF("ts", "pid").repartition(8)
    val bin = Operators.autoBinSize(intervals, "s", "e")
    assert(bin == 10L, s"median interval length is the bin, got $bin")
    val got = Operators.rangeJoinAuto(points, intervals, "ts", "s", "e")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val naive = points.join(intervals, col("ts") >= col("s") && col("ts") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == naive.toSeq && got.nonEmpty)
    // the tuning matters: candidate pairs (pre-residual equi-join size) with
    // the auto bin stay well under a 100×-coarser bin's occupancy² pairing
    def candidates(b: Long): Long = {
      val binned = points.withColumn("__bin", expr(s"ts div ${b}L"))
      val exploded = intervals.filter(col("e") > col("s"))
        .withColumn("__bin", explode(sequence(expr(s"s div ${b}L"), expr(s"(e - 1) div ${b}L"))))
      binned.join(exploded, Seq("__bin")).count()
    }
    assert(candidates(bin) < candidates(bin * 100),
      "auto bin must produce fewer candidate pairs than a 100x-coarser bin")
    // degenerate inputs: no positive-length intervals → bin 1, empty result
    val empties = Seq((5L, 5L, 0L)).toDF("s", "e", "iid")
    assert(Operators.autoBinSize(empties, "s", "e") == 1L)
    assert(Operators.rangeJoinAuto(points, empties, "ts", "s", "e").count() == 0L)
  }

  test("rangeJoinAuto binStat: persisted stat skips derivation; stale stat never changes results") {
    val intervals = (0 until 50).map(i => (i * 11L, i * 11L + 10L, i.toLong))
      .toDF("s", "e", "iid")
    val points = (0L until 600L).map(t => (t, t)).toDF("ts", "pid").repartition(4)
    val naive = points.join(intervals, col("ts") >= col("s") && col("ts") < col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // write/compact-time derivation persists the stat into the catalog
    val cat = new graft.catalog.ChunkCatalog(
      ShmDirs.tempDir("graft_stat_"), cacheTtlMs = 0L)
    val derived = Operators.deriveBinStat(cat, "events.win_len", intervals, "s", "e")
    assert(derived == 10L && cat.tableStat("events.win_len").contains(10L))
    // the stat survives a cold load from disk (it is catalog state, not JVM state)
    val reread = new graft.catalog.ChunkCatalog(cat.root, cacheTtlMs = 0L).state
    assert(reread.tableStats.get("events.win_len").contains(10L))
    // query-time: the persisted stat is used verbatim
    val viaStat = Operators.rangeJoinAuto(points, intervals, "ts", "s", "e",
        binStat = cat.tableStat("events.win_len"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaStat == naive)
    // a WILDLY stale stat (data drifted 100×) degrades only the plan, never
    // the answer — the residual containment filter is always exact
    for (stale <- Seq(1L, 1000L)) {
      val viaStale = Operators.rangeJoinAuto(points, intervals, "ts", "s", "e",
          binStat = Some(stale))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(viaStale == naive, s"stale bin $stale must not change results")
    }
    // nonsense stat (≤ 0) falls back to the derivation pass
    assert(Operators.rangeJoinAuto(points, intervals, "ts", "s", "e",
      binStat = Some(0L)).select("pid", "iid").count() == naive.size)
  }

  test("rangeJoin with equi-keys only matches within the key") {
    val points = Seq((1L, 5L, "p1"), (2L, 5L, "p2")).toDF("k", "ts", "pid")
    val intervals = Seq((1L, 0L, 10L, "w1")).toDF("k", "s", "e", "iid")
    val out = Operators.rangeJoin(points, intervals, "ts", "s", "e", 4L, Seq("k"))
      .select("pid", "iid").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("p1", "w1")))
  }

  test("counterRate: resets add the post-reset value; <2 samples dropped") {
    // series a: 10 → 15 → 3 (reset) → 9: increase = 5 + 3 + 6 = 14 over 30 units
    // series b: single sample → dropped
    val df = Seq(
      ("a", 0L, 10.0), ("a", 10L, 15.0), ("a", 20L, 3.0), ("a", 30L, 9.0),
      ("b", 0L, 42.0)
    ).toDF("k", "ts", "v")
    val out = Operators.counterRate(df, Seq("k"), "ts", "v", tsUnitPerSecond = 10L)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("k") == "a")
    assert(r.getAs[Long]("n_samples") == 4L)
    assert(r.getAs[Double]("increase") == 14.0)
    assert(r.getAs[Long]("elapsed") == 30L)
    assert(math.abs(r.getAs[Double]("rate") - 14.0 / 3.0) < 1e-12)
  }
}
