package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Converters, PromWire}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.io.ByteArrayOutputStream
import graft.util.ShmDirs

/** Prometheus remote-write wire parsing (F4) + IVF ANN + concurrency/atomicity. */
class WireAndIvfSpec extends AnyFunSuite {

  // --- minimal proto3 encoder for test vectors ------------------------------

  private def varint(v: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var x = v
    do {
      val b = (x & 0x7F).toInt
      x >>>= 7
      out.write(if (x != 0) b | 0x80 else b)
    } while (x != 0)
    out.toByteArray
  }
  private def tag(field: Int, wt: Int): Array[Byte] = varint((field << 3) | wt)
  private def lenDelim(field: Int, body: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(body.length) ++ body
  private def str(field: Int, s: String): Array[Byte] = lenDelim(field, s.getBytes("UTF-8"))
  private def fixed64(field: Int, bits: Long): Array[Byte] =
    tag(field, 1) ++ (0 until 8).map(i => ((bits >>> (8 * i)) & 0xFF).toByte).toArray
  private def label(n: String, v: String): Array[Byte] = str(1, n) ++ str(2, v)
  private def sample(value: Double, tsMs: Long): Array[Byte] =
    fixed64(1, java.lang.Double.doubleToLongBits(value)) ++ tag(2, 0) ++ varint(tsMs)

  test("parseWriteRequest: labels + samples roundtrip (FIXTURES F4)") {
    val ts = lenDelim(1, label("__name__", "cpu_usage")) ++
      lenDelim(1, label("host", "server1")) ++
      lenDelim(2, sample(0.85, 1000L)) ++
      lenDelim(2, sample(0.90, 2000L))
    val req = lenDelim(1, ts)
    val parsed = PromWire.parseWriteRequest(req)
    assert(parsed.length == 1)
    assert(parsed.head.labels == Map("__name__" -> "cpu_usage", "host" -> "server1"))
    assert(parsed.head.samples == Seq((1000L, 0.85), (2000L, 0.90)))
  }

  test("toRoutedPoints: full wire → routed conversion (ms→ns + value routing)") {
    val ts = lenDelim(1, label("__name__", "reqs")) ++
      lenDelim(2, sample(5.0, 1500L))
    val pts = PromWire.toRoutedPoints(lenDelim(1, ts))
    assert(pts.length == 1)
    assert(pts.head.timestampNs == 1500000000L)
    assert(pts.head.metricName == "reqs")
    assert(pts.head.valueU64.contains(5L))
  }

  test("scalacheck: arbitrary bytes never hang or escape IllegalArgumentException") {
    // the wire parser faces the network: any byte soup must terminate promptly
    // with either a parse or an IllegalArgumentException — no other throwable,
    // no infinite skip loop (each case is bounded by the test's own run time)
    val gen = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    val prop = Prop.forAll(gen) { bytes =>
      try { PromWire.parseWriteRequest(bytes); true }
      catch { case _: IllegalArgumentException => true }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("parser skips unknown fields; rejects truncated input") {
    val ts = lenDelim(1, label("__name__", "m")) ++
      tag(9, 0) ++ varint(42L) ++ // unknown varint field
      lenDelim(2, sample(1.0, 1L))
    assert(PromWire.parseWriteRequest(lenDelim(1, ts)).head.samples.nonEmpty)
    intercept[IllegalArgumentException] {
      PromWire.parseWriteRequest(Array[Byte](0x0A, 0x7F)) // claims 127 bytes, has 0
    }
  }

  test("skip rejects 64-bit lengths truncating to negative Int (no backwards pos)") {
    // unknown field 9, wire type 2, length varint 0xFFFFFFFF → toInt = -1;
    // without the len >= 0 guard pos would move BACKWARDS and loop forever
    val evil = tag(9, 2) ++ varint(4294967295L)
    intercept[IllegalArgumentException] {
      PromWire.parseWriteRequest(evil)
    }
  }

  test("histogram collapse: sum preferred, count fallback (otlp.rs:133-173)") {
    val withSum = Converters.histogramPoint(1L, "lat", Some(12.5), 100L, Map.empty)
    assert(withSum.value == 12.5)
    val noSum = Converters.histogramPoint(1L, "lat", None, 100L, Map.empty)
    assert(noSum.value == 100.0)
  }

  test("IVF top-k: self in top-1, high overlap with brute force") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val base = (0 until 60).map { i =>
      val cluster = i % 4
      (i.toLong, Array.tabulate(12)(j =>
        (if (j % 4 == cluster) 1.0f else 0.05f) + ((i * 13 + j * 7) % 5) * 0.02f))
    }
    val corpus = base.toDF("vec_id", "embedding")
    val queries = base.take(3).toDF("query_id", "query_vec")
    val ivf = graft.sim.Similarity.ivfTopK(corpus, queries, 3,
      nCentroids = 8, nProbe = 4).collect()
    // each query's own vector must appear at rank 1 with cosine 1
    val rank1 = ivf.filter(_.getAs[Int]("rank") == 1)
    assert(rank1.length == 3)
    assert(rank1.forall(r => r.getAs[Long]("query_id") == r.getAs[Long]("vec_id")))
    val exact = graft.sim.Similarity.bruteForceTopK(corpus, queries, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    assert((exact & got).size.toDouble / exact.size >= 0.5)
  }

  test("IVF top-k: non-Long id columns and an empty hash sample both work") {
    // Regression: the centroid decode hard-cast ids with getLong (throws for any
    // non-LongType idCol), and a hash-sampled centroid set coming back EMPTY made
    // element_at over an empty array fail under ANSI mode. Ids are now decoded
    // generically and an empty sample falls back to the first nCentroids ids.
    val spark = SparkTestBase.spark
    import spark.implicits._
    // stride = 24/4 = 6; keep only ids whose xxhash64 % 6 != 0 → sample is empty
    val stride = 6L
    val candidates = (0 until 200).map(i => s"doc_$i")
    val hashed = candidates.toDF("vec_id")
      .withColumn("h", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("vec_id")),
        org.apache.spark.sql.functions.lit(stride)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nonZero = hashed.filter(_._2 != 0L).map(_._1).take(24)
    assert(nonZero.length == 24, "fixture needs 24 ids that the hash sample misses")
    val base = nonZero.zipWithIndex.map { case (id, i) =>
      val cluster = i % 4
      (id, Array.tabulate(12)(j =>
        (if (j % 4 == cluster) 1.0f else 0.05f) + ((i * 13 + j * 7) % 5) * 0.02f))
    }
    val corpus = base.toSeq.toDF("vec_id", "embedding") // STRING ids
    val queries = base.take(2).map { case (id, v) => (id, v) }.toSeq
      .toDF("query_id", "query_vec")
    val ivf = graft.sim.Similarity.ivfTopK(corpus, queries, 3,
      nCentroids = 4, nProbe = 4).collect()
    val rank1 = ivf.filter(_.getAs[Int]("rank") == 1)
    assert(rank1.length == 2)
    assert(rank1.forall(r => r.getAs[String]("query_id") == r.getAs[String]("vec_id")))
  }

  test("catalog: concurrent register/replace keeps every committed chunk (atomicity)") {
    val cat = new graft.catalog.ChunkCatalog(
      ShmDirs.tempDir("graft_conc_"), cacheTtlMs = 0L)
    val hourNs = 3600L * 1000000000L
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        (0 until 10).foreach { i =>
          cat.register(graft.catalog.ChunkMeta(s"c-$t-$i", i * hourNs, i * hourNs + 1, 1, 1))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    cat.invalidateCache()
    assert(cat.allChunks.size == 80)
    // concurrent replace of disjoint pairs
    val rThreads = (0 until 8).map { t =>
      new Thread(() => {
        cat.replaceChunks(Seq(s"c-$t-0", s"c-$t-1"),
          Seq(graft.catalog.ChunkMeta(s"m-$t", 0, 1, 2, 2, level = 1)))
      })
    }
    rThreads.foreach(_.start()); rThreads.foreach(_.join())
    cat.invalidateCache()
    val chunks = cat.allChunks.map(_.path).toSet
    assert(chunks.count(_.startsWith("m-")) == 8)
    assert(cat.allChunks.size == 80 - 16 + 8)
  }

  test("F6 dedup fixture: first-wins on (timestamp, metric_name), 4 survivors") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val batch1 = Seq((100L, "cpu", 1.0), (200L, "mem", 2.0), (300L, "cpu", 3.0))
    val batch2 = Seq((100L, "cpu", 1.0), (400L, "disk", 4.0))
    val df = (batch1 ++ batch2).toDF("timestamp", "metric_name", "value")
    val deduped = df.dropDuplicates(Seq("timestamp", "metric_name"))
    assert(deduped.count() == 4)
    assert(deduped.filter($"timestamp" === 100L).count() == 1)
  }
}
