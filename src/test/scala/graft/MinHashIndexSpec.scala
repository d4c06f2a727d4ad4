package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, MinHashIndex}
import graft.util.ShmDirs

class MinHashIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Deterministic corpus: near-dup templates (J >= 0.8 within a family) plus
    * unique filler, same construction idea as the gate fixtures.
    */
  private def corpus(n: Int) = {
    val templates = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "spark catalyst optimizer rewrites logical plans into physical plans",
      "minhash signatures estimate jaccard similarity between shingle sets")
    docs((0L until n).map { i =>
      if (i % 7 == 0) {
        val t = templates((i % 21).toInt / 7)
        (i, s"$t variant${i % 3}") // family members share a long prefix
      } else
        (i, s"unique document number $i with content token${i * 31} token${i * 17} end")
    }: _*)
  }

  test("probe finds exactly the cross near-dup pairs the one-shot operator finds") {
    val all = corpus(70)
    val batch = all.filter(col("doc_id") % 5 === 0)
    val rest = all.filter(col("doc_id") % 5 =!= 0)
    val root = ShmDirs.tempDir("mh_idx_").toString
    MinHashIndex.build(rest, root, numHashes = 32, bands = 16, nParts = 16)

    val got = MinHashIndex.probe(spark, root, batch, rest, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // reference: one-shot operator over the union, restricted to cross pairs
    val oneShot = Dedup.minhashNearDupPairs(all, threshold = 0.5,
        numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, j) => if (a % 5 == 0) (a, b, j) else (b, a, j) }
      .toSet
    assert(got == oneShot)
    assert(got.nonEmpty) // the fixture plants cross-family near-dups
  }

  test("probing a corpus-drawn batch reports no identity pairs") {
    val all = corpus(40)
    val root = ShmDirs.tempDir("mh_idx_id_").toString
    MinHashIndex.build(all, root, numHashes = 32, bands = 16, nParts = 16)
    val got = MinHashIndex.probe(spark, root, all.filter(col("doc_id") < 10),
      all, threshold = 0.5).collect()
    assert(got.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("probe reads only the batch's bucket partitions (pruned scan)") {
    val all = corpus(80)
    val root = ShmDirs.tempDir("mh_idx_pr_").toString
    MinHashIndex.build(all, root, numHashes = 32, bands = 16, nParts = 64)
    val allParts = spark.read.parquet(s"$root/buckets")
      .select("bh_part").distinct().count()
    assert(allParts > 1)
    // a single doc probes at most `bands` partitions of the 64
    val p = MinHashIndex.readParams(spark, root)
    val one = docs((9999L, "the quick brown fox jumps over the lazy dog again and again variant0"))
      .withColumn("__sh", Dedup.shingles(col("text"), p.k))
      .withColumn("sig", Dedup.minhashSignature(col("__sh"), p.numHashes))
    val parts = Dedup.lshBuckets(one, "doc_id", "sig", p.bands, p.rowsPerBand)
      .select(pmod(col("band_hash"), lit(p.nParts)).cast("int").as("bh_part"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val touched = MinHashIndex.probedBuckets(spark, root, parts)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.length < allParts)
    assert(touched.forall(f => parts.exists(pt => f.contains(s"bh_part=$pt/"))))
  }

  test("append: probe after append equals a fresh build over the union") {
    val all = corpus(90)
    val old = all.filter(col("doc_id") < 60)
    val added = all.filter(col("doc_id") >= 60)
    val batch = docs((5000L, "the quick brown fox jumps over the lazy dog again and again variant1"),
      (5001L, "spark catalyst optimizer rewrites logical plans into physical plans variant2"))

    val rootA = ShmDirs.tempDir("mh_idx_app_").toString
    MinHashIndex.build(old, rootA, numHashes = 32, bands = 16, nParts = 16)
    MinHashIndex.append(added, rootA)
    val viaAppend = MinHashIndex.probe(spark, rootA, batch, all, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val rootB = ShmDirs.tempDir("mh_idx_reb_").toString
    MinHashIndex.build(all, rootB, numHashes = 32, bands = 16, nParts = 16)
    val viaRebuild = MinHashIndex.probe(spark, rootB, batch, all, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(viaAppend == viaRebuild)
    assert(viaAppend.exists(_._2 >= 60)) // matches in the APPENDED slice are found
  }

  test("append tombstones keys crossing maxBucket across old+new; probe == rebuild") {
    // 8 identical boilerplate docs at build (under cap=10, kept), 5 more via
    // append (combined 13 > 10): the key must die, and its already-written
    // rows must stop matching — exactly what a fresh rebuild over the union
    // would do. A normal near-dup family must keep matching after the append.
    val boiler = "exactly the same boilerplate text repeated in every single document here"
    val normal = "the quick brown fox jumps over the lazy dog again and again"
    val old = docs(((0L until 8).map(i => (i, boiler)) :+ (100L, normal)): _*)
    val added = docs(((200L until 205).map(i => (i, boiler)) :+ (300L, s"$normal variant0")): _*)
    val union = old.unionByName(added)

    val rootA = ShmDirs.tempDir("mh_idx_tomb_").toString
    MinHashIndex.build(old, rootA, numHashes = 32, bands = 16, nParts = 16, maxBucket = 10)
    MinHashIndex.append(added, rootA)
    val batch = docs((9000L, boiler), (9001L, normal))
    val viaAppend = MinHashIndex.probe(spark, rootA, batch, union, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val rootB = ShmDirs.tempDir("mh_idx_tomb2_").toString
    MinHashIndex.build(union, rootB, numHashes = 32, bands = 16, nParts = 16, maxBucket = 10)
    val viaRebuild = MinHashIndex.probe(spark, rootB, batch, union, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(viaAppend == viaRebuild)
    assert(viaAppend.forall(_._1 == 9001L)) // boilerplate key is dead both ways
    assert(viaAppend.exists(p => p._1 == 9001L && p._2 == 300L)) // appended normal doc matches
  }

  test("re-appending already-indexed docs is a no-op: no duplicate probe pairs") {
    val all = corpus(60)
    val root = ShmDirs.tempDir("mh_idx_reapp_").toString
    MinHashIndex.build(all, root, numHashes = 32, bands = 16, nParts = 16)
    val batch = docs((5000L, "the quick brown fox jumps over the lazy dog again and again variant1"))
    val before = MinHashIndex.probe(spark, root, batch, all, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(before.nonEmpty)
    // append a slice that is ALREADY in the index — the doc_id guard must
    // skip it entirely (no duplicate sigs/bucket rows)
    MinHashIndex.append(all.filter(col("doc_id") < 30), root)
    assert(spark.read.parquet(s"$root/sigs").groupBy("doc_id")
      .count().filter(col("count") > 1).count() == 0, "sigs must stay unique per doc_id")
    val after = MinHashIndex.probe(spark, root, batch, all, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(after == before, "re-append must not change or duplicate probe output")
  }

  test("build drops oversized (degenerate) buckets; probe misses only those") {
    // 30 empty-text docs all collide into one degenerate bucket family
    val degenerate = docs((0L until 30).map(i => (i, "")): _*)
    val root = ShmDirs.tempDir("mh_idx_deg_").toString
    MinHashIndex.build(degenerate, root, numHashes = 32, bands = 16,
      nParts = 16, maxBucket = 10)
    assert(MinHashIndex.probedBuckets(spark, root, 0 until 16).count() == 0)
    val got = MinHashIndex.probe(spark, root, degenerate.filter(col("doc_id") < 2),
      degenerate, threshold = 0.5).collect()
    assert(got.isEmpty)
  }
}
