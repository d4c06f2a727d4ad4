package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.util.ShmDirs

/** Deterministic-randomness pipeline ops: portable hash, splits, stratified
  * sampling, mixture weights, KMV distinct sketch.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("hex60 equals the first 15 hex chars of md5, as a long") {
    val got = Seq("42").toDF("v").select(Pipeline.hex60(col("v"))).collect()(0).getLong(0)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == java.lang.Long.parseLong(md5.take(15), 16))
    assert(got >= 0L && got < (1L << 60))
  }

  test("trainValTest: deterministic, exhaustive, roughly 80/10/10") {
    val ids = (0 until 2000).map(_.toLong).toDF("doc_id")
    val split = Pipeline.trainValTest(ids, "doc_id")
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700) // ~80%
    assert(counts("val") > 120 && counts("val") < 280) // ~10%
    // same ids → same assignment (re-split never moves a document)
    val again = Pipeline.trainValTest(ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == first)
  }

  test("stratifiedSample: per-stratum rates honored deterministically") {
    val df = (0 until 1000).map(i => (i.toLong, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val kept = Pipeline.stratifiedSample(df, "doc_id",
      when(col("lang") === "en", 10).otherwise(50))
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 500 en at 10% ≈ 50, 500 fr at 50% ≈ 250 (hash noise tolerated)
    assert(byLang("en") > 25 && byLang("en") < 85, byLang.toString)
    assert(byLang("fr") > 200 && byLang("fr") < 300, byLang.toString)
    assert(kept.count() == Pipeline.stratifiedSample(df, "doc_id",
      when(col("lang") === "en", 10).otherwise(50)).count()) // deterministic
  }

  test("mixtureWeights: weight is inverse to share; uniform target") {
    val df = (Seq.fill(300)("common") ++ Seq.fill(100)("rare")).toDF("source")
    val w = Pipeline.mixtureWeights(df, "source").collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("share"), r.getAs[Double]("weight"))).toMap
    assert(w("common")._1 == 0.75 && w("rare")._1 == 0.25)
    assert(w("common")._2 == 0.666667) // (1/2) / 0.75, µ-rounded
    assert(w("rare")._2 == 2.0) // (1/2) / 0.25
  }

  test("chunkTokens: exact chunk boundaries, short tail, content hash") {
    val df = Seq(
      (1L, (1 to 70).map(i => s"w$i").mkString(" ")), // 70 tokens → 32+32+6
      (2L, "single"), // 1 token → one 1-token chunk
      (3L, "   ") // whitespace-only → dropped
    ).toDF("doc_id", "text")
    val out = Pipeline.chunkTokens(df, "doc_id", "text", 32).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 0L) -> 32L, (1L, 1L) -> 32L, (1L, 2L) -> 6L, (2L, 0L) -> 1L))
    // hash covers content: chunk 0 of identical texts matches, different differs
    val h = Pipeline.chunkTokens(Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b x"))
        .toDF("doc_id", "text"), "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(h(1L) == h(2L) && h(1L) != h(3L))
  }

  test("repeatByWeight: exact integer copies, fractional tail by hash, w=0 drops") {
    val df = (1L to 1000L).map(i => (i, s"d$i")).toDF("id", "tag")
    // integral weight: exactly 2 copies each, copy_idx 0..1
    val twice = Pipeline.repeatByWeight(df, "id", lit(2.0))
    assert(twice.count() == 2000L)
    assert(twice.groupBy("id").count().filter(col("count") =!= 2).count() == 0L)
    assert(twice.select("copy_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(0, 1))
    // zero weight drops everything
    assert(Pipeline.repeatByWeight(df, "id", lit(0.0)).count() == 0L)
    // fractional: w = 1.25 → mean multiplicity ≈ 1.25, each row 1 or 2 copies
    val frac = Pipeline.repeatByWeight(df, "id", lit(1.25))
    val n = frac.count()
    assert(n > 1150 && n < 1350, s"got $n, expected ≈1250")
    val perRow = frac.groupBy("id").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(perRow == Set(1L, 2L))
    // deterministic under repartitioning
    val again = Pipeline.repeatByWeight(df.repartition(7), "id", lit(1.25)).count()
    assert(again == n)
  }

  test("capPerGroup: at most n per group, hash-stable choice, groups under n intact") {
    val df = (1L to 300L).map(i => (s"g${i % 3}", i)).toDF("g", "id")
      .union(Seq(("tiny", 1000L), ("tiny", 1001L)).toDF("g", "id"))
    val out = Pipeline.capPerGroup(df, Seq("g"), "id", 10)
    val byGroup = out.collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGroup("g0").size == 10 && byGroup("g1").size == 10 && byGroup("g2").size == 10)
    assert(byGroup("tiny") == Set(1000L, 1001L)) // under the cap: kept whole
    // choice is a pure function of ids: same input reshuffled → same kept set
    val again = Pipeline.capPerGroup(df.repartition(13), Seq("g"), "id", 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(again == byGroup)
    // ranks are 1..n within each group
    val ranks = out.filter(col("g") === "g0").collect().map(_.getLong(2)).sorted.toSeq
    assert(ranks == (1L to 10L))
  }

  test("kmvDistinct: exact below k, close estimate above k") {
    val small = (0 until 40).map(_.toLong).toDF("v")
    val exactRow = Pipeline.kmvDistinct(small, col("v"), 64).collect()(0)
    assert(exactRow.getAs[Long]("est_distinct") == 40L)
    // 5000 distinct values, k=64: KMV standard error ~ 1/sqrt(64) = 12.5%
    val big = (0 until 5000).map(_.toLong).toDF("v")
    val est = Pipeline.kmvDistinct(big, col("v"), 64).collect()(0).getAs[Long]("est_distinct")
    assert(est > 3000 && est < 7000, s"estimate $est far from 5000")
    // duplicates don't inflate the estimate
    val dup = (0 until 5000).map(i => (i % 50).toLong).toDF("v")
    val estDup = Pipeline.kmvDistinct(dup, col("v"), 64).collect()(0).getAs[Long]("est_distinct")
    assert(estDup == 50L) // 50 distinct < k → exact
  }

  test("packSequences: two-phase prefix sum equals the sequential tape layout") {
    // 200 docs with varied token counts; buckets=4 forces the multi-bucket path
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 to i % 7).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Pipeline.packSequences(docs, "doc_id", "text", seqTokens = 16, buckets = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // naive sequential reference: sort by (hex60(id), id), walk the tape
    val hashed = docs
      .select(col("doc_id"), Pipeline.hex60(col("doc_id")).as("h"),
        graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    var cum = 0L
    hashed.foreach { case (id, _, n) =>
      val (nTok, start, first, last, nSeqs) = out(id)
      assert(nTok == n && start == cum, s"doc $id: start $start != $cum")
      assert(first == start / 16 && last == (start + n - 1) / 16)
      assert(nSeqs == last - first + 1)
      cum += n
    }
    assert(out.size == 200) // every non-empty doc present (i%7+1 >= 1 tokens)
  }

  test("tokenBudgetSample: per-group hash-order prefix fitting the budget; two-phase == sequential") {
    // 3 sources × 60 docs with varied lengths; buckets=4 forces multi-bucket
    val docs = (0 until 180).map { i =>
      (i.toLong, s"s${i % 3}", (0 to i % 9).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val out = Pipeline.tokenBudgetSample(docs, budgetTokens = 50L, buckets = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // naive sequential reference per source
    val hashed = docs
      .select(col("source"), col("doc_id"), Pipeline.hex60(col("doc_id")).as("h"),
        graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = hashed.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(t => (t._3, t._2)).toSeq.flatMap { case (_, id, _, n) =>
        cum += n
        if (cum <= 50L) Some((src, id) -> (n, cum)) else None
      }
    }.toMap
    assert(out == expected, s"two-phase result != sequential reference " +
      s"(${out.size} vs ${expected.size} kept)")
    // the kept set is a PREFIX: every kept doc's cum ≤ budget and no skipped
    // doc precedes a kept one in hash order
    assert(out.values.forall(_._2 <= 50L))
    assert(out.nonEmpty && out.size < 180, "budget must bite but keep some")
  }

  test("packSequences: empty docs occupy no tape; docs longer than seqTokens span") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")), // 40 tokens > 16 → spans >= 2 seqs
      (2L, ""), (3L, "   "),
      (4L, "one two")).toDF("doc_id", "text")
    val out = Pipeline.packSequences(docs, "doc_id", "text", seqTokens = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(!out.contains(2L) && !out.contains(3L))
    assert(out(1L) >= 3) // 40 tokens cross at least 2 cuts wherever they start
    assert(out(4L) >= 1)
    // total tape length = total tokens: last doc's start+n == 42
    val rows = Pipeline.packSequences(docs, "doc_id", "text", seqTokens = 16)
      .agg(max(col("start_tok") + col("n_tok"))).collect()(0).getLong(0)
    assert(rows == 42L)
  }

  test("dsirSelect: target-like docs outrank disjoint ones; targets excluded; " +
    "gram count = unigrams + bigrams") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana apple banana cherry"), // TARGET (id % 2 == 0 filter below picks 0,2,4)
      (2L, "banana cherry apple"),              // TARGET
      (4L, "apple cherry"),                     // TARGET
      (1L, "apple banana cherry apple"),        // raw, target-like
      (3L, "zebra yak xylophone quokka"),       // raw, disjoint
      (5L, "banana apple"))                     // raw, target-like
      .toDF("doc_id", "text")
    val out = Pipeline.dsirSelect(docs, col("doc_id") % 2 === 0, selectK = 3,
        buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // only raw docs can be selected
    assert(out.map(_._1).toSet.subsetOf(Set(1L, 3L, 5L)))
    val byId = out.map(o => o._1 -> o).toMap
    // n_grams: doc 1 has 4 tokens -> 4 + 3 = 7; doc 3 -> 7; doc 5 -> 3
    assert(byId(1L)._2 == 7L && byId(3L)._2 == 7L && byId(5L)._2 == 3L)
    // target-overlapping docs must outscore the disjoint doc
    assert(byId(1L)._3 > byId(3L)._3 && byId(5L)._3 > byId(3L)._3)
    // ranks are dense 1..3 following (score desc, id)
    assert(out.sortBy(_._4).map(_._4).toSeq == Seq(1L, 2L, 3L))
  }

  test("mixtureWeightsTemperature: alpha=1 is the natural mixture; alpha<1 " +
    "boosts rare groups; temp shares normalize") {
    import spark.implicits._
    val df = ((1 to 90).map(i => (i.toLong, "en")) ++
      (1 to 9).map(i => (100L + i, "fr")) ++ Seq((200L, "is")))
      .toDF("doc_id", "lang")
    val nat = Pipeline.mixtureWeightsTemperature(df, "lang", alpha = 1.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // alpha=1: temp_share == share, weight == 1 (up to micro quantization)
    nat.values.foreach { case (share, ts, w) =>
      assert(math.abs(ts - share) <= 2e-6 && math.abs(w - 1.0) <= 2e-5)
    }
    val t5 = Pipeline.mixtureWeightsTemperature(df, "lang", alpha = 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // sqrt smoothing: rare groups upweighted, dominant group downweighted,
    // but rarest stays BELOW hard-uniform's 1/3 target
    assert(t5("is")._3 > 1.0 && t5("fr")._3 > 1.0 && t5("en")._3 < 1.0)
    assert(t5("is")._2 < 1.0 / 3)
    // temp shares normalize to 1
    assert(math.abs(t5.values.map(_._2).sum - 1.0) < 1e-5)
    // more smoothing for the rarer group: is (1%) gains more than fr (9%)
    assert(t5("is")._3 > t5("fr")._3)
  }

  test("cmsSketch: one-sided overestimate, linear merge across splits, " +
    "bounded size") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = (0 until 3000).map(_ => s"t${rnd.nextInt(80)}") :+ "unique_zebra"
    val df = vals.toDF("v")
    val sk = Pipeline.cmsSketch(df, col("v"), depth = 4, width = 64)
    assert(sk.count() <= 4 * 64)
    val probes = vals.distinct.toDF("v")
    val est = Pipeline.cmsEstimate(sk, probes, col("v"), depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // CMS never underestimates
    truth.foreach { case (v, t) => assert(est(v) >= t, s"$v: est ${est(v)} < $t") }
    // 80 keys over 4×64 cells: most estimates exact, all within the 2N/w bound
    assert(truth.count { case (v, t) => est(v) == t } >= truth.size / 2)
    truth.foreach { case (v, t) =>
      assert(est(v) - t <= 2L * vals.size / 64, s"$v blew the CMS error bound") }
    // linearity: sketch(A) + sketch(B) == sketch(A ⊎ B) cell-for-cell
    val (a, b) = vals.splitAt(1000)
    val merged = Pipeline.cmsSketch(a.toDF("v"), col("v"), 4, 64)
      .unionAll(Pipeline.cmsSketch(b.toDF("v"), col("v"), 4, 64))
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = sk.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("qualityClassifierTrain: learns the separating vocabulary, exact " +
    "integer weights make reruns bit-identical, token-less docs score bias-only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "good clean prose text", true),
      (1L, "good helpful clean text", true),
      (2L, "clean prose helpful good", true),
      (3L, "spam junk garbage noise", false),
      (4L, "junk spam noise garbage", false),
      (5L, "garbage noise spam junk", false),
      (6L, "good clean helpful prose", true), // held-in positive
      (7L, "   ", false))                     // token-less → bias-only logit
      .toDF("doc_id", "text", "is_good")
      // null label = not-a-positive (the oracle's CASE ... ELSE 0 semantics)
      .union(Seq((8L, "spam garbage junk noise", null.asInstanceOf[java.lang.Boolean]))
        .toDF("doc_id", "text", "is_good"))
    val out = Pipeline.qualityClassifierTrain(docs, col("is_good"), iters = 8,
        lr = 0.5, buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    // positives all outscore negatives after 8 rounds (incl. the null-label
    // doc, trained as a negative)
    val posMin = Seq(0L, 1L, 2L, 6L).map(out(_)._2).min
    val negMax = Seq(3L, 4L, 5L, 8L).map(out(_)._2).max
    assert(out(8L)._1 == 0L) // null label trained as y=0
    assert(posMin > negMax, s"no separation: posMin=$posMin negMax=$negMax")
    assert(Seq(0L, 1L, 2L, 6L).forall(out(_)._3 == 1L))
    assert(Seq(3L, 4L, 5L).forall(out(_)._3 == 0L))
    // token-less doc: logit = bias only → prob strictly between the classes
    assert(out(7L)._2 < posMin && out(7L)._2 > negMax)
    // exact integer-micro weights: a rerun is bit-identical, not just close
    val again = Pipeline.qualityClassifierTrain(docs, col("is_good"), iters = 8,
        lr = 0.5, buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(again == out)
  }

  test("a malformed reliable-checkpoint flag fails loudly, naming the key and value") {
    import graft.util.Checkpoints._
    spark.conf.set(ReliableKey, "yes")
    try {
      val e = intercept[IllegalArgumentException](spark.range(3).toDF().cutLineage())
      assert(e.getMessage.contains(ReliableKey) && e.getMessage.contains("yes"), e.getMessage)
    } finally spark.conf.unset(ReliableKey)
  }

  test("reliable-checkpoint mode: identical classifier/dedup results, files in the dir") {
    // r13 scale-safety flag (guide §5): spark.graft.checkpoint.reliable routes
    // every operator cutLineage site from executor-local blocks to reliable
    // checkpoint files. Values must be identical either way.
    val docs = (0L until 200L).map(i =>
      (i, s"w${i % 7} w${i % 13} w${i % 3} text shared token w${i % 5}",
        if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    def classify() = graft.pipeline.Pipeline
      .qualityClassifierTrain(docs, col("lang") === "en", iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    def neardup() = graft.dedup.Dedup
      .minhashNearDupPairs(docs, threshold = 0.3, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    val (localC, localN) = (classify(), neardup())
    // with the dir conf set, no fallback temp dir may be created beside it
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def fallbackDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("graft_reliable_ckpt_")).toSet
      finally ls.close()
    }
    val fallbackBefore = fallbackDirs()
    val dir = ShmDirs.tempDir("graft_test_rckpt_")
    spark.conf.set(graft.util.Checkpoints.ReliableKey, "true")
    spark.conf.set(graft.util.Checkpoints.DirKey, dir.toString)
    try {
      assert(classify() == localC, "classifier diverges under reliable checkpoints")
      assert(neardup() == localN, "near-dup pairs diverge under reliable checkpoints")
      // the mode actually engaged: checkpoint files landed in the directory
      val files = java.nio.file.Files.walk(dir).count()
      assert(files > 1, s"no reliable checkpoint files written under $dir")
      val stray = fallbackDirs() -- fallbackBefore
      assert(stray.isEmpty, s"fallback checkpoint dirs created in $tmp: $stray")
    } finally {
      spark.conf.unset(graft.util.Checkpoints.ReliableKey)
      spark.conf.unset(graft.util.Checkpoints.DirKey)
      scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile))
    }
  }
}
