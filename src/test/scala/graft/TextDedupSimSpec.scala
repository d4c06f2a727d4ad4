package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.TextFunctions
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.util.ShmDirs

class TextDedupSimSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("tokenCount: whitespace runs, trim, empty") {
    val df = docs((1L, "a b  c"), (2L, "  x "), (3L, ""), (4L, "   "))
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
    assert(df.orderBy("doc_id").collect().map(_.getInt(1)).toSeq == Seq(3, 1, 0, 0))
  }

  test("tokens split on RE2 whitespace only: a vertical tab stays inside a word") {
    val df = spark.sql("SELECT 'a' || chr(11) || 'b c' AS text")
      .select(TextFunctions.tokens(col("text")).as("t"))
    assert(df.collect()(0).getSeq[String](0) == Seq("a\u000bb", "c"))
  }

  test("tokens lowercase one code point at a time: a final sigma stays σ, İ is one i") {
    // Spark's lower maps the final Σ of a word to ς and İ to i + U+0307;
    // DuckDB's lower (the oracles' tokenization) gives σ and one i
    val df = docs((0L, "ΟΔΟΣ ΣΑ"), (1L, "\u0130"))
      .select(TextFunctions.tokens(col("text")).as("t"))
    assert(df.collect().map(_.getSeq[String](0)).toSeq == Seq(Seq("οδοσ", "σα"), Seq("i")))
  }

  test("every text operator normalizes an adversarial table as the DuckDB oracles do") {
    // texts and expected values: the output of scripts/text_norm_oracle.py,
    // which evaluates each operator's oracle expression on DuckDB 1.0.0
    val texts = Seq("a\u000bb c", "Ab\u000cc D", "\u0009The Cat and THE dog", "the end of it\u000a",
      "\u039f\u0394\u039f\u03a3 \u03a3\u0391", "\u0130T \u0130S THE END")
    val df = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val r = df.orderBy("doc_id").select(
      TextFunctions.fingerprint(col("text")),
      TextFunctions.tokenCount(col("text")),
      round(TextFunctions.punctRatio(col("text")), 6),
      Dedup.shingles(col("text"), 3),
      Dedup.simhashMd5(col("text")),
      TextFunctions.stopwordHits(col("text"), TextFunctions.EnglishStopwords),
      TextFunctions.langId(col("text")),
      TextFunctions.gopherFlags(col("text"))(1), // mean_tok_len
      TextFunctions.bpePieces(col("text"))).collect()
    def column[T](i: Int): Seq[T] = r.toSeq.map(_.getAs[T](i))
    assert(column[String](0) == Seq("b6057d14b34a0fff5953d4b197437fe4",
      "c5a61045707929ec0ee96901923d90a5", "4e602800ee52d143ce988e874163c68a",
      "6d97f431e0a474cb70da976ff7bffaa0", "86702f381bfb879ae770661e789265bb",
      "096738403c0dc520570f0064ad23f431"))
    assert(column[Int](1) == Seq(2, 3, 6, 5, 2, 4))
    assert(column[Double](2) == Seq(0.2, 0.0, 0.0, 0.0, 0.857143, 0.153846))
    assert(column[scala.collection.Seq[String]](3).map(_.distinct.sorted) == Seq(
      Seq("a\u000bb c"), Seq("ab c d"),
      Seq(" the cat", "and the dog", "cat and the", "the cat and"),
      Seq("end of it", "of it ", "the end of"),
      Seq("\u03bf\u03b4\u03bf\u03c3 \u03c3\u03b1"), Seq("is the end", "it is the")))
    assert(column[Long](4) == Seq(297378862789177907L, 47268060994959641L,
      604960945674950248L, 644376235270182433L, 1153147331428872L, 67626013568894056L))
    assert(column[Int](5) == Seq(0, 0, 2, 2, 0, 3))
    assert(column[String](6) == Seq("und", "und", "en", "en", "und", "en"))
    assert(column[Double](7) == Seq(2.0, 1.333333, 2.5, 2.0, 3.0, 2.5))
    assert(column[scala.collection.Seq[String]](8) == Seq(Seq("a", "\u000b", "b", " c"),
      Seq("Ab", "c", " D"), Seq("The", " Cat", " and", " THE", " dog"),
      Seq("the", " end", " of", " it"), Seq("\u039f\u0394\u039f\u03a3", " \u03a3\u0391"),
      Seq("\u0130", "T", " \u0130", "S", " THE", " END")))
    val chunks = graft.pipeline.Pipeline.chunkTokens(df, "doc_id", "text", 32)
      .orderBy("doc_id").select("chunk_hash").collect().map(_.getString(0)).toSeq
    assert(chunks == Seq("b6057d14b34a0fff", "c5a61045707929ec", "4e602800ee52d143",
      "6d97f431e0a474cb", "86702f381bfb879a", "096738403c0dc520"))
  }

  test("character-class ratios") {
    val df = docs((1L, "ab12!?"))
      .select(
        TextFunctions.alphaRatio(col("text")).as("a"),
        TextFunctions.digitRatio(col("text")).as("d"),
        TextFunctions.punctRatio(col("text")).as("p"))
    val r = df.collect()(0)
    assert(r.getDouble(0) == 2.0 / 6 && r.getDouble(1) == 2.0 / 6 && r.getDouble(2) == 2.0 / 6)
  }

  test("langId: stopword argmax with tie-break and und") {
    val df = docs(
      (1L, "the cat and the dog is here"), // en
      (2L, "le chat et la maison est grande"), // fr
      (3L, "der hund und die katze ist da"), // de
      (4L, "xyzzy qwerty")) // und
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang"))
    assert(df.orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
      Seq("en", "fr", "de", "und"))
  }

  test("fingerprint normalizes whitespace and case") {
    val df = docs((1L, "Hello  World"), (2L, "hello world"), (3L, " HELLO\tWORLD "))
      .select(TextFunctions.fingerprint(col("text")).as("fp"))
    assert(df.distinct().count() == 1)
  }

  test("exact dedup keeps smallest doc_id per fingerprint") {
    val df = Dedup.exact(docs((5L, "dup text"), (2L, "dup  TEXT"), (9L, "unique")))
    assert(df.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 9L))
  }

  test("bpePieces: space-prefixed letter/digit/punct runs; whitespace dropped") {
    val df = docs((1L, "Hello world, 42 times!"), (2L, ""), (3L, "  a\n\nb "))
      .select(col("doc_id"), TextFunctions.bpePieces(col("text")).as("p"))
      .orderBy("doc_id").collect()
    assert(df(0).getSeq[String](1) ==
      Seq("Hello", " world", ",", " 42", " times", "!"))
    assert(df(1).getSeq[String](1).isEmpty)
    // newline runs are not pieces; the single leading space attaches
    assert(df(2).getSeq[String](1) == Seq(" a", "b"))
  }

  test("int8 quantization: codes, saturation, zero vector, reconstruction") {
    import graft.sim.Quantize
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)), // scale = 2/127
      (2L, Seq(0.0f, 0.0f)) // zero vector
    ).toDF("id", "v")
    val r = df.select(col("id"),
        Quantize.int8Codes(col("v")).as("q"),
        Quantize.int8Scale(col("v")).as("s"),
        Quantize.int8Mse(col("v")).as("mse"))
      .orderBy("id").collect()
    // q = floor(x * 127 / 2 + 0.5): 1.0→64, -2.0→-127, 0.5→32
    assert(r(0).getSeq[Int](1) == Seq(64, -127, 32))
    assert(math.abs(r(0).getDouble(2) - 2.0 / 127) < 1e-12)
    assert(r(0).getDouble(3) > 0 && r(0).getDouble(3) < 1e-4) // small error
    assert(r(1).getSeq[Int](1) == Seq(0, 0) && r(1).getDouble(3) == 0.0)
    // max-magnitude component always saturates exactly to ±127
    assert(r(0).getSeq[Int](1).map(math.abs).max == 127)
  }

  test("int8 quantization property: reconstruction within scale/2, codes in range") {
    import graft.sim.Quantize
    // 50 deterministic pseudo-random vectors of varying magnitude
    val vecs = (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(d =>
        (((i * 31 + d * 17) % 101) - 50) * math.pow(10.0, i % 5 - 2).toFloat).toSeq)
    }.toDF("id", "v")
    val rows = vecs.select(col("id"), col("v"),
        Quantize.int8Codes(col("v")).as("q"), Quantize.int8Scale(col("v")).as("s"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1); val q = r.getSeq[Int](2); val s = r.getDouble(3)
      assert(q.forall(c => c >= -127 && c <= 127))
      v.zip(q).foreach { case (x, c) =>
        // non-saturated codes reconstruct within half a quantization step
        if (math.abs(c) < 127)
          assert(math.abs(x - c * s) <= s / 2 + 1e-12, s"id ${r.getLong(0)}: $x vs $c*$s")
      }
    }
  }

  test("incrementalExactDedup: unseen + first-wins survive; corpus dupes drop") {
    val corpus = docs((1L, "alpha beta"), (2L, "gamma delta"))
    val batch = docs(
      (10L, "ALPHA   beta"), // corpus dup (normalized) → dropped
      (11L, "epsilon zeta"), // new → survives
      (12L, "epsilon  zeta"), // batch-internal dup of 11 → dropped
      (13L, "eta theta")) // new → survives
    val out = Dedup.incrementalExactDedup(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(11L, 13L))
    // precomputed fingerprint set short-circuits the corpus scan
    val fps = corpus.select(TextFunctions.fingerprint(col("text")).as("f"))
    val out2 = Dedup.incrementalExactDedup(batch, corpus.limit(0),
        corpusFingerprints = Some(fps))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == out)
  }

  test("incrementalExactDedupBloom: equals the exact operator; no false negatives") {
    // larger deterministic corpus so the bloom actually splits the batch
    val corpus = docs((0L until 400).map(i => (i, s"corpus doc $i body token${i * 7}")): _*)
    val batch = docs((1000L until 1200).map { i =>
      if (i % 4 == 0) (i, s"corpus doc ${i % 400} body token${(i % 400) * 7}") // dup
      else (i, s"fresh batch doc $i payload")
    }: _*)
    val exact = Dedup.incrementalExactDedup(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    for (fpp <- Seq(0.5, 0.01)) { // even an awful fpp must not change the answer
      val got = Dedup.incrementalExactDedupBloom(batch, corpus, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == exact, s"fpp=$fpp")
    }
    // pin the put/probe hash recipe: EVERY corpus fingerprint hash must probe
    // true (a Spark-version drift in stat.bloomFilter's putLong would surface
    // here as a false negative, which the operator's exactness relies on)
    val fps = corpus.select(xxhash64(
      TextFunctions.fingerprint(col("text"))).as("__h")).distinct()
    val bloom = fps.stat.bloomFilter("__h", 400, 0.01)
    val misses = fps.collect().map(_.getLong(0)).count(h => !bloom.mightContainLong(h))
    assert(misses == 0)
  }

  test("shingles: k-word windows and short-doc fallback") {
    val df = docs((1L, "a b c d"), (2L, "a b"))
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows(0).getSeq[String](1) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](1) == Seq("a b"))
  }

  test("jaccard exact") {
    val df = docs((1L, "x"))
      .select(Dedup.jaccard(
        array(lit("a"), lit("b"), lit("c")),
        array(lit("b"), lit("c"), lit("d"))).as("j"))
    assert(df.collect()(0).getDouble(0) == 0.5)
  }

  test("minhash LSH finds near-dup pair, skips distinct docs") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "completely different content about spark catalyst optimizer internals"))
    val pairs = Dedup.minhashNearDupPairs(d, threshold = 0.5, numHashes = 32, bands = 16)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) > 0.5)
  }

  test("simhash: identical docs distance 0; near docs close; distinct docs far") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"))
    val sigs = d.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(0)) == 0)
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) <
      java.lang.Long.bitCount(sigs(0) ^ sigs(2)))
  }

  test("simhashNearDupPairsExact: banded pairs equal brute force (pigeonhole recall 1.0)") {
    // 40 docs: 10 planted near-dup pairs (one token changed) + 20 distinct docs
    val rows = (0 until 10).flatMap { i =>
      val base = s"alpha$i beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      Seq((i * 2L, base), (i * 2L + 1, base.replace("kappa", "kappa2")))
    } ++ (20 until 40).map(i =>
      (i * 2L, s"totally different content number $i with words ${i * 7} ${i * 13} ${i * 29}"))
    val d = docs(rows: _*)
    for (maxH <- Seq(3, 5)) {
      val banded = Dedup.simhashNearDupPairsExact(d, maxHamming = maxH)
        .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val sigs = d.select(col("doc_id"), Dedup.simhashMd5(col("text")).as("sig"))
      val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Dedup.hammingDistance(col("sig_a"), col("sig_b")) <= maxH)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(banded.toSeq == brute.toSeq, s"maxHamming=$maxH banded != brute")
    }
  }

  test("editSimNearDupPairs: verify stage keeps edit-close, drops bag-equal edit-far") {
    // shared-prefix docs keep the simhash candidates close; the tails control
    // the edit distance. (2,3) is the case the verify stage EXISTS for: same
    // token multiset => identical simhash (hamming 0, always a candidate) but
    // reversed word order => edit-far, must be dropped.
    val common = (1 to 20).map(i => s"common$i").mkString(" ")
    val d = docs(
      0L -> s"$common kappa",
      1L -> s"$common kappa2",
      2L -> "one two three four five six seven eight nine ten",
      3L -> "ten nine eight seven six five four three two one")
    // a one-token change still flips several majority-vote bits, so candidacy
    // is guaranteed by measuring the actual (0,1) hamming instead of guessing;
    // (2,3) has hamming 0 (same bag) and is a candidate at any setting
    val sigs = d.select(col("doc_id"), Dedup.simhashMd5(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hd01 = java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    val out = Dedup.editSimNearDupPairs(d, maxHamming = math.max(hd01, 1),
        simNum = 80, simDen = 100)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val maxLen = (common + " kappa2").length.toLong
    assert(out.toSeq == Seq((0L, 1L, 1L, maxLen))) // one inserted char
  }

  test("editSimNearDupPairs: integer threshold boundary is exact >=") {
    // 1-bit pigeonhole blocks (maxHamming=59) make any non-complement sig pair
    // a candidate, so the verify math is tested in isolation on tiny strings:
    // lev*100 <= 20*max_len with max_len=10 admits lev=2 EXACTLY, rejects 3.
    val d = docs(10L -> "aaaaaaaaaa", 11L -> "bbaaaaaaaa", 12L -> "bbbaaaaaaa")
    // candidate-stage honesty: all three pairs must be within hamming 59
    val sigs = d.select(col("doc_id"), Dedup.simhashMd5(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (Seq(a, b) <- Seq(10L, 11L, 12L).combinations(2))
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 59)
    val out = Dedup.editSimNearDupPairs(d, maxHamming = 59, simNum = 80, simDen = 100)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 11L, 2L, 10L), (11L, 12L, 1L, 10L)))
  }

  test("cosine: hand-computed") {
    val df = Seq((Array(1f, 0f, 1f), Array(1f, 1f, 0f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.collect()(0).getDouble(0) - 0.5) < 1e-12)
  }

  test("bruteForceTopK: self is rank 1 with cosine 1") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("query_id", "query_vec")
    val top = Similarity.bruteForceTopK(corpus, queries, 2).orderBy("rank").collect()
    assert(top(0).getLong(1) == 1L && top(0).getDouble(2) == 1.0)
    assert(top(1).getLong(1) == 3L)
  }

  test("lshTopK recall vs brute force on clustered vectors") {
    val base = (0 until 50).map { i =>
      val cluster = i % 5
      (i.toLong, Array.tabulate(16)(j =>
        (if (j % 5 == cluster) 1.0f else 0.0f) + (i * 31 + j * 17) % 7 * 0.01f))
    }
    val corpus = base.toDF("vec_id", "embedding")
    val queries = base.take(3).map { case (id, v) => (id, v) }.toDF("query_id", "query_vec")
    val exact = Similarity.bruteForceTopK(corpus, queries, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(corpus, queries, 3, numPlanes = 6, tables = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low: exact=$exact approx=$approx")
  }

  test("contamination: corpus docs sharing k-grams with probes are flagged, others not") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps"), // probe (id % 2 == 0 in this test)
      (1L, "lazy dog sat on the quick brown fox mat"), // shares "the quick brown"+"quick brown fox"
      (3L, "entirely different words here today"), // clean
      (5L, "the quick brown")) // shares exactly one 3-gram
      .toDF("doc_id", "text")
    val out = graft.dedup.Dedup.contamination(
        docs, org.apache.spark.sql.functions.col("doc_id") % 2 === 0, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 5L -> 1L)) // doc 3 absent: zero shared grams
  }

  test("contamination auto-broadcast: small probes broadcast, over-bound probes shuffle, same answer") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = ((0 until 40).map(i => (i * 2L, s"probe set doc $i with words w$i x$i y$i z$i q$i")) ++
      (0 until 40).map(i => (i * 2L + 1L, s"corpus doc $i with words w$i x$i y$i z$i extra"))).toDF("doc_id", "text")
    val probe = org.apache.spark.sql.functions.col("doc_id") % 2 === 0
    // assert on the INJECTED hint in the analyzed plan (AQE may independently
    // re-broadcast a genuinely tiny side at runtime — that is its call, not
    // the guard's; the guard must only stop the driver-FORCED broadcast)
    def planOf(bound: Long): (String, Map[Long, Long]) = {
      val df = graft.dedup.Dedup.contamination(docs, probe, k = 3,
        broadcastProbes = None, autoBroadcastMaxGrams = bound)
      (df.queryExecution.analyzed.toString,
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    // small probe set under the bound → KMV estimate selects BROADCAST
    val (bPlan, bOut) = planOf(bound = 4000000L)
    assert(bPlan.toLowerCase.contains("broadcast"),
      s"auto must broadcast small probes:\n$bPlan")
    // same probe set with the bound forced below the estimate → no forced
    // broadcast, identical answer (the mega-probe-set path, no OOM risk)
    val (sPlan, sOut) = planOf(bound = 10L)
    assert(!sPlan.toLowerCase.contains("broadcast"),
      s"over-bound probe set must not be force-broadcast:\n$sPlan")
    assert(sOut == bOut && bOut.nonEmpty, "join strategy must not change the answer")
  }

  test("repetition stats: exact counts and deterministic ratio") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq((0L, "a b a b a"), (1L, "x y z")).toDF("doc_id", "text")
    val rows = graft.text.TextFunctions.repetitionStats(docs)
      .orderBy("doc_id").collect()
    assert(rows(0).getLong(1) == 5L && rows(0).getLong(2) == 2L &&
      rows(0).getDouble(3) == 0.6)
    assert(rows(1).getLong(1) == 3L && rows(1).getLong(2) == 3L &&
      rows(1).getDouble(3) == 0.0)
  }

  test("unigramLogProb: hand-computed smoothed scores; external LM handles unseen tokens") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // corpus: counts a:2 b:2 c:1 → N=5, V=3; p(a)=p(b)=3/8, p(c)=2/8
    val docs = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    val got = graft.text.TextFunctions.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0L)._1 == 3L && got(1L)._1 == 2L)
    assert(math.abs(got(0L)._2 - math.log10(3.0 / 8)) < 1e-6)
    assert(math.abs(got(1L)._2 - (math.log10(3.0 / 8) + math.log10(2.0 / 8)) / 2) < 1e-6)
    // external reference LM: token "z" is unseen → smoothed floor prob 1/(N+V)
    val scored = graft.text.TextFunctions.unigramLogProb(
      Seq((9L, "a z")).toDF("doc_id", "text"), lmCorpus = Some(docs)).collect()
    assert(scored.length == 1)
    val want = (math.log10(3.0 / 8) + math.log10(1.0 / 8)) / 2
    assert(math.abs(scored(0).getDouble(2) - want) < 1e-6)
  }

  test("bm25TopK: hand-computed Okapi scores, rare term outranks common term") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // 4 docs of length 4 (avgdl=4, length normalization factor = 1):
    // "x" appears in docs 0,1,2 (df=3), "q" only in doc 3 (df=1, twice)
    val docs = Seq(
      (0L, "x a b c"), (1L, "x x a b"), (2L, "x a a a"), (3L, "q q a b"))
      .toDF("doc_id", "text")
    val rows = graft.text.TextFunctions.bm25TopK(docs, Seq("x", "q"), k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def idf(df: Int) = math.log((4.0 - df + 0.5) / (df + 0.5) + 1.0)
    def w(tf: Int, df: Int) = idf(df) * tf * 2.2 / (tf + 1.2) // dl/avgdl = 1
    assert(math.abs(rows(0L) - round4(w(1, 3))) < 1e-9)
    assert(math.abs(rows(1L) - round4(w(2, 3))) < 1e-9)
    assert(math.abs(rows(3L) - round4(w(2, 1))) < 1e-9)
    // the rare term dominates: doc 3 (q×2, df 1) above doc 1 (x×2, df 3)
    assert(rows(3L) > rows(1L))
    // k bounds the output
    assert(graft.text.TextFunctions.bm25TopK(docs, Seq("x"), k = 2).count() == 2)
  }

  private def round4(d: Double): Double = math.round(d * 10000.0) / 10000.0

  test("keepBestPerCluster: per-cluster argmax with deterministic tie-break") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // clusters: {1,2,3} (component 1) and {7,8} (component 7)
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "component")
    // doc 2 best in cluster 1; docs 7 and 8 TIE → smaller id 7 wins
    val scored = Seq((1L, 0.3), (2L, 0.9), (3L, 0.5), (7L, 0.4), (8L, 0.4))
      .toDF("doc_id", "quality")
    val rows = graft.dedup.Dedup.keepBestPerCluster(clusters, scored)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq((1L, 2L, 3L, 0.9), (7L, 7L, 2L, 0.4)))
  }

  test("bpePairTopK: adjacent-pair counts with deterministic tie-break, degenerate docs contribute nothing") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b c"),   // pairs: "a b"×2? no — a b, b a, a b, b c
      (1L, "a b"),         // a b
      (2L, "x"),           // single token → no pairs
      (3L, ""),            // empty → filtered
      (4L, "  A  b  ")     // lowercased + trimmed → a b
      ).toDF("doc_id", "text")
    val rows = graft.text.TextFunctions.bpePairTopK(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a b", 4L), ("b a", 1L), ("b c", 1L)),
      s"got ${rows.toSeq}")
    // k bounds the output, ordering cnt desc then pair asc
    assert(graft.text.TextFunctions.bpePairTopK(docs, k = 1)
      .collect().map(_.getString(0)).toSeq == Seq("a b"))
  }

  test("hybridRrfTopK: rank fusion rewards presence in both lists, absent = 0 contribution") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // lexical signal: doc 0 strongest for "x" (doc length normalization);
    // dense signal: vec 1 is the query itself, vec 2 close to it, vec 0 orthogonal
    val docs = Seq(
      (0L, "x x x a"), (1L, "x a b c"), (2L, "a b c d"), (3L, "x x a b"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(0f, 1f, 0f)), (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f)), (3L, Seq(0.5f, 0.5f, 0f)))
      .toDF("vec_id", "embedding")
    val rows = graft.text.TextFunctions.hybridRrfTopK(
      docs, emb, Seq("x"), queryVecId = 1L, k = 4, kEach = 3)
      .collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getDouble(1), Option(r.get(2)), Option(r.get(3)))).toMap
    // lex list (k=3): 0, 3, 1 (tf-normalized, doc_id tiebreak); dense: 1, 2, 3
    assert(byId(0L)._2.contains(1L) && byId(0L)._3.isEmpty)
    assert(byId(1L)._2.contains(3L) && byId(1L)._3.contains(1L))
    assert(byId(2L)._2.isEmpty && byId(2L)._3.contains(2L))
    // fused scores are exactly 1/(60+lex) + 1/(60+dense) with absent = 0
    def rrf(lex: Option[Long], dense: Option[Long]) = math.round((
      lex.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
      dense.map(r => 1.0 / (60 + r)).getOrElse(0.0)) * 1e6) / 1e6
    byId.foreach { case (_, (score, l, d)) =>
      assert(math.abs(score - rrf(l.map(_.asInstanceOf[Long]), d.map(_.asInstanceOf[Long]))) < 1e-9)
    }
    // doc 1 (in BOTH lists) outranks doc 0 (top of one list only)
    assert(byId(1L)._1 > byId(0L)._1)
    // the fused ordering is rrf desc
    assert(rows.map(_.getDouble(1)).toSeq == rows.map(_.getDouble(1)).sortBy(-_).toSeq)
  }

  test("vocab top-k: frequency order with alphabetical tiebreak") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq((0L, "b a b c"), (1L, "a b c a")).toDF("doc_id", "text")
    val rows = graft.text.TextFunctions.vocabTopK(docs, 2).collect()
    // a and b both ×3 → alphabetical tiebreak puts a first
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L), ("b", 3L)))
  }

  test("multimodal: feature extraction preserves partitions and is deterministic") {
    import graft.multimodal._
    val media = Multimodal.documentsAsMedia(
      Seq((0L, "hello world", "en", "web", 11L), (1L, "audio-ish payload", "en", "web", 17L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val ds = media.as[MediaRecord](org.apache.spark.sql.Encoders.product[MediaRecord])
    val feats = Multimodal.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats(0).modality == "image" && feats(1).modality == "audio")
    assert(feats(0).n_bytes == 11L)
    val again = Multimodal.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
    // batch shape: sub-batch-size batches behave identically to default
    val small = Multimodal.extractFeatures(ds, batchSize = 1).collect().sortBy(_.media_id)
    assert(small.map(_.checksum).toSeq == feats.map(_.checksum).toSeq)
  }

  test("multimodal: REAL PNG and WAV payloads decode end-to-end through extractFeatures") {
    import graft.multimodal._
    // --- PNG fixture: 4×2, left half pure red, right half pure blue ---
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xFF0000 else 0x0000FF)
    val pngBuf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngBuf)
    val png = pngBuf.toByteArray
    // --- WAV fixture: 16-bit PCM mono 8 kHz, 400 samples of a full-scale square
    // wave (period 8) → rms 1.0, peak 1.0, zero-crossing rate 1/4 ---
    val nSamp = 400
    val pcm = new Array[Byte](nSamp * 2)
    for (i <- 0 until nSamp) {
      val v = if ((i / 4) % 2 == 0) 32767 else -32767
      pcm(2 * i) = (v & 0xFF).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamp.toLong)
    val wavBuf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavBuf)
    val wav = wavBuf.toByteArray

    val media = Seq(
      MediaRecord(0L, "image", png, "image/png", 4, 2, 0L, 0),
      MediaRecord(1L, "audio", wav, "audio/wav", 0, 0, 50L, 8000),
      MediaRecord(2L, "image", "not an image".getBytes, "image/png", 4, 2, 0L, 0))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
      .map(f => f.media_id -> f.feature).toMap
    // image: decoded flag, true dims, mean color = half red half blue
    val fi = feats(0L)
    assert(fi(0) == 1f, "PNG must really decode")
    assert(fi(1) == 4f && fi(2) == 2f)
    assert(math.abs(fi(3) - 0.5f) < 1e-3 && math.abs(fi(4)) < 1e-3 &&
      math.abs(fi(5) - 0.5f) < 1e-3, fi.toSeq.toString)
    // audio: decoded flag, format metadata, square-wave stats
    val fa = feats(1L)
    assert(fa(0) == 1f, "WAV must really decode")
    assert(fa(1) == 1f && fa(2) == 8000f && fa(3) == nSamp.toFloat)
    assert(math.abs(fa(5) - 1.0f) < 1e-3 && math.abs(fa(6) - 1.0f) < 1e-3)
    assert(math.abs(fa(7) - 0.25f) < 0.01, s"zero-crossing rate ${fa(7)}")
    // corrupt payload: falls back deterministically, never throws
    assert(feats(2L)(0) == 0f)

    // REAL resize: 4×2 → 2×2 red/blue PNG stays a decodable PNG with true dims
    val resized = Multimodal.resizeImages(media.filter(_.media_id == 0L), 2, 2)
      .collect().head
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized.payload))
    assert(back != null && back.getWidth == 2 && back.getHeight == 2)
    assert(resized.width == 2 && resized.height == 2)
  }

  test("multimodal: REAL MJPEG-AVI video decodes frames end-to-end through extractFeatures") {
    import graft.multimodal._
    // 8 JPEG frames, 8×8, brightness ramp: frame i is uniform gray level i*32
    def jpegFrame(level: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val v = math.min(level, 255)
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    val frames = (0 until 8).map(i => jpegFrame(i * 32))
    val avi = AviMjpeg.writeMjpegAvi(frames, 8, 8, fps = 4)

    // container parse: dims, frame period, all 8 chunks found
    val parsed = AviMjpeg.parse(avi).get
    assert(parsed.width == 8 && parsed.height == 8)
    assert(parsed.microSecPerFrame == 250000L)
    assert(parsed.frameChunks.length == 8)

    val media = Seq(
      MediaRecord(0L, "video", avi, "video/x-msvideo", 8, 8, 2000L, 0),
      MediaRecord(1L, "video", "not a video".getBytes, "video/mp4", 0, 0, 100L, 0))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
      .map(f => f.media_id -> f.feature).toMap

    // real path: 4 sampled frames × 8 image floats, decoded flag set per frame
    val fv = feats(0L)
    assert(fv.length == 32)
    assert((0 until 4).forall(k => fv(8 * k) == 1f), "every sampled frame must really decode")
    assert((0 until 4).forall(k => fv(8 * k + 1) == 8f && fv(8 * k + 2) == 8f))
    // center-of-interval schedule over 8 frames with n=4 → indexes 1,3,5,7;
    // the brightness ramp must come through strictly increasing (JPEG is lossy,
    // so compare lumas, not exact levels)
    val lumas = (0 until 4).map(k => fv(8 * k + 6))
    assert(lumas == lumas.sorted && lumas.distinct.length == 4, lumas.toString)
    assert(math.abs(lumas(0) - 32f / 255f) < 0.05 && math.abs(lumas(3) - 224f / 255f) < 0.05)

    // MP4/garbage payload: deterministic fallback (feature[0] == 0), never throws
    assert(feats(1L)(0) == 0f && feats(1L).length == 32)

    // hostile container: truncated mid-chunk must not throw or read OOB
    assert(AviMjpeg.parse(avi.take(40)).isEmpty)
    assert(AviMjpeg.parse(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("duplicatedPassageRatio: shared windows counted, unique docs zero, short docs out") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"s$i").mkString(" ") // 20 tokens shared verbatim
    val docs = Seq(
      (1L, shared + " " + (1 to 10).map(i => s"a$i").mkString(" ")), // 30 tokens
      (2L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" ")), // 30 tokens
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")), // unique 30 tokens
      (4L, "too short to have a window") // 6 tokens → excluded
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedPassageRatio(docs, windowTokens = 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 30 tokens → 15 windows; windows fully inside the shared 20-token prefix:
    // positions 1..5 (1-based) → 5 duplicated window positions in docs 1 and 2
    assert(out(1L) == ((15L, 5L)) && out(2L) == ((15L, 5L)))
    assert(out(3L) == ((15L, 0L)))
    assert(!out.contains(4L))
  }

  test("winnowingFingerprints: shared >= w+k-1 token run shares a fingerprint hash; short docs get one") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10 > w+k-1 = 8 tokens
    val d = docs(
      (1L, s"aaa bbb ccc $shared ddd eee"),
      (2L, s"xxx yyy $shared zzz"),
      (3L, "totally different words here nothing shared at all"),
      (4L, "tiny doc")) // < k tokens: single whole-text shingle -> one fp
    val fps = graft.dedup.Dedup.winnowingFingerprints(d, k = 5, w = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee holds on the returned column DIRECTLY: docs 1 and 2 share the
    // 10-token run -> >= 1 common fingerprint (fp is the hash, not hash-pos)
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "shared run must contribute a shared fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "unrelated docs share nothing")
    assert(byDoc(1L).forall(fp => fp.length == 15 && !fp.contains('-')),
      "fp column is the bare 15-hex hash")
    assert(byDoc(4L).size == 1, "sub-window doc gets exactly one fingerprint")
    // density: selections are a strict subset of the k-gram positions
    val n1Grams = 16 - 5 + 1 // doc 1 tokens = 16
    assert(byDoc(1L).size < n1Grams && byDoc(1L).nonEmpty)
  }

  test("simhashNearDupPairsExact: out-of-range maxHamming is a clear error, not a degenerate mask") {
    val d = docs((1L, "a b c"), (2L, "a b d"))
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.simhashNearDupPairsExact(d, maxHamming = -1)
    }
    intercept[IllegalArgumentException] {
      graft.dedup.Dedup.simhashNearDupPairsExact(d, maxHamming = 60)
    }
  }

  test("removeDuplicatedPassages: cross-doc span removed from later doc, intra-doc repeat, short docs untouched") {
    val passage = (1 to 13).map(i => s"p$i").mkString(" ") // exactly one window
    val d = docs(
      (1L, s"intro one two $passage outro"),                 // first occurrence keeps
      (2L, s"other start here $passage trailing words end"), // later doc: span removed
      (3L, s"$passage middle filler tokens $passage"),       // intra-doc: 2nd removed
      (4L, "short doc under window"),                        // < 13 tokens: untouched
      (5L, "totally unrelated text with thirteen completely distinct tokens here now ok fine yes"))
    val r = graft.dedup.Dedup.removeDuplicatedPassages(d, 13)
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1: first occurrence — nothing removed
    assert(r(1L) == (s"intro one two $passage outro", 17L, 0L))
    // doc 2: the 13 passage tokens removed, surroundings kept
    assert(r(2L) == ("other start here trailing words end", 6L, 13L))
    // doc 3: the GLOBAL first occurrence is doc 1's, so BOTH of doc 3's
    // copies are duplicate instances and go; the filler between them stays
    assert(r(3L) == ("middle filler tokens", 3L, 26L))
    // docs 4, 5: no duplicated window — whitespace-normalized identity
    assert(r(4L) == ("short doc under window", 4L, 0L))
    assert(r(5L)._3 == 0L)
  }

  test("removeDuplicatedPassages: a leading tab shifts the windows and the kept words alike") {
    // the windows come from Dedup.shingles and the kept words from
    // TextFunctions.words: both keep the empty first word a leading tab
    // leaves, so the second copy of the passage goes and x3 stays (the
    // expected row is scripts/text_norm_oracle.py's passage line)
    val passage = (1 to 13).map(i => s"w$i").mkString(" ")
    val r = graft.dedup.Dedup.removeDuplicatedPassages(
      docs((0L, s"\t$passage x1 x2 x3 $passage")), 13).collect()(0)
    assert((r.getString(1), r.getLong(2), r.getLong(3)) == (s" $passage x1 x2 x3", 17L, 13L))
  }

  test("exactSubstrSpans: maximal extents — longer-than-L runs merge, intra-doc " +
    "repeats both reported, short/unique docs empty") {
    val passage = (1 to 13).map(i => s"p$i").mkString(" ") // exactly one window
    val long15 = (1 to 15).map(i => s"q$i").mkString(" ")  // 15-token dup run
    val d = docs(
      (1L, s"intro one two $passage outro"),  // 13-token span at 3..15
      (2L, long15),                           // run fills the whole doc: 0..14
      (3L, s"pad $long15 tail"),              // same run shifted: 1..15
      (4L, s"$passage mid $passage"),         // intra-doc repeat: BOTH reported
      (5L, "short doc under window"),         // < 13 tokens: no windows
      (6L, "totally unrelated text with thirteen completely distinct tokens here now ok fine"))
    val got = graft.dedup.Dedup.exactSubstrSpans(d, 13)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      (1L, 3L, 15L, 13L),
      // the 15-token duplicated run's 3 window starts merge into ONE maximal
      // span (suffix-array extents, not fixed-window instances)
      (2L, 0L, 14L, 15L),
      (3L, 1L, 15L, 15L),
      // within-doc duplication counts (the paper counts ≥2 positions
      // anywhere); windows crossing the "mid" separator are unique, so the
      // two copies stay separate islands
      (4L, 0L, 12L, 13L),
      (4L, 14L, 26L, 13L)), s"got $got")
    // sub-threshold sharing (12 common tokens) reports nothing
    val sub = (1 to 12).map(i => s"r$i").mkString(" ")
    assert(graft.dedup.Dedup.exactSubstrSpans(
      docs((1L, s"$sub x"), (2L, s"$sub y")), 13).count() == 0L)
  }

  test("r11 hash-keyed window shuffles: outputs identical to the string-keyed " +
    "forms on a collision-bait corpus (substr spans, passage remove, dup ratio)") {
    import org.apache.spark.sql.DataFrame
    // collision-bait: heavy cross-doc duplication (every block shared by all
    // docs), near-identical windows differing in ONE token, intra-doc
    // repeats — the shapes where a hash-key slip (collision handling, dedup
    // semantics, join multiplicity) would surface as a diff
    val block = (1 to 30).map(i => s"t$i").mkString(" ")
    val bait = docs((0 until 10).map { i =>
      (i.toLong, s"$block u$i $block v${i % 3} $block")
    }: _*)

    // pre-r11 STRING-keyed reference forms (the r10 implementations, verbatim)
    def refSpans(df: DataFrame, l: Int): DataFrame = {
      val wins = df.filter(graft.text.TextFunctions.tokenCount(col("text")) >= l)
        .select(col("doc_id"),
          posexplode(Dedup.shingles(col("text"), l)).as(Seq("__start", "__w")))
      val dupKeys = wins.groupBy("__w").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2).select("__w")
      val marked = wins.join(dupKeys, "__w").select(col("doc_id"), col("__start"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy("__start")
      marked.withColumn("__grp", col("__start") - row_number().over(w))
        .groupBy(col("doc_id"), col("__grp"))
        .agg(min("__start").as("__s"), max("__start").as("__e"))
        .select(col("doc_id"), col("__s").cast("long").as("span_start"),
          (col("__e") + (l - 1)).cast("long").as("span_end"),
          (col("__e") - col("__s") + l).cast("long").as("span_tokens"))
    }
    def spanRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val spans = Dedup.exactSubstrSpans(bait, 13)
    assert(spanRows(spans) == spanRows(refSpans(bait, 13)))
    // the exchanges key on the 16-byte hash pair, never the window string
    // (r10 VERDICT #1: ~13× corpus bytes through a string-keyed shuffle)
    val plan = spans.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__h1"),
      s"expected hash-keyed exchange in:\n$plan")
    assert(!plan.contains("hashpartitioning(__w"),
      s"window-string shuffle key leaked back in:\n$plan")

    def refRemove(df: DataFrame, l: Int): DataFrame = {
      val toks = df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      val wins = df.filter(graft.text.TextFunctions.tokenCount(col("text")) >= l)
        .select(col("doc_id"),
          posexplode(Dedup.shingles(col("text"), l)).as(Seq("__start", "__w")))
        .withColumn("__key", col("doc_id") * 1000000L + col("__start"))
      val firsts = wins.groupBy("__w").agg(min("__key").as("__first"))
      val removedPos = wins.join(firsts, "__w")
        .filter(col("__key") > col("__first"))
        .select(col("doc_id"),
          explode(sequence(col("__start"), col("__start") + (l - 1))).as("__pos"))
        .distinct()
      val tokPos = toks.select(col("doc_id"), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      val kept = tokPos.join(removedPos, Seq("doc_id", "__pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok"))).as("kept_text"),
          count(lit(1)).as("n_kept"))
      toks.select(col("doc_id"), size(col("__toks")).cast("long").as("__n"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("kept_text"), lit("")).as("kept_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
    }
    def removeRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(removeRows(Dedup.removeDuplicatedPassages(bait, 13)) ==
      removeRows(refRemove(bait, 13)))

    def refRatio(df: DataFrame, l: Int): DataFrame = {
      val eligible = df.filter(graft.text.TextFunctions.tokenCount(col("text")) >= l)
      val positions = eligible.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), l)).as("__w"))
      val multiDoc = positions.distinct()
        .groupBy("__w").agg(count(lit(1)).as("__nd"))
        .filter(col("__nd") > 1).select("__w")
      val micro = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
      positions.join(multiDoc.withColumn("__dup", lit(1L)), Seq("__w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          coalesce(sum("__dup"), lit(0L)).as("n_dup"))
        .withColumn("dup_ratio",
          micro(col("n_dup").cast("double") / col("n_windows").cast("double")))
    }
    def ratioRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(ratioRows(Dedup.duplicatedPassageRatio(bait, 16)) ==
      ratioRows(refRatio(bait, 16)))
  }

  test("removeDuplicatedPassages: struct order key safe past 1e6 token positions " +
    "(the old doc_id*1e6+start encoding tied and kept BOTH copies)") {
    val passage = (1 to 13).map(i => s"dup$i").mkString(" ")
    // doc 0 holds the passage at start = 1,000,001 — the old long key
    // 0*1e6 + 1000001 COLLIDED with doc 1's 1*1e6 + 1, so min() tied and
    // `__key > __first` kept both copies; the struct key orders
    // (0, 1000001) < (1, 1) and removes doc 1's copy
    val filler = (0 until 1000001).map(i => s"f$i").mkString(" ")
    val d = docs(
      (0L, s"$filler $passage"),
      (1L, s"lead $passage"))
    val got = graft.dedup.Dedup.removeDuplicatedPassages(d, 13)
      .select(col("doc_id"), col("n_removed")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 0L, s"first occurrence (doc 0) must keep: $got")
    assert(got(1L) == 13L, s"doc 1's duplicate copy must be removed: $got")
  }

  test("connectedComponents: chains, rings, isolated pairs, min-id labels") {
    // components: {1,2,3,4,5} (chain), {10,11,12} (ring), {20,21} (pair)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), // chain, mixed edge direction
      (10L, 11L), (11L, 12L), (12L, 10L), // ring
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs.repartition(5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // empty edge set → empty result (no crash)
    assert(Dedup.connectedComponents(pairs.limit(0)).count() == 0L)
  }

  test("connectedComponents: 10k-vertex path graph converges within default maxIters") {
    // adversarial worst case for plain min-label propagation: a single path
    // 0-1-2-...-9999 has diameter 10⁴, needing 10⁴ propagation rounds;
    // pointer jumping must close it in O(log diameter) ≈ 15 rounds, well
    // inside the DEFAULT maxIters (no loosened budget here — that is the
    // point of the test). Edges deliberately shuffled across partitions.
    val n = 10000L
    val chain = spark.range(0L, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
      .repartition(8)
    val labels = Dedup.connectedComponents(chain)
    // one component labeled by the minimum vertex
    assert(labels.select("component").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(labels.count() == n)
  }

  test("mediaStats over a stored table prunes the binary payload from the scan") {
    import graft.multimodal.Multimodal
    val media = Multimodal.documentsAsMedia(
      docs((1L, "short"), (2L, "a much longer payload body"), (3L, "x"))
        .withColumn("n_chars", length(col("text"))))
    val dir = ShmDirs.tempDir("media_prune_").toString + "/t"
    media.write.parquet(dir)
    val stats = Multimodal.mediaStats(spark.read.parquet(dir))
    val rows = stats.collect()
    // correctness: byte totals match recomputing from the payloads
    val want = media.groupBy("modality")
      .agg(sum(octet_length(col("payload"))).as("tb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(3) == want(r.getString(0))))
    // plan: the parquet scan must not read the payload column at all
    val scan = stats.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(scan).getOrElse("")
    assert(!readSchema.contains("payload:"), readSchema)
    assert(readSchema.contains("payload_bytes"), readSchema)
  }

  test("PII: detection counts, redaction order, clean text untouched") {
    import spark.implicits._
    import graft.text.PiiFunctions
    val df = Seq(
      (1L, "mail a.user+tag@sub.example.co.uk and bob@x.io now"),
      (2L, "server at 192.168.0.1 and 10.0.0.255, call +1 415-555-0133"),
      (3L, "no pii here at all"),
      (4L, "overlap 555-123-4567 vs 1.2.3.4")
    ).toDF("id", "text")
    val r = df.select(col("id"),
      PiiFunctions.emailCount(col("text")).as("e"),
      PiiFunctions.ipv4Count(col("text")).as("i"),
      PiiFunctions.phoneCount(col("text")).as("p"),
      PiiFunctions.redact(col("text")).as("red"),
      PiiFunctions.containsPii(col("text")).as("has"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("e") == 2 && r(1L).getAs[Long]("i") == 0)
    assert(r(1L).getAs[String]("red") == "mail <EMAIL> and <EMAIL> now")
    assert(r(2L).getAs[Long]("i") == 2 && r(2L).getAs[Long]("p") == 1)
    assert(r(2L).getAs[String]("red") == "server at <IP> and <IP>, call <PHONE>")
    assert(r(3L).getAs[Long]("e") + r(3L).getAs[Long]("i") + r(3L).getAs[Long]("p") == 0)
    assert(r(3L).getAs[String]("red") == "no pii here at all" && !r(3L).getAs[Boolean]("has"))
    assert(r(4L).getAs[Long]("p") == 1 && r(4L).getAs[Long]("i") == 1)
    assert(r(4L).getAs[String]("red") == "overlap <PHONE> vs <IP>")
  }

  test("gopherFlags: each rule fires on its designed violation; clean doc keeps") {
    val goodSentence = "the quick brown foxes and jumps over lazy dogs today "
    val df = docs(
      (1L, goodSentence * 6), // 60 tokens, mean len ~4, stopwords present → keep
      (2L, "hello world"), // too few tokens
      (3L, ("x " * 60).trim), // mean token length 1 < 3
      (4L, ("@#$%^& the and " * 20).trim), // symbol-heavy, alpha-poor
      (5L, ("wonderful excellent marvelous paragraph sentence " * 12).trim)) // no stopwords
      .select(col("doc_id") +: graft.text.TextFunctions.gopherFlags(col("text")): _*)
    val r = df.collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Boolean]("keep"), "clean doc must pass all rules")
    assert(!r(2L).getAs[Boolean]("ok_n_tok") && !r(2L).getAs[Boolean]("keep"))
    assert(!r(3L).getAs[Boolean]("ok_tok_len") && r(3L).getAs[Double]("mean_tok_len") == 1.0)
    assert(!r(4L).getAs[Boolean]("ok_symbol") && !r(4L).getAs[Boolean]("ok_alpha"))
    assert(!r(5L).getAs[Boolean]("ok_stopwords") && r(5L).getAs[Boolean]("ok_tok_len"))
    assert(r(1L).getAs[Long]("n_tok") == 60L)
  }

  test("labelCentroids: element-wise group means in long form") {
    val df = Seq(
      (0, Seq(1f, 3f)), (0, Seq(3f, 5f)), // centroid (2, 4)
      (1, Seq(-1f, 0.5f))) // centroid (-1, 0.5)
      .toDF("label", "embedding")
    val r = Similarity.labelCentroids(df, "label").collect()
      .map(x => (x.getInt(0), x.getLong(1)) -> (x.getDouble(2), x.getLong(3))).toMap
    assert(r((0, 0L)) == (2.0, 2L) && r((0, 1L)) == (4.0, 2L))
    assert(r((1, 0L)) == (-1.0, 1L) && r((1, 1L)) == (0.5, 1L))
  }

  test("semanticDedup: planted near-dups dropped; clustered mode matches exact") {
    // 30 deterministic pseudo-random 16-dim base vectors + 10 planted dups of
    // the first 10 (tiny perturbation → cosine ≈ 1)
    def base(i: Int): Seq[Float] = (0 until 16).map(d =>
      ((((i * 37 + d * 13) % 19) - 9) / 3.0f) + (if (d == i % 16) 2f else 0f))
    val rows = (0 until 30).map(i => (i.toLong, base(i))) ++
      (0 until 10).map(i => (100L + i, base(i).updated(0, base(i)(0) + 0.001f)))
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.semanticDedup(df, threshold = 0.98, nClusters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // every planted dup has a smaller-id near-identical twin → dropped
    (0 until 10).foreach(i => assert(!exact(100L + i), s"dup ${100 + i} kept"))
    // originals keep (no smaller-id neighbor at 0.98)
    (0 until 30).foreach(i => assert(exact(i.toLong), s"original $i dropped"))
    // clustered mode: near-identical pairs land in the same Voronoi cell, so
    // the planted dups are still caught; kept set matches exact mode here
    val clustered = Similarity.semanticDedup(df, threshold = 0.98, nClusters = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(clustered == exact)
  }

  test("semanticDedup maxCellCompare: mega-cluster capped, planted dup mass still caught") {
    // 90%-one-cluster corpus: 180 near-identical vectors (one tight cluster)
    // + 20 spread-out singletons
    def tight(i: Int): Seq[Float] =
      (0 until 8).map(d => (if (d == 0) 10f else 1f) + i * 1e-4f)
    def lone(i: Int): Seq[Float] =
      (0 until 8).map(d => if (d == i % 8) 5f else -3f * ((i + d) % 3))
    val rows = (0 until 180).map(i => (i.toLong, tight(i))) ++
      (0 until 20).map(i => (1000L + i, lone(i)))
    val df = rows.toDF("vec_id", "embedding")
    val uncapped = Similarity.semanticDedup(df, threshold = 0.99, nClusters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // cap of 5: pair join is 200×5, not 200² — and because min-id keep makes
    // the earliest ids the survivors, the planted cluster (all near id 0) is
    // still fully deduplicated: capped result == uncapped result
    val capped = Similarity.semanticDedup(df, threshold = 0.99, nClusters = 1,
      maxCellCompare = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(capped == uncapped, "cap must not change the planted-cluster result")
    assert(uncapped(0L) && (1 until 180).forall(i => !uncapped(i.toLong)))
    assert((0 until 20).forall(i => uncapped(1000L + i)), "singletons must keep")
    // the documented recall trade: a dup pair hiding entirely among LATE ids
    // (far from the first-5 anchors) is missed by the capped run, caught by
    // the uncapped one
    val lateRows = (0 until 10).map(i => (i.toLong, lone(i))) ++
      Seq((50L, tight(0)), (51L, tight(1))) // near-dup pair, both late ids
    val lateDf = lateRows.toDF("vec_id", "embedding")
    val lateUncapped = Similarity.semanticDedup(lateDf, threshold = 0.99, nClusters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val lateCapped = Similarity.semanticDedup(lateDf, threshold = 0.99, nClusters = 1,
      maxCellCompare = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!lateUncapped(51L), "uncapped catches the late pair")
    assert(lateCapped(51L), "capped run compares only against the first 5 ids")
  }

  test("native tokenCount / gopherKeep are bit-equivalent to the compositional forms") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // text generator biased toward the edge cases the native walk must
    // replicate: tab/newline runs, leading/trailing spaces, unicode letters
    // (symbol-class in the ASCII regexes), digits, stopwords, empty strings
    val token = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(8)),
      3 -> Gen.oneOf(TextFunctions.EnglishStopwords),
      1 -> Gen.oneOf("!?.", "café", "élève", "1234", "...", "😀", "ΟΔΟΣ", "\u0130"))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ", "\r\n", "\u000b", "\f")
    val textGen = for {
      n <- Gen.chooseNum(0, 120)
      toks <- Gen.listOfN(n, token)
      seps <- Gen.listOfN(math.max(n - 1, 0), sep)
      lead <- Gen.oneOf("", " ", "  ", "\t", " \t", "\u000b", "\f ")
      trail <- Gen.oneOf("", " ", "\t ", "\n", "\u000b")
    } yield lead + (if (toks.isEmpty) "" else
      toks.head + seps.zip(toks.tail).map { case (s, t) => s + t }.mkString) + trail
    val prop = Prop.forAll(Gen.listOfN(40, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("tc_native"),
          TextFunctions.tokenCountSql(col("text")).as("tc_sql"),
          TextFunctions.gopherKeep(col("text")).as("keep_native"))
      val flags = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id") +: TextFunctions.gopherFlags(col("text")): _*)
        .select(col("doc_id"), col("keep").as("keep_sql"))
      val joined = df.join(flags, "doc_id").collect()
      joined.forall { r =>
        r.getInt(1) == r.getInt(2) && r.getBoolean(3) == r.getBoolean(4)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("native langId is bit-equivalent to the compositional 20-split form") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // biased toward marker words (all four languages, ties, overlaps like
    // "the the"), unicode, empties — the cases the indexOf/advance loop and
    // the earliest-language-wins argmax must replicate exactly
    val marker = Gen.oneOf(TextFunctions.LangMarkers.flatMap(_._2))
    val token = Gen.frequency(
      5 -> marker,
      3 -> Gen.alphaNumStr.map(_.take(8)),
      1 -> Gen.oneOf("the the", "LE", "Der", "y es el", "café", "", "  ", "\u000b", "\f",
        "ΟΔΟΣ", "\u0130S"))
    val textGen = for {
      n <- Gen.chooseNum(0, 60)
      toks <- Gen.listOfN(n, token)
    } yield toks.mkString(" ")
    val prop = Prop.forAll(Gen.listOfN(40, textGen)) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(
          TextFunctions.langId(col("text")).as("native"),
          TextFunctions.langIdCompositional(col("text")).as("comp"))
        .collect()
      rows.forall(r => r.getString(0) == r.getString(1))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("gopherKeep matches compositional keep on a long mixed document") {
    // a realistic doc that actually exercises every rule branch near its
    // boundary: ~60 tokens, mixed stopwords, punctuation, unicode
    val doc = (1 to 30).map(i => s"the quick brown fox$i and").mkString(" ") +
      " café !!! 123"
    val both = docs((1L, doc), (2L, "short"), (3L, ""), (4L, "a " * 200))
      .select(col("doc_id"),
        TextFunctions.gopherKeep(col("text")).as("n"),
        TextFunctions.gopherFlags(col("text")).last.as("c"))
      .collect()
    both.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2), s"doc ${r.getLong(0)}"))
  }

  test("multimodal: resize updates dims/byte budget for images only; frame schedule real") {
    import graft.multimodal._
    val media = Multimodal.documentsAsMedia(
      Seq((0L, "x" * 600, "en", "web", 600L), (1L, "short audio", "en", "web", 11L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val ds = media.as[MediaRecord](org.apache.spark.sql.Encoders.product[MediaRecord])
    val resized = Multimodal.resizeImages(ds, 32, 32).collect().sortBy(_.media_id)
    val img = resized(0); val aud = resized(1)
    assert(img.modality == "image" && img.width == 32 && img.height == 32 &&
      img.payload.length == 32 * 32 / 8)
    assert(aud.modality == "audio" && aud.payload.length == 11) // untouched
    // uniform frame sampling: centers of equal sub-intervals, strictly inside
    assert(Multimodal.frameTimestampsMs(1000L, 4) == Seq(125L, 375L, 625L, 875L))
    assert(Multimodal.frameTimestampsMs(1000L, 1) == Seq(500L))
    val ts = Multimodal.frameTimestampsMs(9973L, 7)
    assert(ts.head > 0 && ts.last < 9973L && ts == ts.sorted)
  }

  test("unigramTrain: hand-verified hard-EM — multi-char piece beats char path, length cap") {
    import spark.implicits._
    // "xy xy xy xy z": words xy(4), z(1); seed counts x:4 y:4 xy:4 z:1
    // (C=13, V=4). lp(xy)=lp(x)=lp(y)=log10(5/17)µ < 0, so Viterbi picks the
    // single piece [xy] over [x,y] (one negative score beats two). z → [z].
    // Both EM rounds converge to counts {xy:4, z:1}.
    val got = graft.text.TextFunctions.unigramTrain(
        Seq("xy xy xy xy z").toDF("text"), iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("xy", 4L), ("z", 1L)), s"got $got")
    // deterministic tie order on equal counts: piece ASC
    val ties = graft.text.TextFunctions.unigramTrain(
        Seq("ab ba").toDF("text"), iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ties == Seq(("ab", 1L), ("ba", 1L)), s"got $ties")
    // ... in UTF-8 byte order (Spark's orderBy, DuckDB): U+FF41 ranks before
    // U+1F600, where String.compareTo's UTF-16 order would put the emoji first
    val utf8Ties = graft.text.TextFunctions.unigramTrain(
        Seq("\uFF41 \uD83D\uDE00").toDF("text"), iters = 1)
      .collect().map(_.getString(0)).toSeq
    assert(utf8Ties == Seq("\uFF41", "\uD83D\uDE00"), s"got $utf8Ties")
    // maxWordLen cap: over-long words are excluded from training entirely
    val capped = graft.text.TextFunctions.unigramTrain(
        Seq("abcdef xy").toDF("text"), iters = 1, maxWordLen = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(capped == Seq(("xy", 1L)), s"got $capped")
    // encode: the learned segmentation applied back per doc; untrained
    // over-long words pass through as a single piece (UNK-word fallback)
    val enc = graft.text.TextFunctions.unigramEncode(
        Seq((0L, "xy xy xy xy z"), (1L, "abcdef xy")).toDF("doc_id", "text"),
        iters = 2, maxWordLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(enc == Seq((0L, 5L, "xy xy xy xy z"), (1L, 2L, "abcdef xy")), s"got $enc")
    // degenerate corpus: EVERY word over the cap -> empty model, encode
    // passes everything through whole
    val deg = Seq((0L, "abcdefgh stuvwxyz")).toDF("doc_id", "text")
    assert(graft.text.TextFunctions.unigramTrain(deg, iters = 1, maxWordLen = 4)
      .collect().isEmpty)
    val degEnc = graft.text.TextFunctions.unigramEncode(deg, iters = 1, maxWordLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(degEnc == Seq((0L, 2L, "abcdefgh stuvwxyz")), s"got $degEnc")
  }

  test("unigramEncode: trailing newline yields no empty token, and the oracle mirrors the filter") {
    import spark.implicits._
    // trim() strips only spaces, so "xy z\n" splits to [xy, z, ""] — the
    // engine drops the empty token (word =!= ''); before r10 the DuckDB
    // oracle's dwj CTE kept it through the UNK-word COALESCE (extra token in
    // n_tokens, extra trailing space in uni_text), a latent hash-gate break
    // on any corpus with trailing newlines (r10 ADVICE).
    val enc = graft.text.TextFunctions.unigramEncode(
        Seq((0L, "xy xy z\n"), (1L, "\tab ba")).toDF("doc_id", "text"), iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(enc.map(_._2) == Seq(3L, 2L), s"empty tokens must not count: $enc")
    assert(enc.forall { case (_, _, t) => !t.endsWith(" ") && !t.startsWith(" ") },
      s"empty pieces must not join: $enc")
    // the oracle's document-word CTE must carry the engine's empty-word filter
    assert(graft.text.TextFunctions.unigramEncodeOracleSql(iters = 1)
      .contains("WHERE word <> ''"))
  }

  test("bpeTrain: hand-verified Sennrich merges incl. same-symbol chains and merged-symbol re-pairs") {
    import spark.implicits._
    // Expected merges verified against a Python re.sub reference
    // implementation of Sennrich §3.2 (greedy left-to-right, tie-break
    // cnt DESC then "lhs rhs" ASC). The fixture deliberately exercises:
    //  - case folding + multi-space runs ("The THE the   thee")
    //  - l == r chains where greedy takes every other pair (zz/zzz/zzzz)
    //  - a chain of MERGED symbols re-pairing in a later round (aaaa -> aa aa -> aaaaaa? no: aa,aa)
    val docs = Seq(
      "the cat sat on the mat", "the cats eat", "a cat a mat a hat",
      "The THE the   thee", "", "  zz zzz zzzz aaaa aa a").toDF("text")
    val got = graft.text.TextFunctions.bpeTrain(docs, numMerges = 8)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1, "a", "t", 8L),   // at: cat(3) sat mat(2) eat hat
      (2, "h", "e", 7L),   // the(5: 3+the+THE... counts words) thee
      (3, "t", "he", 7L),
      (4, "z", "z", 6L),   // zz(1) + zzz(1) + zzzz(2 greedy) + ... chains
      (5, "a", "a", 4L),   // aaaa(2 greedy) + aa(1) + ...
      (6, "c", "at", 3L),
      (7, "m", "at", 2L),
      (8, "aa", "aa", 1L)  // merged symbols re-pair: aaaa -> [aa,aa] -> aaaa
    ), s"got $got")
    // early exhaustion: a corpus whose pairs run out stops short, no error
    val tiny = Seq("ab ab", "cd").toDF("text")
    val m = graft.text.TextFunctions.bpeTrain(tiny, numMerges = 8).collect()
    assert(m.length == 2) // (a,b) then (c,d); nothing left to merge

    // stage 3: encoding applies the same merges back to the corpus —
    // expected strings verified against the Python reference's final vocab
    val enc = graft.text.TextFunctions.bpeEncode(
        docs.withColumn("doc_id", monotonically_increasing_id()), numMerges = 8)
      .collect().map(r => r.getString(2)).toSeq
    assert(enc.contains("the cat s at o n the mat")) // sat = s+at, on = o+n
    assert(enc.contains("the the the the e"))        // thee = the+e
    assert(enc.contains("zz zz z zz zz aaaa aa a"))  // zzz = zz+z; aaaa one token
  }

  private def bpeRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  test("bpeTrain/bpeEncode: symbols are code points, line separators included (DuckDB oracle's answer)") {
    // Java-regex `.` drops U+0085, U+2028 and U+2029; DuckDB's
    // regexp_extract_all(word, '.') keeps them — so does every symbol here
    val corpus = docs((0L, "a\u2028b a\u2028b q"), (1L, "a\u2028b zz"))
    val got = TextFunctions.bpeTrain(corpus, numMerges = 2).orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "\u2028", 3L), (2, "a\u2028", "b", 3L)), s"got $got")
    assert(bpeRows(TextFunctions.bpeEncode(corpus, numMerges = 2)) == Seq(
      (0L, 3L, "a\u2028b a\u2028b q"), (1L, 3L, "a\u2028b z z")))
  }

  test("bpeTrain: count ties break on the UTF-8 bytes of \"lhs rhs\", not UTF-16 order") {
    // U+FF41 is EF BD A1 in UTF-8 and U+1F600 is F0 9F 98 80, so the
    // fullwidth pair ranks first; String.compareTo (UTF-16 units: FF41 vs
    // D83D) would pick the emoji pair
    val got = TextFunctions.bpeTrain(docs((0L, "\uFF41b"), (1L, "\uD83D\uDE00b")), numMerges = 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "\uFF41", "b", 1L)), s"got $got")
  }

  test("bpeEncode: a NULL or whitespace-only text yields no row") {
    val corpus = Seq((0L, "ab ab c"), (1L, " \t "), (2L, null), (3L, "   "))
      .toDF("doc_id", "text")
    assert(bpeRows(TextFunctions.bpeEncode(corpus, numMerges = 2)) == Seq((0L, 3L, "ab ab c")))
  }

  test("bpeTrain and bpeEncode run no Spark job per merge round") {
    def jobs(thunk: => Unit): Int = SparkTestBase.jobsAndTasks(thunk)._2
    // ten distinct letters, nine pairs: each of 8 rounds finds one to merge
    val corpus = docs((0L, "abcdefghij abcdefghij"), (1L, "abcdefghij ab cd"), (2L, "efgh ab"))
    assert(TextFunctions.bpeTrain(corpus, numMerges = 8).count() == 8)
    val train = Seq(1, 8).map(n => jobs(TextFunctions.bpeTrain(corpus, numMerges = n).collect()))
    assert(train(0) == train(1), s"bpeTrain jobs for 1 vs 8 merges: $train")
    val encode = Seq(1, 8).map(n => jobs(TextFunctions.bpeEncode(corpus, numMerges = n).collect()))
    assert(encode(0) == encode(1), s"bpeEncode jobs for 1 vs 8 merges: $encode")
  }

  test("unigramTrain and unigramEncode run no Spark job per EM round") {
    def jobs(thunk: => Unit): Int = SparkTestBase.jobsAndTasks(thunk)._2
    val corpus = docs((0L, "abcdefghij abcdefghij"), (1L, "abcdefghij ab cd"), (2L, "efgh ab"))
    val train = Seq(1, 8).map(n => jobs(TextFunctions.unigramTrain(corpus, iters = n).collect()))
    assert(train(0) == train(1), s"unigramTrain jobs for 1 vs 8 rounds: $train")
    val encode = Seq(1, 8).map(n => jobs(TextFunctions.unigramEncode(corpus, iters = n).collect()))
    assert(encode(0) == encode(1), s"unigramEncode jobs for 1 vs 8 rounds: $encode")
  }

  test("unigramTrain/unigramEncode measure and slice words by code points") {
    // five U+1F600 are 10 UTF-16 units: a word of at most 6 code points that
    // trains and segments into 2 + 3 emoji; a UTF-16 measure would drop it
    val e = "\uD83D\uDE00"
    val corpus = docs((0L, s"${e * 5} ${e * 2}a ab"), (1L, s"${e * 5} ${e * 3}"), (2L, s"${e}b ${e * 5}"))
    val train = TextFunctions.unigramTrain(corpus, iters = 2, maxWordLen = 6)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(train == Seq((e * 3, 4L), (e * 2, 3L), ("ab", 1L), (s"${e}b", 1L), (s"${e * 2}a", 1L)),
      s"got $train")
    val enc = TextFunctions.unigramEncode(corpus, iters = 2, maxWordLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(enc == Seq(
      (0L, 4L, s"${e * 2} ${e * 3} ${e * 2}a ab"),
      (1L, 3L, s"${e * 2} ${e * 3} ${e * 3}"),
      (2L, 3L, s"${e}b ${e * 2} ${e * 3}")), s"got $enc")
  }

  test("kmeansTrain: two obvious directions separate; assignments are hand-checkable") {
    // Two tight cosine bundles around e0 and e1. Init = two smallest ids,
    // one from each bundle (ids 0 and 1), so after any number of rounds the
    // bundles must map to their own cluster.
    val rows = Seq(
      (0L, Seq(1.0f, 0.05f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)), (4L, Seq(1.1f, 0f, 0.05f)),
      (1L, Seq(0.05f, 1.0f, 0f)), (3L, Seq(0f, 0.95f, 0.1f)), (5L, Seq(0.1f, 1.2f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansTrain(rows, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 0L && out(2L) == 0L && out(4L) == 0L)
    assert(out(1L) == 1L && out(3L) == 1L && out(5L) == 1L)
  }

  test("kmeansTrain: iters=0 assigns against the raw init centroids") {
    val rows = Seq(
      (10L, Seq(1.0f, 0f)), (11L, Seq(0f, 1.0f)),
      (12L, Seq(0.9f, 0.1f)), (13L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansTrain(rows, k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // init: cluster 0 = vec 10 (e0), cluster 1 = vec 11 (e1)
    assert(out == Map(10L -> 0L, 11L -> 1L, 12L -> 0L, 13L -> 1L))
  }

  test("kmeansTrain: duplicate init vectors — round 1 starves cluster 1 (ties go " +
    "to the lower index), whose carried-forward centroid then wins its points back") {
    // Init: c0 = c1 = (1,0). Round 1: every point → cluster 0 (strict->),
    // cluster 1 carries (1,0) forward. But cluster 0's mean drifts toward
    // vec 2's y-component, so round 2 the exact-(1,0) points RE-ACQUIRE
    // cluster 1 (their cosine to the carried centroid is exactly 1) while
    // vec 2 stays with the drifted mean — the carry-forward centroid is a
    // live competitor, not a tombstone. Final (pass 3) is the fixpoint.
    val rows = Seq(
      (0L, Seq(1.0f, 0f)), (1L, Seq(1.0f, 0f)), (2L, Seq(0.9f, 0.01f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansTrain(rows, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 0L))
  }

  test("clusterBalancedSample: caps big clusters, keeps small ones whole, " +
    "rank order is the portable md5 hash") {
    val assigns = ((0L until 10L).map(i => (i, 0L)) ++ Seq((100L, 1L), (101L, 1L)))
      .toDF("vec_id", "cluster")
    val out = Similarity.clusterBalancedSample(assigns, perCluster = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = out.groupBy(_._2)
    assert(byCluster(0L).length == 3 && byCluster(1L).length == 2)
    // expected order: md5 of the decimal id string, ties by id
    val expected0 = (0L until 10L)
      .sortBy(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString, i))
      .take(3)
    assert(byCluster(0L).sortBy(_._3).map(_._1).toSeq == expected0)
  }

  test("kmeansTrain: point-to-centroid cosine column is 4dp-rounded and sane") {
    val rows = Seq(
      (0L, Seq(1.0f, 0f)), (1L, Seq(0f, 1.0f)), (2L, Seq(1.0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansTrain(rows, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // exact members sit ON their centroid → cosine exactly 1.0 after rounding
    assert(out.forall { case (_, c) => c >= -1.0 && c <= 1.0 })
    assert(out.count(_._2 == 1.0) == 3)
  }
}
