package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import graft.functions.HashExpressions
import graft.functions.HashExpressions._

/** The sketch expressions carry real `doGenCode` (r8 directive #2): each test
  * runs the SAME rows through (a) DataFrame execution with
  * `spark.sql.codegen.fallback=false` — so a Janino failure fails the test
  * instead of silently degrading to the interpreted path, which would make
  * the equivalence vacuous — and (b) direct interpreted `eval`, and asserts
  * bit-for-bit equality. Also pins that the generated plan actually contains
  * a WholeStageCodegen span over the sketch projection (the point of the
  * port: CodegenFallback broke fusion for the enclosing stage).
  */
class HashExprCodegenSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  /** Run `df.select(col)` with codegen fallback OFF (Janino failure = test
    * failure), returning the collected single-column rows.
    */
  private def collectCodegen(df: org.apache.spark.sql.DataFrame,
                             c: org.apache.spark.sql.Column): Array[Any] =
    withCodegenOnly(df.select(c.as("out")).collect().map(_.get(0)))

  /** Force the REAL codegen path: fallback off (Janino failure = test failure),
    * CODEGEN_ONLY factory, and ConvertToLocalRelation excluded — without the
    * exclusion a projection over a local Seq is constant-folded by the
    * optimizer's INTERPRETED eval and the whole equivalence check is vacuous.
    */
  private def withCodegenOnly[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  private val rnd = new scala.util.Random(1234)
  private val texts: Seq[String] = (0 until 300).map { i =>
    if (i % 23 == 0) ""
    else (0 until (1 + rnd.nextInt(30))).map(_ => s"w${rnd.nextInt(50)}").mkString(" ")
  } ++ Seq(null)
  private val vectors: Seq[Array[Float]] = (0 until 200).map { i =>
    if (i % 31 == 0) Array.fill(8)(0.0f)
    else Array.fill(8)(rnd.nextFloat() * 2 - 1)
  }

  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  private def utf8Arr(tokens: Seq[String]): ArrayData =
    new GenericArrayData(tokens.map(UTF8String.fromString).toArray[Any])
  private def dblArr(v: Array[Float]): ArrayData =
    new GenericArrayData(v.map(_.toDouble).toArray[Any])

  test("word_shingles + minhash_sig: codegen == interpreted, stage stays fused") {
    import spark.implicits._
    val df = texts.toDF("text").where(col("text").isNotNull)
    val colExpr = minhash_sig(word_shingles(col("text"), 3), 16)
    val fromCodegen = collectCodegen(df, colExpr)
      .map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq)
    val fromEval = texts.filter(_ != null).map { t =>
      // the texts are lowercase words joined by single spaces, so this
      // split is their TextFunctions.tokens
      val sh = WordShingles(GraftBridge.expression(lit(t)), 3)
        .compute(utf8Arr(t.split(" ", -1).toSeq))
      MinHashSig(GraftBridge.expression(lit(t)), 16).compute(sh)
        .toLongArray().toSeq
    }
    assert(fromCodegen.toSeq == fromEval, "minhash codegen and interpreted diverge")

    // the projection must be INSIDE a WholeStageCodegen span — with
    // CodegenFallback it sat in a separate Project outside any span
    val plan = withCodegenOnly(
      df.select(colExpr.as("sig")).queryExecution.executedPlan.toString)
    // `*(n)` prefixes mark operators inside a WholeStageCodegen span in the
    // compact plan string; the sketch Project must carry one
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"sketch projection not fused:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"fallback leaked into plan:\n$plan")
  }

  test("simhash64 + simhash_md5: codegen == interpreted bit-for-bit") {
    import spark.implicits._
    val tokenRows = texts.filter(_ != null).map(_.split("\\s+").toSeq)
    val df = tokenRows.toDF("tokens")
    val c64 = collectCodegen(df, simhash64(col("tokens"))).map(_.asInstanceOf[Long])
    val e64 = tokenRows.map(t => SimHash64(GraftBridge.expression(lit(1)))
      .compute(utf8Arr(t)))
    assert(c64.toSeq == e64, "simhash64 diverges")

    val cMd5 = collectCodegen(df, simhash_md5(col("tokens"))).map(_.asInstanceOf[Long])
    val eMd5 = tokenRows.map(t => SimHashMd5(GraftBridge.expression(lit(1)))
      .compute(utf8Arr(t)))
    assert(cMd5.toSeq == eMd5, "simhash_md5 diverges")
  }

  test("hyperplane_sig / cosine_sim / nearest_centroid: codegen == interpreted") {
    import spark.implicits._
    val pairs = vectors.zip(vectors.reverse)
    val df = pairs.toDF("a", "b")

    val cHp = collectCodegen(df, hyperplane_sig(col("a"), 16, 7)).map(_.asInstanceOf[Long])
    // eval path: build the expression against a resolved double-array literal
    val eHp = vectors.map { v =>
      val e = HyperplaneSig(GraftBridge.expression(
        lit(v.map(_.toDouble))), 16, 7)
      e.compute(dblArr(v))
    }
    assert(cHp.toSeq == eHp, "hyperplane_sig diverges")

    val cCos = collectCodegen(df, HashExpressions.cosine_sim(col("a"), col("b")))
      .map(_.asInstanceOf[Double])
    val eCos = pairs.map { case (a, b) =>
      CosineSim(GraftBridge.expression(lit(a.map(_.toDouble))),
        GraftBridge.expression(lit(b.map(_.toDouble))))
        .compute(dblArr(a), dblArr(b))
    }
    assert(cCos.toSeq == eCos, "cosine_sim diverges")

    val cents = Array(Array(1.0, 0, 0, 0, 0, 0, 0, 0), Array(0.0, 1, 0, 0, 0, 0, 0, 0),
      Array(-1.0, 0, 0, 0, 0, 0, 0, 1))
    val cNc = collectCodegen(df, nearest_centroid(col("a"), cents)).map(_.asInstanceOf[Int])
    val eNc = vectors.map { v =>
      NearestCentroid(GraftBridge.expression(lit(v.map(_.toDouble))), cents)
        .compute(dblArr(v))
    }
    assert(cNc.toSeq == eNc, "nearest_centroid diverges")

    val cNcL2 = collectCodegen(df, nearest_centroid_l2(col("a"), cents)).map(_.asInstanceOf[Int])
    val eNcL2 = vectors.map { v =>
      NearestCentroidL2(GraftBridge.expression(lit(v.map(_.toDouble))), cents)
        .compute(dblArr(v))
    }
    assert(cNcL2.toSeq == eNcL2, "nearest_centroid_l2 diverges")
    // the metrics genuinely differ: same DIRECTION far away loses under L2
    // ([10,0,...] is cosine-closest to centroid 0 but L2-closer to centroid 1)
    val probe = Array(10.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val pdf = Seq(Tuple1(probe)).toDF("a")
    val far = Array(Array(100.0, 0, 0, 0, 0, 0, 0, 0), Array(0.0, 1, 0, 0, 0, 0, 0, 0))
    assert(collectCodegen(pdf, nearest_centroid(col("a"), far)).head == 0)
    assert(collectCodegen(pdf, nearest_centroid_l2(col("a"), far)).head == 1)
  }

  test("adc_lut_flat + adc_fold: codegen == interpreted bit-for-bit, fused") {
    import spark.implicits._
    val m = 4; val k = 8; val d = 2
    val cbs: Array[Array[Array[Double]]] = Array.tabulate(m, k, d)((s, c, j) =>
      math.sin(s * 131 + c * 17 + j * 3) * 2.5)
    val vdf = vectors.toSeq.toDF("a")
    val cLut = collectCodegen(vdf, adc_lut_flat(col("a"), cbs))
      .map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq)
    val eLut = vectors.map { v =>
      AdcLutFlat(GraftBridge.expression(lit(v.map(_.toDouble))), cbs)
        .compute(dblArr(v)).toLongArray().toSeq
    }
    assert(cLut.toSeq == eLut, "adc_lut_flat diverges")

    val coded = vectors.indices.map { i =>
      (Array.tabulate(m)(s => (i * 13 + s * 5) % k).toSeq,
        Array.tabulate(m * k)(j => (j * 104729L + i * 31L) % 100003L).toSeq)
    }
    val cdf = coded.toDF("codes", "lut")
    val cFold = collectCodegen(cdf, adc_fold(col("codes"), col("lut"), k))
      .map(_.asInstanceOf[Long])
    val eFold = coded.map { case (codes, lut) =>
      AdcFold(GraftBridge.expression(lit(1)), GraftBridge.expression(lit(1)), k)
        .compute(new GenericArrayData(codes.toArray[Any]),
          new GenericArrayData(lut.toArray[Any]))
    }
    assert(cFold.toSeq == eFold, "adc_fold diverges")
    // both stay inside a WholeStageCodegen span (no fallback)
    val plan = withCodegenOnly(
      vdf.select(adc_lut_flat(col("a"), cbs).as("f")).queryExecution.executedPlan.toString)
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"adc_lut_flat projection not fused:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"fallback leaked into plan:\n$plan")
  }

  test("bloom_might_contain_long: codegen == interpreted, no false negatives") {
    import spark.implicits._
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    val members = (0L until 500L).map(_ * 7919L)
    members.foreach(bloom.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    val probes = members ++ (0L until 500L).map(_ * 7919L + 3L)
    val df = probes.toDF("h")
    val fromCodegen = collectCodegen(df, bloom_might_contain_long(col("h"), bytes))
      .map(_.asInstanceOf[Boolean])
    val expr = BloomMightContainLong(GraftBridge.expression(lit(0L)), bytes)
    val fromEval = probes.map(expr.compute)
    assert(fromCodegen.toSeq == fromEval, "bloom probe diverges")
    // invariant: every member answers true on BOTH paths
    assert(fromCodegen.take(500).forall(identity), "false negative")
  }

  // ---- r13 md5-bucket sketches: bit-parity with the compositional hashBucket
  // forms they replaced in qualityClassifierTrain / dsirSelect, under
  // CODEGEN_ONLY (Janino failure = test failure).

  private def toksArr(c: org.apache.spark.sql.Column) =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))

  test("md5_bucket_set == sorted distinct hashBucket over exploded tokens") {
    import spark.implicits._
    val indexed = texts.zipWithIndex.collect { case (t, i) if t != null => (i.toLong, t) }
    val df = indexed.toDF("__id", "text").orderBy("__id")
    val native = collectCodegen(df, md5_bucket_set(toksArr(col("text")), 64))
      .map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq)
    // compositional reference: the exact r12 classifier feature derivation
    // (explode + pmod(hex60-md5) + distinct), re-assembled per doc
    val ref = df
      .select(col("__id"), explode(toksArr(col("text"))).as("__tok"))
      .select(col("__id"), graft.pipeline.Pipeline.hashBucket(col("__tok"), 64).as("b"))
      .distinct()
      .groupBy("__id").agg(sort_array(collect_list("b")).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(native.length == indexed.length)
    native.zipWithIndex.foreach { case (bs, i) =>
      val expected = ref.getOrElse(indexed(i)._1, Seq.empty[Long])
      assert(bs == expected, s"doc $i: native $bs != compositional $expected")
      assert(bs == bs.sorted && bs.distinct == bs, s"doc $i not sorted-distinct")
    }
  }

  test("md5_gram_bucket_counts == hashBucket counts over unigram+bigram explode") {
    import spark.implicits._
    val indexed = texts.zipWithIndex.collect { case (t, i) if t != null => (i.toLong, t) }
    val df = indexed.toDF("__id", "text").orderBy("__id")
    val native = collectCodegen(df, md5_gram_bucket_counts(toksArr(col("text")), 128))
      .map(_.asInstanceOf[scala.collection.Map[Long, Long]].toMap)
    // compositional reference: the exact r12 DSIR gram derivation
    val ta = toksArr(col("text"))
    val n = size(col("__toks"))
    val bigrams = when(n >= 2,
      zip_with(slice(col("__toks"), lit(1), n - 1), slice(col("__toks"), lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array())
    val ref = df
      .select(col("__id"), ta.as("__toks"))
      .select(col("__id"), explode(concat(col("__toks"), bigrams)).as("gram"))
      .select(col("__id"), graft.pipeline.Pipeline.hashBucket(col("gram"), 128).as("b"))
      .groupBy("__id", "b").agg(count(lit(1)).as("c"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(native.length == indexed.length)
    native.zipWithIndex.foreach { case (m, i) =>
      val expected = ref.getOrElse(indexed(i)._1, Map.empty[Long, Long])
      assert(m == expected, s"doc $i: native $m != compositional $expected")
    }
  }

  test("lsh_band_hashes == xxhash64(concat_ws('|', slice-casted sig)) per band") {
    import spark.implicits._
    val sigs = (0 until 200).map(_ =>
      (0 until 32).map(_ => rnd.nextLong()).toArray)
    val df = sigs.toDF("sig")
    val (bands, rpb) = (16, 2)
    val native = collectCodegen(df, lsh_band_hashes(col("sig"), bands, rpb))
      .map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq)
    // compositional reference: the exact pre-r13 lshBuckets derivation
    // (plain execution — the HOFs are CodegenFallback)
    val ref = df.select(transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws("|",
        transform(slice(col("sig"), b * rpb + 1, lit(rpb)), _.cast("string"))))).as("o"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(native.toSeq == ref.toSeq, "band hashes diverge from the compositional form")
  }

  test("sig_agree_count == size(filter(zip_with(a, b, ===)))") {
    import spark.implicits._
    val pairs = (0 until 300).map { _ =>
      val a = (0 until 32).map(_ => rnd.nextInt(4).toLong).toArray
      val b = (0 until 32).map(_ => rnd.nextInt(4).toLong).toArray
      (a, b)
    }
    val df = pairs.toDF("a", "b")
    val native = collectCodegen(df, sig_agree_count(col("a"), col("b")))
      .map(_.asInstanceOf[Int])
    val ref = df.select(
      size(filter(zip_with(col("a"), col("b"), _ === _), x => x)).as("o"))
      .collect().map(_.getInt(0))
    assert(native.toSeq == ref.toSeq, "agreement count diverges")
    // interpreted parity
    val expr = SigAgreeCount(GraftBridge.expression(lit(Array(0L))),
      GraftBridge.expression(lit(Array(0L))))
    val interp = pairs.map { case (a, b) =>
      expr.compute(new org.apache.spark.sql.catalyst.util.GenericArrayData(a.map(Long.box).toArray[Any]),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b.map(Long.box).toArray[Any]))
    }
    assert(interp == native.toSeq, "sig_agree_count interpreted eval diverges")
  }

  test("weight_fold == exact BIGINT sum of weights over the bucket array") {
    import spark.implicits._
    val weights = Array.tabulate(64)(i => (i * 2654435761L) - 1000000L)
    val arrays = (0 until 200).map(i =>
      (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(64).toLong))
    val df = arrays.toDF("bk")
    val native = collectCodegen(df, weight_fold(col("bk"), weights))
      .map(_.asInstanceOf[Long])
    val expected = arrays.map(_.map(b => weights(b.toInt)).sum)
    assert(native.toSeq == expected, "weight_fold diverges from the plain sum")
    // interpreted path parity
    val expr = WeightFold(GraftBridge.expression(lit(Array(0L))), weights)
    val interp = arrays.map(a => expr.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray[Any])))
    assert(interp == expected, "weight_fold interpreted eval diverges")
  }
}
