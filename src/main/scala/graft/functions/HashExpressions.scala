package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the sketch/similarity hot loops.
  *
  * Why custom: Spark's higher-order array functions (`transform`/`aggregate`/
  * `zip_with`) evaluate their lambda bodies INTERPRETED, outside whole-stage
  * codegen — a MinHash signature built from 64 nested `aggregate` folds costs two
  * orders of magnitude more than a tight loop. Each sketch here is a single
  * imperative pass per row (a flat Scala loop over primitive arrays in a
  * `compute` method shared by the interpreted eval and the generated code).
  *
  * Real `doGenCode`, not CodegenFallback (r8 directive #2, following the
  * ZOrder64 pattern): CodegenFallback would break whole-stage codegen for the
  * ENCLOSING stage and box the input of every expression around the sketch —
  * these run per-row on the heaviest operators in the repo (every minhash/
  * simhash signature, every cosine). The generated Java makes one virtual call
  * into the expression object (added as a codegen reference); inputs stay
  * unboxed (`ArrayData`/`long`/`double`), outputs are primitive-typed, and the
  * surrounding filter/project pipeline stays fused. HashExprCodegenSpec proves
  * codegen == interpreted bit-for-bit with `spark.sql.codegen.fallback=false`.
  * Semantics match the compositional definitions used by the unit tests;
  * hashes are xxhash64 (same XXH64 core as functions.xxhash64).
  *
  * Measured (QueryTimer, fresh JVMs, interleaved A/B at 10× fixtures, r9):
  * q_doc_minhash_neardup_s −24% (median 1.02 → 0.78 s, consistent across
  * both legs); q_doc_minhash_neardup / q_doc_simhash_neardup(_s) within noise
  * (−1..−2%) — those are dominated by the LSH band shuffle and verify join,
  * not the per-row signature, so fusing the signature stage moves them little.
  */
object HashExpressions {

  private def hashUtf8(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** One-call-into-`compute` codegen shared by every unary sketch expression:
    * the child evaluates inside whole-stage codegen, the sketch loop runs in
    * compiled Scala. `compute`'s JVM signature must match the Janino-side java
    * types (ArrayData/UTF8String in, primitive or ArrayData out).
    */
  sealed trait UnarySketchCodegen extends UnaryExpression {
    protected def refName: String
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj(refName, this, getClass.getName)
        s"${ev.value} = $ref.compute($c);"
      })
  }

  /** MinHash signature: out[i] = min over shingles s of xxhash64(s, seed=i). */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def refName: String = "minhashSig"
    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          val s = arr.getUTF8String(j)
          var i = 0
          while (i < numHashes) {
            val h = hashUtf8(s, i.toLong)
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        j += 1
      }
      new GenericArrayData(sig)
    }
    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  }

  /** Word k-shingles of a `TextFunctions.tokens` array — one imperative pass;
    * the compositional transform/slice/concat_ws form evaluates interpreted
    * lambdas per shingle. Shorter-than-k docs yield one whole-text shingle
    * (matches Dedup.shingles contract).
    */
  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def refName: String = "wordShingles"
    def compute(tokens: ArrayData): ArrayData = {
      val words = tokens.toArray[UTF8String](StringType)
      val n = math.max(words.length - k + 1, 1)
      new GenericArrayData(Array.tabulate[Any](n)(i =>
        UTF8String.concatWs(Space, words.slice(i, i + k): _*)))
    }
    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }
  private val Space = UTF8String.fromString(" ")

  /** LSH band hashes of a MinHash signature (r13): out[b] = xxhash64 of the
    * UTF-8 string "s₁|s₂|…" over band b's signature values rendered as
    * decimal longs — bit-identical to the compositional
    * transform(sequence, b => xxhash64(concat_ws("|", transform(slice(sig,…),
    * cast string)))) it replaces (spec-pinned), which evaluated THREE nested
    * interpreted lambdas per row. One compiled pass; the string bytes are
    * built once per band in a reused builder.
    */
  case class LshBandHashes(child: Expression, bands: Int, rowsPerBand: Int)
      extends UnaryExpression with UnarySketchCodegen {
    require(bands >= 1 && rowsPerBand >= 1, "bands, rowsPerBand >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def refName: String = "lshBandHashes"
    def compute(sig: ArrayData): ArrayData = {
      val out = new Array[Long](bands)
      val sb = new java.lang.StringBuilder(24 * rowsPerBand)
      val n = sig.numElements()
      var b = 0
      while (b < bands) {
        sb.setLength(0)
        var i = b * rowsPerBand
        val end = math.min(i + rowsPerBand, n)
        var first = true
        while (i < end) {
          if (!first) sb.append('|')
          sb.append(sig.getLong(i))
          first = false
          i += 1
        }
        // same seed (42) and byte stream as functions.xxhash64 over the string
        out(b) = hashUtf8(UTF8String.fromString(sb.toString), 42L)
        b += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): LshBandHashes =
      copy(child = c)
  }

  /** Number of agreeing positions of two equal-length long arrays — the
    * MinHash signature-estimate prefilter count, bit-identical to
    * size(filter(zip_with(a, b, ===), x => x)) over equal-length arrays
    * (spec-pinned) but compiled instead of two interpreted lambdas per
    * candidate pair.
    */
  case class SigAgreeCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sig_agree_count needs two array<bigint>, got $other")
      }
    def compute(a: ArrayData, b: ArrayData): Int = {
      val n = math.min(a.numElements(), b.numElements())
      var c = 0
      var i = 0
      while (i < n) {
        if (a.getLong(i) == b.getLong(i)) c += 1
        i += 1
      }
      c
    }
    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Integer.valueOf(compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val ref = ctx.addReferenceObj("sigAgreeCount", this, classOf[SigAgreeCount].getName)
        s"${ev.value} = $ref.compute($l, $r);"
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreeCount =
      copy(left = l, right = r)
  }

  /** 64-bit SimHash over tokens: bit b set iff Σ_tokens (bit b of xxhash64(token)
    * ? +1 : -1) > 0.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = LongType
    override protected def refName: String = "simhash64"
    def compute(arr: ArrayData): Long = {
      val votes = new Array[Int](64)
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          val h = hashUtf8(arr.getUTF8String(j), 42L)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** PORTABLE 60-bit SimHash over tokens: the token hash is the first 15 hex
    * chars of md5(token) as a long (the repo-wide md5-hex portable-hash recipe,
    * see pipeline.Pipeline.portableHash60) so a DuckDB oracle can recompute the
    * IDENTICAL signature with `('0x' || substring(md5(tok),1,15))::BIGINT` —
    * which is what lets the simhash near-dup query be hash-gated rather than
    * rows-only. Bit b (0..59) is set iff Σ_tokens (bit b of h(token) ? +1 : -1)
    * > 0. One imperative pass per row, map-side.
    */
  case class SimHashMd5(child: Expression)
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = LongType
    override protected def refName: String = "simhashMd5"
    // per-thread digest: getInstance per ROW showed up in profiles once the
    // rest of the loop compiled; ThreadLocal because the same expression
    // object can be evaluated concurrently on the interpreted path
    @transient private lazy val mdLocal =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    def compute(arr: ArrayData): Long = {
      val votes = new Array[Int](60)
      val md = mdLocal.get()
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          md.reset()
          val d = md.digest(arr.getUTF8String(j).getBytes)
          // first 15 hex chars = the top 60 bits of the first 8 digest bytes
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          h = h >>> 4
          var b = 0
          while (b < 60) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 60) {
        if (votes(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(c: Expression): SimHashMd5 = copy(child = c)
  }

  /** Signed-random-hyperplane LSH signature for a float/double vector: bit p =
    * sign(Σ_i v_i · r_{p,i}) with r derived from xxhash64(p·k1 ⊕ i) — deterministic,
    * no RNG state, identical across executors/runs.
    */
  case class HyperplaneSig(child: Expression, numPlanes: Int, seed: Int)
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = LongType
    override protected def refName: String = "hyperplaneSig"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_sig needs array<float|double>, got ${child.dataType}")
      }
    // lazy: dataType is only legal on a RESOLVED child — a strict val would throw
    // during analysis when the expression tree is still unresolved
    @transient private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def compute(arr: ArrayData): Long = {
      val n = arr.numElements()
      var sig = 0L
      var p = 0
      while (p < numPlanes) {
        var dot = 0.0
        var i = 0
        while (i < n) {
          val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          // component in [-1,1): hash of (plane, dim) → scaled
          val h = XXH64.hashLong(p.toLong * 1000003L + seed.toLong * 777767777L, i.toLong)
          dot += v * (h.toDouble / Long.MaxValue.toDouble)
          i += 1
        }
        if (dot > 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
  }

  /** Cosine similarity of two numeric vectors with the SAME fold order as
    * zip_with+aggregate (sequential left-to-right double accumulation) so results
    * are bit-identical to the compositional definition — the DuckDB oracle stays
    * valid.
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim needs two array<float|double>, got $other")
      }
    private def isFloat(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    @transient private lazy val fa = isFloat(left)
    @transient private lazy val fb = isFloat(right)
    def compute(a: ArrayData, b: ArrayData): Double = {
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0) 0.0 else dot / denom
    }
    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Double.valueOf(compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSim].getName)
        s"${ev.value} = $ref.compute($l, $r);"
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** Index of the max-cosine centroid for a vector — the IVF cell-assignment
    * hot loop as ONE imperative pass (nCentroids × dim multiply-adds per row).
    * The compositional alternative (crossJoin with the centroid table + a
    * per-vector window argmax) shuffles |corpus|·nCentroids rows; this is a
    * pure map inside the scan stage. Centroids ship inside the expression
    * (tiny: nCentroids·dim doubles — the same data a broadcast would carry).
    */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = IntegerType
    override protected def refName: String = "nearestCentroid"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid needs array<float|double>, got $other")
      }
    @transient private lazy val cNorms: Array[Double] =
      centroids.map(c => math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x)))
    @transient private lazy val isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def compute(a: ArrayData): Int = {
      val n = a.numElements()
      val v = new Array[Double](n)
      var nv = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        v(i) = x; nv += x * x; i += 1
      }
      val vn = math.sqrt(nv)
      var best = 0
      var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < centroids.length) {
        val cv = centroids(c)
        val m = math.min(n, cv.length)
        var dot = 0.0
        var j = 0
        while (j < m) { dot += v(j) * cv(j); j += 1 }
        val denom = vn * cNorms(c)
        val sim = if (denom == 0) 0.0 else dot / denom
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      best
    }
    override def nullSafeEval(input: Any): Any =
      java.lang.Integer.valueOf(compute(input.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(c: Expression): NearestCentroid =
      copy(child = c)
  }

  /** Index of the EUCLIDEAN-nearest centroid (argmin squared L2, ties → lowest
    * index) — the product-quantization assignment metric. Cosine
    * ([[NearestCentroid]]) is wrong for PQ subvectors: it normalizes away the
    * magnitude the codebook must reconstruct. Distances accumulate in one
    * sequential flat loop (deterministic summation order).
    */
  case class NearestCentroidL2(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = IntegerType
    override protected def refName: String = "nearestCentroidL2"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid_l2 needs array<float|double>, got $other")
      }
    @transient private lazy val isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def compute(a: ArrayData): Int = {
      val n = a.numElements()
      val v = new Array[Double](n)
      var i = 0
      while (i < n) {
        v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        i += 1
      }
      var best = 0
      var bestDist = Double.PositiveInfinity
      var c = 0
      while (c < centroids.length) {
        val cv = centroids(c)
        val m = math.min(n, cv.length)
        var d = 0.0
        var j = 0
        while (j < m) { val t = v(j) - cv(j); d += t * t; j += 1 }
        if (d < bestDist) { bestDist = d; best = c }
        c += 1
      }
      best
    }
    override def nullSafeEval(input: Any): Any =
      java.lang.Integer.valueOf(compute(input.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(c: Expression): NearestCentroidL2 =
      copy(child = c)
  }

  /** Flattened per-query ADC lookup table (PQ scoring, Jégou et al. 2011) as
    * ONE expression regardless of m·k: out[s·k + c] =
    * floor(dot(query_sub_s, codebook(s)(c)) · 1e6 + 0.5) as long, with the
    * dot accumulated in the SAME sequential left-to-right order as the
    * compositional slice → zip_with → aggregate chain (bit-parity pinned by
    * IvfIndexSpec). Why custom: the composed form materializes m·k separate
    * slice/zip_with/aggregate subtrees inside one array(...) projection —
    * 32 trees at the test sizes (m=4, k=8) but 2048–4096 at realistic PQ
    * sizes (m=8–16, k=256), where generated code exceeds JIT/Janino method
    * limits and analysis time blows up (r10 ADVICE). Here the tree is one
    * node and the LUT loop is compiled Scala. Codebooks ride inside the
    * expression (m·k·d doubles — the same bytes a broadcast would carry).
    */
  case class AdcLutFlat(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def refName: String = "adcLutFlat"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_lut_flat needs array<float|double>, got $other")
      }
    @transient private lazy val isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def compute(arr: ArrayData): ArrayData = {
      val m = codebooks.length
      val k = codebooks(0).length
      val d = codebooks(0)(0).length
      val n = arr.numElements()
      val q = new Array[Double](n)
      var i = 0
      while (i < n) {
        q(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      val out = new Array[Long](m * k)
      var s = 0
      while (s < m) {
        val base = s * d
        val lim = math.min(d, math.max(0, n - base))
        var c = 0
        while (c < k) {
          val cv = codebooks(s)(c)
          var dot = 0.0
          var j = 0
          while (j < lim) { dot += q(base + j) * cv(j); j += 1 }
          out(s * k + c) = math.floor(dot * 1e6 + 0.5).toLong
          c += 1
        }
        s += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): AdcLutFlat = copy(child = c)
  }

  /** A document's exact-BIGINT ADC score: Σ_s lutFlat[s·k + codes(s)] — the
    * per-corpus-row PQ scoring hot loop as one compiled pass. The composed
    * zip_with(sequence)/element_at/aggregate form evaluates interpreted
    * lambdas per row on the heaviest scan of the ANN path; this is a flat
    * loop over two unboxed arrays. Integer sum ⇒ order-independent and
    * bit-equal to the composed form (IvfIndexSpec pins parity).
    */
  case class AdcFold(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(IntegerType, _), ArrayType(LongType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_fold needs (array<int> codes, array<bigint> lut), got $other")
      }
    def compute(codes: ArrayData, lut: ArrayData): Long = {
      val m = codes.numElements()
      // Bounds are validated, not assumed: with UnsafeArrayData a mismatched
      // k or an out-of-range code would otherwise read out-of-bounds memory
      // and yield garbage ANN scores silently. One comparison per subvector
      // (plus one length check per row) is noise next to the LUT loads.
      if (lut.numElements() != m * k)
        throw new IllegalArgumentException(
          s"adc_fold: lut has ${lut.numElements()} entries, expected m*k = ${m * k} (m=$m, k=$k)")
      var sum = 0L
      var s = 0
      while (s < m) {
        val c = codes.getInt(s)
        if (c < 0 || c >= k)
          throw new IllegalArgumentException(
            s"adc_fold: code $c at subvector $s out of range [0, $k)")
        sum += lut.getLong(s * k + c)
        s += 1
      }
      sum
    }
    override def nullSafeEval(l: Any, r: Any): Any =
      java.lang.Long.valueOf(compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val ref = ctx.addReferenceObj("adcFold", this, classOf[AdcFold].getName)
        s"${ev.value} = $ref.compute($l, $r);"
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcFold =
      copy(left = l, right = r)
  }

  /** `mightContainLong` probe against a serialized
    * `org.apache.spark.util.sketch.BloomFilter`. The filter bytes ride in the
    * serialized plan (shipped to each executor once per stage via the task
    * binary broadcast) — callers bound the size. No false negatives by the
    * Bloom invariant, so a `false` here is a definitive "not in the corpus";
    * used by `Dedup.incrementalExactDedupBloom` to skip the corpus anti-join
    * for the (typically dominant) definitely-new fraction of a batch.
    */
  case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = BooleanType
    override protected def refName: String = "bloomMightContain"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case LongType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain_long needs bigint, got $other")
      }
    @transient private lazy val filter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))
    def compute(h: Long): Boolean = filter.mightContainLong(h)
    override def nullSafeEval(input: Any): Any =
      java.lang.Boolean.valueOf(compute(input.asInstanceOf[Long]))
    override protected def withNewChildInternal(c: Expression): BloomMightContainLong =
      copy(child = c)
  }

  // ---- portable-md5 bucket sketches (r13) ----------------------------------
  //
  // The hashed-feature operators (quality classifier, DSIR) bucket tokens with
  // the repo's PORTABLE hash: pmod(conv(substring(md5(tok),1,15),16,10), n) —
  // the first 60 bits of md5 as a non-negative long, mod n (Pipeline.hex60 /
  // hashBucket). The compositional form pays, per gram: an md5 hex STRING
  // alloc, a substring, a conv() string→long parse — and, worse, forces the
  // per-doc buckets through explode → distinct/groupBy EXCHANGES to get
  // per-doc aggregates. These expressions compute the identical buckets in
  // one compiled pass per row (top 60 bits of the raw digest — no hex
  // detour; bit-parity with hex60 is spec-pinned), and return PER-DOC
  // aggregates directly, so the callers need no corpus-sized shuffle at all.

  /** First 60 bits of md5(bytes) as a non-negative long — identical to
    * Pipeline.hex60: the first 15 hex chars are exactly the top 60 bits of
    * the first 8 digest bytes.
    */
  private def md5Top60(md: java.security.MessageDigest): Long = {
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** SORTED DISTINCT md5-hash buckets of a token array — the per-doc binary
    * presence-feature set of the hashed-BoW classifier, as ONE row-local
    * array instead of an exploded, distinct-shuffled presence table.
    * bucket(tok) = pmod(hex60(tok), buckets), bit-identical to
    * Pipeline.hashBucket (spec-pinned).
    */
  case class Md5BucketSet(child: Expression, buckets: Int)
      extends UnaryExpression with UnarySketchCodegen {
    require(buckets >= 1, "buckets >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def refName: String = "md5BucketSet"
    @transient private lazy val mdLocal =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val md = mdLocal.get()
      val bs = new Array[Long](n)
      var m = 0
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          md.reset()
          md.update(arr.getUTF8String(j).getBytes)
          bs(m) = md5Top60(md) % buckets
          m += 1
        }
        j += 1
      }
      java.util.Arrays.sort(bs, 0, m)
      // dedupe in place (sorted)
      var out = 0
      var i = 0
      while (i < m) {
        if (out == 0 || bs(i) != bs(out - 1)) { bs(out) = bs(i); out += 1 }
        i += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(bs, out))
    }
    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): Md5BucketSet = copy(child = c)
  }

  /** Per-doc md5-bucket INSTANCE COUNTS of unigrams + adjacent bigrams — the
    * DSIR hashed-n-gram profile as one row-local map<bucket,count> (keys
    * ascending) instead of a corpus-wide gram explode + groupBy exchange.
    * Bigram text is `tokᵢ ++ " " ++ tokᵢ₊₁` (byte-identical to
    * concat(a, ' ', b)); bucket = pmod(hex60(gram), buckets), bit-identical
    * to Pipeline.hashBucket over explode(concat(toks, bigrams)) (spec-pinned).
    * Defined for arrays without null elements (split() output).
    */
  case class Md5GramBucketCounts(child: Expression, buckets: Int)
      extends UnaryExpression with UnarySketchCodegen {
    require(buckets >= 1, "buckets >= 1")
    override def dataType: DataType =
      MapType(LongType, LongType, valueContainsNull = false)
    override protected def refName: String = "md5GramBucketCounts"
    @transient private lazy val mdLocal =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    def compute(arr: ArrayData): org.apache.spark.sql.catalyst.util.MapData = {
      val n = arr.numElements()
      val md = mdLocal.get()
      val total = n + math.max(0, n - 1)
      val bs = new Array[Long](total)
      var m = 0
      var prev: Array[Byte] = null
      var j = 0
      while (j < n) {
        val cur = if (arr.isNullAt(j)) null else arr.getUTF8String(j).getBytes
        if (cur != null) {
          md.reset(); md.update(cur)
          bs(m) = md5Top60(md) % buckets; m += 1
        }
        if (j > 0 && prev != null && cur != null) {
          md.reset(); md.update(prev); md.update(' '.toByte); md.update(cur)
          bs(m) = md5Top60(md) % buckets; m += 1
        }
        prev = cur
        j += 1
      }
      java.util.Arrays.sort(bs, 0, m)
      // run-length encode the sorted buckets into (key, count) pairs
      var distinct = 0
      var i = 0
      while (i < m) { if (i == 0 || bs(i) != bs(i - 1)) distinct += 1; i += 1 }
      val keys = new Array[Long](distinct)
      val cnts = new Array[Long](distinct)
      var k = -1
      i = 0
      while (i < m) {
        if (i == 0 || bs(i) != bs(i - 1)) { k += 1; keys(k) = bs(i); cnts(k) = 1L }
        else cnts(k) += 1L
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(keys), new GenericArrayData(cnts))
    }
    override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): Md5GramBucketCounts =
      copy(child = c)
  }

  /** Exact-BIGINT dot of a bucket array against a dense weight vector:
    * Σ_{b ∈ arr} weights(b) — the classifier's per-doc logit as one compiled
    * map-side pass (long addition is order-free, so this is bit-identical to
    * the presence-table join + SUM it replaces). Weights ride inside the
    * expression (≤ `buckets` longs — the same bytes a broadcast would carry).
    */
  case class WeightFold(child: Expression, weights: Array[Long])
      extends UnaryExpression with UnarySketchCodegen {
    override def dataType: DataType = LongType
    override protected def refName: String = "weightFold"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"weight_fold needs array<bigint>, got $other")
      }
    def compute(arr: ArrayData): Long = {
      val n = arr.numElements()
      var s = 0L
      var i = 0
      while (i < n) {
        val b = arr.getLong(i)
        if (b < 0 || b >= weights.length)
          throw new IllegalArgumentException(
            s"weight_fold: bucket $b out of range [0, ${weights.length})")
        s += weights(b.toInt)
        i += 1
      }
      s
    }
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(c: Expression): WeightFold = copy(child = c)
  }

  /** Identity wrapper whose ONLY effect is `deterministic = false` — an
    * evaluation fence for expensive expressions (r12, guide §4.4 applied to
    * JVM expressions): the optimizer inlines a filter on a projected column
    * into whatever sits below it — including a JOIN CONDITION, where the
    * expression is then evaluated once per probe inside the join's stage (and
    * AGAIN in the projection above it). For a per-row cost like a bounded
    * Levenshtein DP or a shingle-array intersect that (a) triples the work
    * and (b) pins it to the join's task layout, which AQE byte-coalescing has
    * already collapsed to 1-2 tasks. Marking the wrapper non-deterministic
    * stops predicate pushdown through its projection and duplicate
    * evaluation, WITHOUT changing the value: the child is deterministic; the
    * flag only pins where (and that exactly once) it runs. Codegen/eval
    * delegate to the child unchanged.
    */
  case class EvalOnceBarrier(child: Expression) extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override lazy val deterministic: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      child.eval(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }
    override protected def withNewChildInternal(c: Expression): EvalOnceBarrier =
      copy(child = c)
  }

  // ---- Column wrappers -----------------------------------------------------

  private def ex(c: Column): Expression = GraftBridge.expression(c)

  /** See [[EvalOnceBarrier]].
    *
    * CONTRACT (r13, VERDICT r12 #4): `deterministic = false` blocks ALL
    * predicate pushdown through the projection — including filters that would
    * legitimately prune partitions or rows below it. Apply it only where the
    * wrapped expression is TERMINAL in its operator (nothing below the
    * projection still benefits from pruning), never underneath a pruning
    * boundary (a partition filter, a selective scan predicate, an index
    * lookup). Every current use site is the last CPU-dense verify step of a
    * dedup/similarity operator, evaluated after all pruning joins/filters.
    */
  def eval_once(c: Column): Column = GraftBridge.column(EvalOnceBarrier(ex(c)))

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(ex(shingles), numHashes))
  /** Word k-shingles of `text`'s `TextFunctions.tokens`. */
  def word_shingles(text: Column, k: Int): Column =
    GraftBridge.column(WordShingles(ex(graft.text.TextFunctions.tokens(text)), k))
  def simhash64(tokens: Column): Column = GraftBridge.column(SimHash64(ex(tokens)))
  def simhash_md5(tokens: Column): Column = GraftBridge.column(SimHashMd5(ex(tokens)))
  def hyperplane_sig(vec: Column, numPlanes: Int, seed: Int): Column =
    GraftBridge.column(HyperplaneSig(ex(vec), numPlanes, seed))
  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(ex(a), ex(b)))
  def nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftBridge.column(NearestCentroid(ex(vec), centroids))
  def nearest_centroid_l2(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftBridge.column(NearestCentroidL2(ex(vec), centroids))
  def lsh_band_hashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftBridge.column(LshBandHashes(ex(sig), bands, rowsPerBand))
  def sig_agree_count(a: Column, b: Column): Column =
    GraftBridge.column(SigAgreeCount(ex(a), ex(b)))
  def md5_bucket_set(tokens: Column, buckets: Int): Column =
    GraftBridge.column(Md5BucketSet(ex(tokens), buckets))
  def md5_gram_bucket_counts(tokens: Column, buckets: Int): Column =
    GraftBridge.column(Md5GramBucketCounts(ex(tokens), buckets))
  def weight_fold(bucketArr: Column, weights: Array[Long]): Column =
    GraftBridge.column(WeightFold(ex(bucketArr), weights))
  def bloom_might_contain_long(hash: Column, bloomBytes: Array[Byte]): Column =
    GraftBridge.column(BloomMightContainLong(ex(hash), bloomBytes))
  def adc_lut_flat(queryVec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(AdcLutFlat(ex(queryVec), codebooks))
  def adc_fold(codes: Column, lutFlat: Column, k: Int): Column =
    GraftBridge.column(AdcFold(ex(codes), ex(lutFlat), k))
}
