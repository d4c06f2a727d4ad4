package graft.dedup

import graft.util.Checkpoints.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, designed shuffle-minimal:
  *
  *  - exact: one hash-groupBy (single shuffle on the fingerprint).
  *  - MinHash+LSH near-dup: shingle → minhash signature (map-side, codegen'd
  *    expressions only) → band → bucket join (shuffle on band keys, NOT an O(n²)
  *    cross join) → exact Jaccard verify on candidates only.
  *  - SimHash: 64-bit signature per doc, map-side.
  *  - n-gram Jaccard: exact pairwise similarity on candidate pairs.
  *
  * All hash functions are xxhash64-derived (codegen'd, deterministic across runs and
  * partitionings — no Math.random / Date seeds).
  */
object Dedup {

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup on normalized text: keeps the row with the smallest `idCol` per
    * fingerprint group (deterministic first-wins; one shuffle).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fp = graft.text.TextFunctions.fingerprint(col(textCol))
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    docs.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** INCREMENTAL exact dedup — the daily-ingest shape: dedupe a NEW batch
    * against the already-ingested corpus without re-processing the corpus.
    * Survivors are batch rows whose normalized-text fingerprint appears nowhere
    * in the corpus, first-wins (min `idCol`) within the batch itself.
    *
    * Scale shape: the corpus side reduces to `DISTINCT fingerprint` and streams
    * through ONE anti-join keyed on the fingerprint — no corpus window, no
    * re-dedup of old data. In production the corpus fingerprint set would be
    * the persisted output of previous runs, making the corpus scan incremental
    * too; pass it via `corpusFingerprints` to skip recomputation.
    */
  def incrementalExactDedup(newBatch: DataFrame, corpus: DataFrame,
                            textCol: String = "text", idCol: String = "doc_id",
                            corpusFingerprints: Option[DataFrame] = None): DataFrame = {
    val fp = graft.text.TextFunctions.fingerprint(col(textCol))
    val seen = corpusFingerprints // caller-provided: any single-column frame
      .map(_.toDF("__fp"))
      .getOrElse(corpus.select(fp.as("__fp")))
      .distinct()
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    newBatch.withColumn("__fp", fp)
      .join(seen, Seq("__fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Persist the corpus-side MinHash artifacts (id, shingles, signature) that
    * [[incrementalNearDup]] otherwise recomputes per call — the "dedup index"
    * a daily pipeline maintains next to the corpus. Append new survivors after
    * each ingest (`mode=append`); band keys are cheap to derive from the
    * signature, so only (id, sh, sig) is stored.
    */
  def writeNearDupIndex(corpus: DataFrame, indexPath: String,
                        textCol: String = "text", idCol: String = "doc_id",
                        k: Int = 3, numHashes: Int = 64,
                        mode: String = "overwrite"): Unit =
    corpus.select(col(idCol), col(textCol))
      .withColumn("__sh", shingles(col(textCol), k))
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes))
      .select(col(idCol), col("__sh"), col("__sig"))
      .write.mode(mode).parquet(indexPath)

  /** [[incrementalNearDup]] against a persisted index written by
    * [[writeNearDupIndex]] — the corpus text is never touched.
    */
  def incrementalNearDupAgainstIndex(newBatch: DataFrame, indexPath: String,
                                     textCol: String = "text", idCol: String = "doc_id",
                                     k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                                     threshold: Double = 0.7,
                                     maxBucket: Int = 1000): DataFrame = {
    val spark = newBatch.sparkSession
    val c = spark.read.parquet(indexPath)
    incrementalNearDupPrepped(
      prepMinHash(newBatch, textCol, idCol, k, numHashes), c,
      idCol, numHashes, bands, threshold, maxBucket)
  }

  /** [[incrementalExactDedup]] with a Bloom prefilter — IDENTICAL output,
    * cheaper probe. The corpus's distinct fingerprints are folded into a
    * Spark-sketch BloomFilter over `xxhash64(fp)`; batch rows the filter
    * definitively rejects skip the corpus anti-join entirely, and only the
    * might-contain fraction (true dups + `fpp` false positives + any 64-bit
    * hash collisions) re-verifies through the exact anti-join. Equal
    * fingerprints map to equal longs, so false NEGATIVES are impossible and
    * collisions only ADD verify work — the result equals the exact operator
    * by construction at any fpp.
    *
    * Scale shape: a 1e9-fingerprint corpus compresses to ~1.2 GB of filter at
    * fpp=0.01 (vs an 8 GB+ broadcast hash set) and ships to each executor once
    * per stage; a mostly-new daily batch then shuffles only its tiny
    * might-contain slice. `maxFilterBytes` refuses a filter too big to ship —
    * fall back to [[incrementalExactDedup]]'s plain anti-join beyond it.
    *
    * Regime (measured by a since-deleted 500 k-doc scale probe,
    * ROUND_NOTES_r6.md): building the filter costs two extra
    * corpus-fingerprint passes, so at broadcast-able corpus sizes the plain
    * anti-join WINS (3.3 s vs 6.9 s). The bloom pays off when the
    * fingerprint set exceeds the broadcast budget but the filter doesn't, or
    * when the filter is reused across daily batches — pass
    * `corpusFingerprints` from the persisted fingerprint table so the build
    * touches only that single column.
    */
  def incrementalExactDedupBloom(newBatch: DataFrame, corpus: DataFrame,
                                 textCol: String = "text", idCol: String = "doc_id",
                                 fpp: Double = 0.01, expectedItems: Long = -1L,
                                 corpusFingerprints: Option[DataFrame] = None,
                                 maxFilterBytes: Long = 256L << 20): DataFrame = {
    val fp = graft.text.TextFunctions.fingerprint(col(textCol))
    // localCheckpoint: the distinct-fingerprint subtree feeds the sizing
    // count, the filter aggregation AND the anti-join — without it the corpus
    // scan + fingerprint + distinct shuffle runs three times
    val seen = corpusFingerprints
      .map(_.toDF("__fp"))
      .getOrElse(corpus.select(fp.as("__fp")))
      .distinct()
      .cutLineage(true)
    val n = if (expectedItems > 0) expectedItems else seen.count()
    val bloom = seen.select(xxhash64(col("__fp")).as("__h"))
      .stat.bloomFilter("__h", math.max(n, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    require(bytes.length <= maxFilterBytes,
      s"bloom filter ${bytes.length}B exceeds maxFilterBytes=$maxFilterBytes " +
        "— use incrementalExactDedup's plain anti-join at this corpus size")
    val batchFp = newBatch.withColumn("__fp", fp)
    val might = graft.functions.HashExpressions
      .bloom_might_contain_long(xxhash64(col("__fp")), bytes)
    val definiteNew = batchFp.filter(!might)
    val maybes = batchFp.filter(might).join(seen, Seq("__fp"), "left_anti")
    // first-wins within the batch: in-batch dups share a fingerprint, so they
    // always take the same bloom branch; ranking after the union keeps the
    // window identical to incrementalExactDedup's regardless of the split
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    definiteNew.unionByName(maybes)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  private def prepMinHash(df: DataFrame, textCol: String, idCol: String,
                          k: Int, numHashes: Int): DataFrame =
    df.select(col(idCol), col(textCol))
      .withColumn("__sh", shingles(col(textCol), k))
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes))
      // r13 (guide §5): the raw text column is dead after the shingle pass —
      // keeping it doubled the checkpoint block size every downstream stage
      // re-reads (localCheckpoint blocks are whole rows, not pruned columns)
      .select(col(idCol), col("__sh"), col("__sig"))
      .cutLineage(true)

  /** Shared core of the incremental near-dup paths: both sides already carry
    * (idCol, __sh, __sig).
    */
  private def incrementalNearDupPrepped(b: DataFrame, c: DataFrame, idCol: String,
                                        numHashes: Int, bands: Int,
                                        threshold: Double, maxBucket: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bBuckets = lshBuckets(b, idCol, "__sig", bands, rowsPerBand)
    val cBuckets = lshBuckets(c, idCol, "__sig", bands, rowsPerBand)
    val oversized = cBuckets.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
      .select("band", "band_hash")
    val candidates = bBuckets
      .join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")
      .select(col("band"), col("band_hash"), col(idCol))
      .join(cBuckets.select(col("band"), col("band_hash"), col(idCol).as("corpus_match_id")),
        Seq("band", "band_hash"))
      .select(col(idCol), col("corpus_match_id")).distinct()
    val w = Window.partitionBy(idCol)
      .orderBy(col("jaccard").desc, col("corpus_match_id"))
    candidates
      .join(b.select(col(idCol), col("__sh").as("__sh_b")), idCol :: Nil)
      .join(c.select(col(idCol).as("corpus_match_id"), col("__sh").as("__sh_c")),
        "corpus_match_id" :: Nil)
      .withColumn("jaccard", round(jaccard(col("__sh_b"), col("__sh_c")), 6))
      .filter(col("jaccard") >= threshold)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("corpus_match_id"), col("jaccard"))
  }

  /** INCREMENTAL near-dup: MinHash-LSH candidates of a new batch against the
    * corpus (batch×corpus only — batch-internal pairs go through
    * [[minhashNearDupPairs]] on the batch alone). Returns batch rows having at
    * least one corpus near-duplicate at `threshold`, as
    * (idCol, corpus_match_id, jaccard) keeping the best-matching corpus doc.
    *
    * Scale shape: the corpus contributes band keys only (in production,
    * persisted from previous runs — recomputed here); the join is
    * collision-proportional, and the exact-verify join touches candidates only.
    */
  def incrementalNearDup(newBatch: DataFrame, corpus: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame =
    incrementalNearDupPrepped(
      prepMinHash(newBatch, textCol, idCol, k, numHashes),
      prepMinHash(corpus, textCol, idCol, k, numHashes),
      idCol, numHashes, bands, threshold, maxBucket)

  // ---- shingling + MinHash -------------------------------------------------

  /** Word k-shingles of normalized text, as an array column. Documents shorter than
    * k tokens contribute their whole text as one shingle. Custom expression — one
    * imperative pass per row.
    */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.HashExpressions.word_shingles(text, k)

  /** MinHash signature: `numHashes` permutations h_i(s) = xxhash64(s, seed=i); the
    * signature element i is min_s h_i(s). A custom Catalyst expression
    * (graft.functions.HashExpressions.MinHashSig): one imperative pass per row —
    * the compositional `aggregate`-fold form runs interpreted per hash function and
    * is ~100× slower in the 100 TB hot path.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int = 64): Column =
    graft.functions.HashExpressions.minhash_sig(shingleArr, numHashes)

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand` and hash
    * each band. Docs sharing any band hash are near-dup candidates.
    * Returns (docId, band, bandHash) — exploded, one row per band.
    */
  def lshBuckets(docs: DataFrame, idCol: String, sigCol: String,
                 bands: Int, rowsPerBand: Int): DataFrame = {
    // r13 (guide §4): compiled band hashes — the compositional
    // transform(sequence, b => xxhash64(concat_ws("|", transform(slice(...)))))
    // ran three nested INTERPRETED lambdas per row (measured ~3 s CPU at 10×);
    // LshBandHashes emits bit-identical xxhash64("s1|s2|…") values
    // (spec-pinned) in one compiled pass.
    val bandArr = graft.functions.HashExpressions
      .lsh_band_hashes(col(sigCol), bands, rowsPerBand)
    docs.select(col(idCol), posexplode(bandArr).as(Seq("band", "band_hash")))
  }

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash+LSH near-duplicate pairs with exact n-gram-Jaccard verification.
    *
    * Pipeline: shingle → minhash sig → band-explode → self-join on (band, band_hash)
    * (id < id to dedupe pairs) → distinct candidate pairs → signature-estimate
    * prefilter → exact Jaccard on the survivors only → threshold filter.
    *
    * The prefilter is the standard estimate-then-verify step: the fraction of
    * agreeing signature components is an unbiased estimate of J with stderr
    * sqrt(J(1−J)/numHashes), so pairs whose estimate falls below
    * threshold − 3·sqrt(threshold(1−threshold)/numHashes) are discarded BEFORE
    * the expensive shingle-array join. Banding at threshold 0.5 with r=2/b=16
    * admits every template-similar pair down to J≈0.1 as a candidate
    * (p = 1−(1−J²)^b is 26% at J=0.15) — measured 115× more candidates than
    * qualifying pairs on the synthetic corpus — and each exact verify
    * intersects two ~300-element string arrays, while the estimate joins two
    * numHashes-Long arrays (≈40× smaller) and is codegen-cheap. A qualifying
    * pair at exactly J=threshold clears the 3σ margin with p≈0.999; the gate
    * fixtures' pairs (J ≥ 0.8) miss with p ≤ 3e-13 — tighter than the 8e-8
    * band-miss bound that already underwrites the hash gate.
    *
    * At 100 TB: the only shuffles are the band-key join, the candidate distinct
    * and the (numHashes·8)-byte signature join — all proportional to data +
    * collisions, never O(n²); the wide shingle join touches only est-survivors.
    * Skewed "empty text" buckets are pre-filtered (band buckets larger than
    * `maxBucket` are dropped, matching standard LSH practice for degenerate keys).
    */
  def minhashNearDupPairs(docs: DataFrame,
                          textCol: String = "text",
                          idCol: String = "doc_id",
                          k: Int = 3,
                          numHashes: Int = 64,
                          bands: Int = 16,
                          threshold: Double = 0.7,
                          maxBucket: Int = 1000,
                          estSigma: Double = 3.0): DataFrame = {
    val rowsPerBand = numHashes / bands
    // localCheckpoint (row-based block storage), NOT .cache(): the columnar cache
    // encodes array columns at ~15× the cost of the compute, while the downstream
    // self-joins would otherwise recompute this subtree ~6 times.
    val withShingles = graft.util.Parallelism.spreadNarrowScan(
        docs.select(col(idCol), col(textCol)))
      .withColumn("__sh", shingles(col(textCol), k))
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes))
      // r13 (guide §5): drop the dead text column before the checkpoint —
      // five downstream stages re-read these blocks (bands, oversized,
      // estimate ×2, verify ×2); whole rows are deserialized each time
      .select(col(idCol), col("__sh"), col("__sig"))
      .cutLineage(true)

    val buckets = lshBuckets(withShingles, idCol, "__sig", bands, rowsPerBand)
    // skew guard: drop degenerate buckets (e.g. empty-text collisions) via a
    // broadcast anti-join on the few oversized keys — no window shuffle
    val oversized = buckets.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
      .select("band", "band_hash")
    val pruned = buckets.join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")
    val l = pruned.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val r = pruned.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // estimate-then-verify: join the small signature arrays first and keep only
    // pairs whose estimated J clears threshold − 3σ, then exact-verify those
    // estSigma widens the estimate margin for corpora dense at the threshold
    // boundary: like banding itself, the prefilter is probabilistic for a
    // pair at EXACTLY J=threshold (miss p ~ 1e-3 at 3 sigma); estSigma=4.5
    // drops that below 1e-5, and estSigma <= 0 DISABLES the prefilter (a
    // zero bound admits every candidate to exact verification)
    val estMin =
      if (estSigma <= 0) 0.0
      else threshold - estSigma * math.sqrt(threshold * (1 - threshold) / numHashes)
    val ga = withShingles.select(col(idCol).as("id_a"), col("__sig").as("sig_a"))
    val gb = withShingles.select(col(idCol).as("id_b"), col("__sig").as("sig_b"))
    val estimated = candidates
      .join(ga, "id_a").join(gb, "id_b")
      // r13 (guide §4): compiled agreement count — the zip_with+filter+size
      // form ran two interpreted lambdas per candidate pair (spec-pinned
      // bit-identical)
      .filter(graft.functions.HashExpressions.sig_agree_count(col("sig_a"), col("sig_b"))
        >= lit(math.ceil(estMin * numHashes).toInt))
      .select("id_a", "id_b")

    val sa = withShingles.select(col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val sb = withShingles.select(col(idCol).as("id_b"), col("__sh").as("sh_b"))
    // r12 (guide §2.5/§7): the exact shingle-intersect verify is CPU-dense
    // per byte, and AQE's byte-based coalescing ran it on 2 tasks at 10×
    // (measured 10 s with 30 cores idle). Explicit repartition-by-num on the
    // deterministic pair key spreads it; row set unchanged.
    // r13: ×1, not the r12 ×4 — the jaccard intersect is ~10-50 µs/pair, so
    // one task per core is granular enough (measured: the two 128-task
    // stages cost ~0.33 s of pure task scheduling at sf0.1 against ~0.2 s of
    // actual CPU; 32 tasks keep 10× verify at ~17 ms/task). editsim keeps ×4:
    // its bounded-Levenshtein DP is ~100× costlier per pair and straggler
    // granularity matters there.
    val verifyParts = estimated.sparkSession.sparkContext.defaultParallelism
    // materialize the (candidate-proportional) pair result and RELEASE the
    // shingle+signature checkpoint promptly (r12, guide §5): returning it
    // lazily pins ~corpus-text-sized blocks until the consumer's GC
    val out = estimated
      .join(sa, "id_a").join(sb, "id_b")
      .repartition(verifyParts, col("id_a"), col("id_b"))
      // eval_once: keeps the intersect out of the join condition (it would
      // run 2× per pair there, on the join's coalesced task layout)
      .withColumn("jaccard", graft.functions.HashExpressions.eval_once(
        round(jaccard(col("sh_a"), col("sh_b")), 6)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .cutLineage()
    withShingles.unpersist(blocking = false)
    out
  }

  /** Benchmark-decontamination check: for every corpus document (NOT matching
    * `probeFilter`), count the distinct word k-grams it shares with ANY probe
    * document (the benchmark set). shared_grams > 0 ⇒ the doc leaks benchmark
    * text and should be dropped from training data — the standard n-gram
    * decontamination step of LLM data pipelines.
    *
    * Scale shape: probe sets (benchmark suites) are tiny next to a 100 TB
    * corpus, so the distinct probe-gram set is BROADCAST and the check is a
    * map-side join inside the corpus scan — no corpus shuffle except the final
    * per-doc aggregation. `broadcastProbes = None` (default) AUTO-selects: a
    * KMV sketch estimates the distinct probe-gram count first and broadcast
    * is chosen only under [[ContaminationAutoBroadcastMaxGrams]] — a giant
    * probe set falls back to a shuffle join (AQE re-plannable) instead of
    * OOMing every executor on a driver-built hash relation. `Some(b)` forces.
    */
  def contamination(docs: DataFrame, probeFilter: Column, k: Int = 5,
                    textCol: String = "text", idCol: String = "doc_id",
                    broadcastProbes: Option[Boolean] = None,
                    autoBroadcastMaxGrams: Long = ContaminationAutoBroadcastMaxGrams
                   ): DataFrame = {
    val g = docs.select(col(idCol), probeFilter.as("__probe"),
      shingles(col(textCol), k).as("__g"))
    val probes0 = g.filter(col("__probe")).select(explode(col("__g")).as("gram")).distinct()
    val doBroadcast = broadcastProbes.getOrElse {
      // KMV over the probe grams: one small job over the PROBE side only
      // (never the corpus); ±2% at k=1024 is plenty for a 16× size margin
      val est = graft.pipeline.Pipeline
        .kmvDistinct(g.filter(col("__probe")).select(explode(col("__g")).as("gram")),
          col("gram"), k = 1024)
        .collect()(0).getAs[Long]("est_distinct")
      est <= autoBroadcastMaxGrams
    }
    val probes = if (doBroadcast) broadcast(probes0) else probes0
    g.filter(!col("__probe"))
      .select(col(idCol), explode(col("__g")).as("gram"))
      .join(probes, "gram")
      .groupBy(col(idCol))
      .agg(countDistinct("gram").as("shared_grams"))
  }

  /** Auto-broadcast bound for [[contamination]]: ~4M distinct k-grams ≈ a few
    * hundred MB as a broadcast hash relation (40-60 B/gram string + overhead) —
    * the upper end of what a 4-8 GB executor comfortably holds. Benchmark
    * probe suites are orders of magnitude below this; web-scale probe sets
    * (e.g. decontaminating against an entire eval CORPUS) blow past it.
    */
  val ContaminationAutoBroadcastMaxGrams: Long = 4000000L

  /** Duplicated-passage ratio (ExactSubstr-style signal, Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"): for every doc,
    * the fraction of its `windowTokens`-token sliding windows (stride 1) that
    * also occur in at least one OTHER document. High ratio = the doc is largely
    * stitched from corpus-duplicated passages; pipelines drop or trim such docs.
    *
    * Output: (idCol, n_windows, n_dup, dup_ratio) — ratio µ-rounded for
    * cross-engine float determinism. Docs shorter than `windowTokens` tokens are
    * excluded (no full window exists).
    *
    * Scale shape: windows are generated map-side (custom one-pass shingle
    * expression); the corpus-wide window→doc-count aggregation and the join back
    * are both keyed on the 128-bit window-content hash ([[winKeyCols]]) —
    * 16-byte shuffle keys instead of raw 16-token strings (~13× corpus bytes),
    * collision-proportional, never O(n²).
    */
  def duplicatedPassageRatio(docs: DataFrame, windowTokens: Int = 16,
                             textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame = {
    val eligible = docs
      .filter(graft.text.TextFunctions.tokenCount(col(textCol)) >= windowTokens)
    // one row per window POSITION (intra-doc repeats keep their positions);
    // the string itself is dropped map-side — only the 16-byte key shuffles
    val positions = eligible
      .select(col(idCol), explode(shingles(col(textCol), windowTokens)).as("__w"))
      .select(col(idCol) +: winKeyCols(col("__w")): _*)
    // #distinct docs containing each window; only multi-doc windows matter, and
    // only their keys are needed — prune before the join back
    val multiDoc = positions.distinct()
      .groupBy(WinKeyNames.map(col): _*).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
      .select(WinKeyNames.map(col): _*)
    val micro = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    positions
      .join(multiDoc.withColumn("__dup", lit(1L)), WinKeyNames, "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum("__dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        micro(col("n_dup").cast("double") / col("n_windows").cast("double")))
  }

  /** Column names of the 128-bit window-content shuffle key. */
  private[dedup] val WinKeyNames = Seq("__h1", "__h2")

  /** 128-bit content key of a window string as TWO independent xxhash64
    * streams (the second prepends a constant salt column, which changes the
    * hashed byte stream — an independent 64 bits). Keying the corpus-wide
    * window aggregations and join-backs on these 16 bytes instead of the
    * L-token string cuts exchange volume ~13× at L=13 (r10 VERDICT #1);
    * 128 bits keeps EXACTNESS past birthday-bound collisions at 100 TB token
    * counts — 64 bits alone reaches ~50% collision odds near 2³² distinct
    * windows, and a collision would silently merge two different passages.
    */
  private[dedup] def winKeyCols(w: Column): Seq[Column] = Seq(
    xxhash64(w).as("__h1"), xxhash64(lit("graft-win-2"), w).as("__h2"))

  // ---- dedup clustering ----------------------------------------------------

  /** Connected components over near-duplicate PAIRS — the step that turns
    * pairwise matches into dedup groups (keep one representative per group,
    * drop the rest). Min-label propagation with POINTER JUMPING: every vertex
    * starts as its own label; each round (a) joins labels across edges and
    * keeps the minimum, then (b) shortcuts label := label(label). Labels are
    * monotone non-increasing and stay inside the component, and the shortcut
    * roughly squares the distance a label has travelled, so convergence is
    * O(log diameter) rounds — 2-3 for the shallow dup-ring graphs near-dup
    * clusters form, and ~15 even for an adversarial 10⁴-vertex path graph
    * (spec-proven) where plain propagation would need 10⁴ rounds. Each round
    * is two shuffle joins + one aggregation; `localCheckpoint` truncates the
    * growing lineage. At the propagation fixpoint labels are constant per
    * component (edges are symmetric), so the shortcut is the identity there —
    * the converged result is exactly the plain-propagation answer.
    *
    * Input: two id columns (undirected edges). Output: (idCol, component) for
    * every vertex that appears in at least one edge, where component = the
    * minimum id reachable from the vertex (the group representative).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIters: Int = 50,
                          outCol: String = "doc_id"): DataFrame = {
    // r12 (guide §1.2): both edge directions from ONE evaluation of the pairs
    // subtree (an explode of the two orientations) — the old two-branch union
    // computed the (often expensive — cross-join + intersect) pairs input
    // twice inside the same job
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .cutLineage(true)
    // r12 job-fusion (guide §1.2): the initial label table and each round's
    // pointer-jump join are LAZY checkpoints — round i's label-propagation
    // job computes them, persists them (checkpoint-on-first-compute) and
    // aggregates, so a round is ONE job instead of two. Unpersists lag one
    // materialization (a lazy checkpoint cannot recompute once its parent's
    // blocks are dropped). Same rounds, same arithmetic, same fixpoint.
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .cutLineage(false)
    val labelType = labels.schema("label").dataType
    var converged = false
    var iter = 0
    var prevLabels: Option[DataFrame] = None // materialized predecessor
    while (!converged && iter < maxIters) {
      // candidate labels: own + every neighbor's current label. Self rows also
      // carry the previous label as __old (exactly one self row per vertex), so
      // min(label) vs max(__old) yields new-vs-old per vertex WITHOUT the extra
      // convergence join+count job: the changed-count is observed as a metric of
      // the SAME job that materializes the round's labels — one job per round,
      // not two.
      val viaEdges = edges
        .join(labels.withColumnRenamed("v", "dst"), "dst")
        .select(col("src").as("v"), col("label"),
          lit(null).cast(labelType).as("__old"))
      val obs = new org.apache.spark.sql.Observation()
      val next = labels.select(col("v"), col("label"), col("label").as("__old"))
        .union(viaEdges)
        .groupBy("v").agg(min("label").as("label"), max("__old").as("__old"))
        .observe(obs,
          sum(when(col("label") =!= col("__old"), 1L).otherwise(0L)).as("changed"))
        .select("v", "label")
        .cutLineage(true)
      // empty vertex set aggregates to no rows → SUM is null → converged
      val changed = Option(obs.get.getOrElse("changed", null))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      converged = changed == 0
      // `next` is materialized now; the labels that fed it (and their own
      // lazily-materialized parent) are safe to release
      prevLabels.foreach(_.unpersist(blocking = false))
      prevLabels = Some(labels)
      labels =
        if (converged) next
        else {
          // pointer jumping: label := label(label). Sound because labels are
          // monotone (label(v) ≤ v by induction) and component-local; left
          // join + coalesce keeps vertices whose label row is themselves.
          // LAZY: the next round's propagation job computes + persists it.
          val jump = next.select(col("v").as("__jv"), col("label").as("__jl"))
          next.join(jump, col("label") === col("__jv"), "left")
            .select(col("v"), coalesce(col("__jl"), col("label")).as("label"))
            .cutLineage(false)
        }
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("v").as(outCol), col("label").as("component"))
  }

  /** Canonical-document selection — the "which copy do we KEEP" endpoint of a
    * dedup pipeline: given near-dup clusters ([[connectedComponents]] output)
    * and a per-document score (e.g. TextFunctions.qualityScore), keep the
    * best-scoring member of each cluster, ties broken by smallest id so the
    * choice is deterministic. One row per cluster: representative id, size,
    * and the kept score.
    *
    * Scale shape: one shuffle keyed on component for the per-cluster window;
    * near-dup clusters are small by construction (bounded by duplication
    * multiplicity, never corpus size), so no group outgrows a task.
    */
  def keepBestPerCluster(clusters: DataFrame, scored: DataFrame,
                         scoreCol: String = "quality",
                         idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy("component")
    val joined = clusters.join(scored, idCol)
    joined
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(col(scoreCol).desc, col(idCol))))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter(col("__rn") === 1)
      .select(col("component"), col(idCol).as(s"kept_$idCol"),
        col("cluster_size"), col(scoreCol).as(s"kept_$scoreCol"))
      .orderBy("component")
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting" — the MOSS algorithm):
    * hash every word k-gram, slide a window of `w` consecutive hashes, and
    * select the MINIMUM in each window (ties broken by leftmost position);
    * the union of selections is the document's fingerprint sketch.
    * Guarantee: any shared run of ≥ w+k-1 tokens contributes at least one
    * shared fingerprint; expected density is 2/(w+1) of the k-grams — a
    * sketch that shrinks storage ~(w+1)/2× while preserving local-match
    * detection, the classic rolling-hash fingerprint for plagiarism /
    * near-dup detection.
    *
    * Portability: the k-gram hash is the first 15 md5 hex chars; the window
    * SELECTION key is the fixed-width string `hash-pos` (lexicographic
    * min == (hash asc, pos asc) — position only breaks hash ties, exactly the
    * paper's rule), and DuckDB reproduces the sketch exactly. The returned
    * `fp` column is the HASH ALONE: that is what makes the guarantee hold
    * across documents, where the same shared run sits at different offsets.
    * Docs with fewer than w k-grams yield one fingerprint (the min of all).
    *
    * Scale shape: one shuffle on doc_id for the per-doc ordered windows;
    * window length is bounded by DOC length, never corpus size.
    */
  def winnowingFingerprints(docs: DataFrame,
                            k: Int = 5, w: Int = 4,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    require(w >= 1, s"window must be >= 1: $w")
    val grams = docs.select(col(idCol),
      posexplode(shingles(col(textCol), k)).as(Seq("__pos", "__g")))
    val keyed = grams.withColumn("__key",
      concat(substring(md5(col("__g")), 1, 15), lit("-"),
        lpad(col("__pos").cast("string"), 6, "0")))
    val perDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val sliding = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy("__pos").rowsBetween(0, w - 1)
    keyed
      .withColumn("__ng", count(lit(1)).over(perDoc))
      .withColumn("__fp", min("__key").over(sliding))
      .filter(col("__pos") <= greatest(col("__ng") - w, lit(0))) // full windows only
      .select(col(idCol), substring(col("__fp"), 1, 15).as("fp"))
      .distinct()
  }

  /** Passage-level dedup TRANSFORM (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): remove every duplicated
    * `windowTokens`-token span from the corpus, keeping the FIRST occurrence
    * (smallest (doc_id, start) — deterministic). A token is dropped when any
    * duplicate window instance covers it; the first instance's tokens stay
    * unless a different duplicate window overlaps them. Output per doc:
    * whitespace-normalized kept text + kept/removed counts. Window equality
    * is over lowercased tokens (the corpus-wide shingle convention); kept
    * text preserves original case.
    *
    * Scale shape: shuffles are (1) the window-key aggregation for first
    * occurrences, (2) the join back, (3) the per-doc reassembly — all linear
    * in corpus size + duplicate mass, never all-pairs, and (1)/(2) are keyed
    * on the 128-bit content hash ([[winKeyCols]], 16 B/row through the
    * exchange instead of the L-token string — r10 VERDICT #1). Per-doc token
    * arrays are bounded by doc length (collect_list is per-doc, not
    * per-corpus).
    */
  def removeDuplicatedPassages(docs: DataFrame,
                               windowTokens: Int = 13,
                               textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
    // window instances at each start position (lowercased content key);
    // struct (doc_id, start) is the first-occurrence order key — true
    // lexicographic order at ANY doc length (the old doc_id·10⁶+start
    // encoding silently mis-ordered docs past 10⁶ tokens; the DuckDB oracle's
    // identical encoding stays equivalent because fixture positions < 10⁶)
    val wins = docs
      .filter(graft.text.TextFunctions.tokenCount(col(textCol)) >= windowTokens)
      .select(col(idCol),
        posexplode(shingles(col(textCol), windowTokens)).as(Seq("__start", "__w")))
      .select(Seq(col(idCol), col("__start"),
        struct(col(idCol), col("__start")).as("__key")) ++ winKeyCols(col("__w")): _*)
    val firsts = wins.groupBy(WinKeyNames.map(col): _*).agg(min("__key").as("__first"))
    val removedPos = wins.join(firsts, WinKeyNames)
      .filter(col("__key") > col("__first"))
      .select(col(idCol),
        explode(sequence(col("__start"), col("__start") + (windowTokens - 1))).as("__pos"))
      .distinct()
    val tokPos = toks.select(col(idCol), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    val kept = tokPos.join(removedPos, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok"))).as("kept_text"),
        count(lit(1)).as("n_kept"))
    toks.select(col(idCol), size(col("__toks")).cast("long").as("__n"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Exact-substring duplicated-span EXTENTS — the suffix-array-family
    * operator of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better", the ExactSubstr tool): every MAXIMAL span of
    * consecutive tokens, ≥ `minTokens` long, all of whose `minTokens`-token
    * windows occur at ≥2 positions corpus-wide (within- OR cross-document —
    * the paper counts both). A duplicated substring of length M ≥ L covers
    * exactly M−L+1 duplicated window starts, and consecutive duplicated
    * starts merge back into one maximal span (gaps-and-islands), so this
    * reports the same extents a suffix-array scan over the concatenated
    * corpus reports — including the paper's union behavior where two
    * overlapping duplicated substrings yield one merged removal span.
    * [[removeDuplicatedPassages]] is the companion TRANSFORM (keep-first
    * removal at window granularity); this is the finder that exposes the
    * spans themselves (audit, trimming policies, per-span stats).
    *
    * Output: (idCol, span_start, span_end, span_tokens) with 0-based
    * inclusive token positions, one row per maximal duplicated span.
    *
    * Scale shape — the "sort volume" the suffix-array literature pays in
    * RAM, re-expressed as shuffles: (1) ONE window explode, O(total tokens)
    * rows, the window STRING dropped map-side for the 128-bit content hash
    * ([[winKeyCols]]); (2) the duplicate test is one aggregation shuffle
    * keyed on those 16 bytes — not L-token strings (~13× corpus bytes at
    * L=13, the r10 VERDICT #1 exchange); (3) the join back on the same key
    * touches only window instances, and the pre-join `__n ≥ 2` filter drops
    * the unique mass (the overwhelming majority) before any further
    * movement; (4) span merging is one per-doc sort window. Nothing is
    * all-pairs; the driver materializes nothing.
    */
  def exactSubstrSpans(docs: DataFrame, minTokens: Int = 13,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1: $minTokens")
    // spreadNarrowScan (r12, guide §2.5): the shingle explode + double-hash
    // window keys are the CPU-dense pass here; a single-row-group input would
    // run it on one task. No-op on many-file tables.
    val wins = graft.util.Parallelism.spreadNarrowScan(docs)
      .filter(graft.text.TextFunctions.tokenCount(col(textCol)) >= minTokens)
      .select(col(idCol),
        posexplode(shingles(col(textCol), minTokens)).as(Seq("__start", "__w")))
      .select(Seq(col(idCol), col("__start")) ++ winKeyCols(col("__w")): _*)
    // window contents occurring at ≥2 (doc, start) positions anywhere
    val dupKeys = wins.groupBy(WinKeyNames.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(WinKeyNames.map(col): _*)
    val marked = wins.join(dupKeys, WinKeyNames).select(col(idCol), col("__start"))
    // gaps-and-islands: consecutive duplicated starts share (start − row#)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy("__start")
    marked
      .withColumn("__grp", col("__start") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("__start").as("__s"), max("__start").as("__e"))
      .select(col(idCol),
        col("__s").cast("long").as("span_start"),
        (col("__e") + (minTokens - 1)).cast("long").as("span_end"),
        (col("__e") - col("__s") + minTokens).cast("long").as("span_tokens"))
  }

  // ---- SimHash -------------------------------------------------------------

  /** 64-bit SimHash over word tokens: bit b of the signature is 1 iff
    * Σ_tokens (bit b of xxhash64(token) ? +1 : -1) > 0. Custom expression — one
    * imperative pass per row (map-side, no shuffle).
    */
  def simhash(text: Column): Column = {
    val tokens = split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")
    graft.functions.HashExpressions.simhash64(tokens)
  }

  /** Hamming distance between two 64-bit signatures (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Portable 60-bit md5 SimHash (see HashExpressions.SimHashMd5): identical
    * signature is computable in DuckDB SQL, which is what lets the near-dup
    * query below be oracle hash-gated.
    */
  def simhashMd5(text: Column): Column = {
    val tokens = split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")
    graft.functions.HashExpressions.simhash_md5(tokens)
  }

  /** EXACT SimHash near-dup pairs over the portable 60-bit signature: banded
    * into `nBlocks` sub-blocks with nBlocks > maxHamming, so by pigeonhole any
    * pair within `maxHamming` agrees exactly on ≥1 block — recall is PROVABLY
    * 1.0 (not probabilistic), and the verified output equals the brute-force
    * all-pairs answer, which is what lets it be oracle-gated. Scale shape:
    * block-key equi-join, collision-proportional, never O(n²); smaller
    * blocks trade more candidates for guaranteed recall.
    */
  def simhashNearDupPairsExact(docs: DataFrame,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               maxHamming: Int = 3): DataFrame = {
    // mirror of winnowingFingerprints' require: out-of-range maxHamming would
    // otherwise surface as nBlocks <= 0 (division by zero) or a degenerate
    // zero-bit block mask rather than a clear error
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming must be in [0, 60): $maxHamming")
    val nBlocks = maxHamming + 1
    val bits = 60 / nBlocks // 60-bit portable sig split evenly
    val sigs = graft.util.Parallelism.spreadNarrowScan(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol), simhashMd5(col(textCol)).as("sig"))
      .cutLineage(true)
    val blocks = sigs.select(col(idCol), col("sig"),
      posexplode(array((0 until nBlocks).map(b =>
        shiftright(col("sig"), b * bits).bitwiseAND((1L << bits) - 1)): _*))
        .as(Seq("block", "block_val")))
    val l = blocks.select(col("block"), col("block_val"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val r = blocks.select(col("block"), col("block_val"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("hamming"))
      // hamming filter BEFORE the pair distinct (r12, guide §2.3): block
      // collisions between non-near docs grow ~quadratically with corpus
      // size, and the old shape shipped every colliding pair through the
      // distinct exchange only to drop the far ones after it. hamming is
      // deterministic per (id_a, id_b), so distinct∘filter ≡ filter∘distinct
      // — identical pair set (oracle re-proven), but the exchange now carries
      // only pairs actually within maxHamming.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact EDIT-DISTANCE verification of near-duplicate candidates — the
    * fine-grained confirm stage fuzzy-dedup pipelines run after a cheap sketch
    * pass (e.g. CodeParrot/The-Stack-style near-dup verification): candidates
    * come from the provably-exact simhash banding ([[simhashNearDupPairsExact]],
    * pigeonhole recall 1.0 within `maxHamming`), and a pair is verified when
    *
    *   editSim = 1 − lev(a,b) / max(len(a), len(b)) ≥ simNum/simDen
    *
    * evaluated ENTIRELY in integers (`lev·simDen ≤ (simDen−simNum)·maxLen`),
    * so the verified pair set is bit-identical across engines/partitionings.
    * Texts are compared in the same `lower(trim(...))` form the signature
    * hashes, so the sketch and the verify stage see one normalization.
    *
    * Scale shape: the candidate set is collision-proportional (never O(n²));
    * a necessary-condition length prefilter (`lev ≥ |lenA−lenB|`) drops
    * incompatible pairs before any DP runs, and the DP itself uses Spark's
    * bounded 3-arg `levenshtein` so a clear miss exits after the band of
    * width `(1−τ)·maxLen` instead of filling the full matrix. Per-pair cost
    * is O(maxLen²) worst case — bounded by the candidate count, not corpus
    * size, which is why the verify belongs AFTER banding, never before.
    */
  def editSimNearDupPairs(docs: DataFrame,
                          textCol: String = "text",
                          idCol: String = "doc_id",
                          maxHamming: Int = 3,
                          simNum: Int = 80,
                          simDen: Int = 100): DataFrame = {
    require(simDen > 0 && simNum >= 0 && simNum <= simDen,
      s"similarity threshold must be a fraction in [0,1]: $simNum/$simDen")
    val candidates = simhashNearDupPairsExact(docs, textCol, idCol, maxHamming)
      .select("id_a", "id_b")
    val norm = docs.select(col(idCol), lower(trim(col(textCol))).as("__t"))
    val ta = norm.select(col(idCol).as("id_a"), col("__t").as("__ta"),
      length(col("__t")).cast("long").as("len_a"))
    val tb = norm.select(col(idCol).as("id_b"), col("__t").as("__tb"),
      length(col("__t")).cast("long").as("len_b"))
    val missNum = simDen - simNum // numerator of the allowed-miss fraction
    val joined = candidates.join(ta, "id_a").join(tb, "id_b")
      .withColumn("max_len", greatest(col("len_a"), col("len_b")))
      // necessary condition (lev >= |lenA-lenB|): integer cross-multiplication
      .filter(abs(col("len_a") - col("len_b")) * simDen <= col("max_len") * missNum)
    // bounded DP: distance > floor(missNum*maxLen/simDen) returns -1 (early
    // exit after a band of width bound+1 instead of the full matrix); the
    // 3-arg functions.levenshtein only takes a constant Int, but the
    // underlying expression accepts a per-row threshold child
    val bound = floor(col("max_len") * missNum / simDen).cast("int")
    val boundedLev = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.Levenshtein(
        org.apache.spark.sql.GraftBridge.expression(col("__ta")),
        org.apache.spark.sql.GraftBridge.expression(col("__tb")),
        Some(org.apache.spark.sql.GraftBridge.expression(bound))))
    // r12 (guide §2.5/§7): the DP stage is ~10³× more CPU per byte than a
    // typical row, and AQE's byte-based partition coalescing (and a broadcast
    // text side) would run it on 1-2 tasks — measured 11.3 s single-task at
    // 10× with 31 cores idle. An EXPLICIT partition count (AQE never
    // coalesces repartition-by-num) keyed on the deterministic pair id
    // spreads the DP; ~4 waves per core balances uneven per-pair DP cost.
    // Row set and arithmetic unchanged.
    val dpParts = joined.sparkSession.sparkContext.defaultParallelism * 4
    joined
      .repartition(dpParts, col("id_a"), col("id_b"))
      // eval_once: without the fence the lev-filter below is inlined into the
      // candidate JOIN CONDITION — the DP then runs 2-3× per pair inside the
      // join's (AQE-collapsed) stage instead of once here
      .withColumn("lev",
        graft.functions.HashExpressions.eval_once(boundedLev.cast("long")))
      .filter(col("lev") >= 0 && col("lev") * simDen <= col("max_len") * missNum)
      .select("id_a", "id_b", "lev", "max_len")
  }

  // ---- embedding near-dup --------------------------------------------------

  /** Embedding-cosine near-duplicate pairs above `threshold`, via the similarity
    * module's LSH-bucketed join (see graft.sim.Similarity.cosineNearDupPairs).
    */
  def embeddingNearDupPairs(embeddings: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            threshold: Double = 0.95): DataFrame =
    graft.sim.Similarity.cosineNearDupPairs(embeddings, idCol, vecCol, threshold)
}
