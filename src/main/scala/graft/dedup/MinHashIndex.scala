package graft.dedup

import graft.util.Checkpoints.CheckpointOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MATERIALIZED MinHash-LSH near-duplicate index — the dedup analog of
  * [[graft.sim.IvfIndex]]. [[Dedup.minhashNearDupPairs]] re-shingles and
  * re-bands the WHOLE corpus on every run (right for one-shot dedup); this
  * writes the corpus's band buckets and signatures ONCE so that a daily ingest
  * batch probes the index instead of re-LSHing 100 TB of already-indexed text.
  * (The reference's dedup surface is one-shot only; incremental probing is a
  * flagged extension, like `IvfIndex` is for ANN.)
  *
  * This is the system's one incremental near-dup path (the
  * `q_doc_minhash_index_probe` query, `StreamingDedup` and the soak run it):
  * band keys are materialized into a partition-pruned layout so probe I/O is
  * proportional to the batch, and shingle arrays (≈ text-sized) are NOT
  * stored — verification re-reads only candidate docs from the corpus table.
  *
  * Layout under `indexRoot`:
  *  - `params/`  one row: (k, num_hashes, bands, n_parts, max_bucket) — probes
  *    MUST shingle/hash identically to the build, so the build pins them.
  *  - `sigs/`    (doc_id, sig) — the signature-estimate prefilter side.
  *  - `buckets/` (band, band_hash, doc_id), written partitioned by
  *    `bh_part = pmod(band_hash, n_parts)` and hash-clustered so each
  *    partition is one file (the IvfIndex write discipline).
  *
  * Scale shape of a probe: the batch's own band hashes select which `bh_part`
  * partitions exist in the plan — PLANNING-time partition pruning, so a small
  * batch touches |batch band keys| of `n_parts` corpus partitions, not the
  * corpus. The exact-verify step recomputes shingles ONLY for corpus docs that
  * survive the signature estimate (a semi-join against the corpus table), so
  * corpus text is re-read proportionally to candidates, never scanned.
  *
  * Oversized buckets (degenerate keys — empty text, boilerplate) are dropped
  * at BUILD time (> `maxBucket` docs), mirroring the skew guard in
  * [[Dedup.minhashNearDupPairs]]; standard LSH practice.
  */
object MinHashIndex {

  private def paramsPath(root: String) = s"$root/params"
  private def sigsPath(root: String) = s"$root/sigs"
  private def bucketsPath(root: String) = s"$root/buckets"
  private def prunedPath(root: String) = s"$root/pruned"

  final case class Params(k: Int, numHashes: Int, bands: Int, nParts: Int,
                          maxBucket: Int) {
    def rowsPerBand: Int = numHashes / bands
  }

  /** One corpus scan → signatures + pruned band buckets, materialized. */
  def build(docs: DataFrame, indexRoot: String,
            textCol: String = "text", idCol: String = "doc_id",
            k: Int = 3, numHashes: Int = 64, bands: Int = 16,
            nParts: Int = 256, maxBucket: Int = 1000): Unit = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val spark = docs.sparkSession
    invalidate(spark, indexRoot) // a rebuild replaces every artifact
    val p = Params(k, numHashes, bands, nParts, maxBucket)

    spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(p.k, p.numHashes, p.bands, p.nParts, p.maxBucket)), 1),
        StructType(Seq("k", "num_hashes", "bands", "n_parts", "max_bucket")
          .map(StructField(_, IntegerType, nullable = false))))
      .write.mode("overwrite").parquet(paramsPath(indexRoot))

    // localCheckpoint: sigs write + bucket write + oversized agg reuse this
    // subtree; the columnar cache re-encodes the array columns at ~15x the
    // compute cost (same measurement as minhashNearDupPairs).
    val withSig = graft.util.Parallelism.spreadNarrowScan(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .withColumn("__sh", Dedup.shingles(col("__text"), k))
      .withColumn("sig", Dedup.minhashSignature(col("__sh"), numHashes))
      // r13 (guide §5): only (doc_id, sig) is consumed downstream (sigs
      // write + bucket write + oversized agg) — text and shingles in the
      // checkpoint tripled the block bytes every consumer re-read
      .select(col("doc_id"), col("sig"))
      .cutLineage(true)

    withSig.select("doc_id", "sig").write.mode("overwrite").parquet(sigsPath(indexRoot))

    val buckets = Dedup.lshBuckets(withSig, "doc_id", "sig", bands, p.rowsPerBand)
    val oversized = buckets.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
      .select("band", "band_hash")
    // dropped keys are TOMBSTONED, not just omitted: append() must not
    // silently re-populate a key the build pruned, and probe() must ignore
    // any rows a later append tombstoned in place
    oversized.write.mode("overwrite").parquet(prunedPath(indexRoot))
    buckets.join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")
      .withColumn("bh_part", pmod(col("band_hash"), lit(nParts)).cast("int"))
      .repartition(nParts, col("bh_part"))
      .write.mode("overwrite").partitionBy("bh_part").parquet(bucketsPath(indexRoot))
    invalidate(spark, indexRoot) // drop listings cached mid-build
  }

  /** Shingle + sign a new batch (e.g. a probe's dedup survivors) and APPEND
    * its signatures and band buckets — the steady-state write path between
    * rebuilds, mirroring [[graft.sim.IvfIndex.append]]. Params are read from
    * the index, so the appended rows hash identically to the build.
    *
    * The oversized-bucket guard counts OLD + NEW rows per touched key (the
    * old side read partition-pruned to the new keys' `bh_part`s): a key the
    * build tombstoned stays dead, and a key that crosses `maxBucket` through
    * this append is tombstoned from here on — its already-written rows stay
    * on disk but [[probe]] excludes them, so probe-after-append equals a
    * fresh rebuild over the union (spec-pinned) in both directions.
    */
  def append(newDocs: DataFrame, indexRoot: String,
             textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = newDocs.sparkSession
    val p = readParams(spark, indexRoot)
    // Idempotence guard: a doc_id already in the index is skipped — without
    // this, a re-appended batch writes duplicate sigs/bucket rows and every
    // later probe emits duplicate (batch_id, corpus_id) pairs. Cost: one
    // column-pruned scan of sigs/ doc_ids anti-joined against the (small)
    // batch — proportional to the corpus ID column, not its text.
    val existing = spark.read.parquet(sigsPath(indexRoot)).select("doc_id")
    val withSig = newDocs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(existing, Seq("doc_id"), "left_anti")
      .withColumn("__sh", Dedup.shingles(col("__text"), p.k))
      .withColumn("sig", Dedup.minhashSignature(col("__sh"), p.numHashes))
      // r13 (guide §5): only (doc_id, sig) is consumed downstream
      .select(col("doc_id"), col("sig"))
      .cutLineage(true)
    withSig.select("doc_id", "sig").write.mode("append").parquet(sigsPath(indexRoot))
    val priorPruned = pruned(spark, indexRoot)
    val buckets = Dedup.lshBuckets(withSig, "doc_id", "sig", p.bands, p.rowsPerBand)
      .join(broadcast(priorPruned), Seq("band", "band_hash"), "left_anti")
      .withColumn("bh_part", pmod(col("band_hash"), lit(p.nParts)).cast("int"))
      .cutLineage(true)
    val newCounts = buckets.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__new"))
    val touchedParts = buckets.select("bh_part").distinct()
      .collect().map(_.getInt(0)).toSeq
    val oldCounts = probedBuckets(spark, indexRoot, touchedParts)
      .join(newCounts.select("band", "band_hash"), Seq("band", "band_hash"),
        "left_semi")
      .groupBy("band", "band_hash").agg(count(lit(1)).as("__old"))
    val nowOversized = newCounts
      .join(oldCounts, Seq("band", "band_hash"), "left_outer")
      .filter(col("__new") + coalesce(col("__old"), lit(0L)) > p.maxBucket)
      .select("band", "band_hash")
      .cutLineage(true)
    nowOversized.write.mode("append").parquet(prunedPath(indexRoot))
    buckets.join(broadcast(nowOversized), Seq("band", "band_hash"), "left_anti")
      .repartition(p.nParts, col("bh_part"))
      .write.mode("append").partitionBy("bh_part").parquet(bucketsPath(indexRoot))
    // appended files change the listings — probes must re-list
    forget(spark, bucketsPath(indexRoot), sigsPath(indexRoot), prunedPath(indexRoot))
  }

  private val prunedSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = true)))

  /** Tombstoned (degenerate) band keys — empty-safe read, and absent-safe: an
    * index persisted before tombstones existed has no pruned/ dir and must
    * stay probeable/appendable (semantically it pruned nothing).
    */
  def pruned(spark: SparkSession, indexRoot: String): DataFrame = {
    val p = prunedPath(indexRoot)
    // existence via the path's own Hadoop FileSystem, NOT java.nio: all other
    // index I/O goes through Spark, so indexRoot can be hdfs:// or s3a:// —
    // a local-only check would silently ignore tombstones on remote storage
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hp))
      cachedRead(spark, p, Some(prunedSchema))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], prunedSchema)
  }

  // Index metadata cached per (session, path): the Params row under
  // paramsPath (write-once at build() time — r12: a probe paid a parquet
  // head() job per call just to re-read 5 ints) and the ANALYZED relation of
  // each table (r13, guide §6 "file listing ... cached per session": the
  // bucket table is partitioned into n_parts (256) directories, which puts
  // every spark.read.parquet over it past the parallel-partition-discovery
  // threshold — each probe paid a 256-task LISTING job, ~0.4 s of pure
  // scheduling, before reading a byte). Metadata only: every probe still
  // scans the parquet data itself. INVALIDATED by build()/append(), the only
  // writers; access-ordered LRU, so neither indices nor sessions accumulate.
  private val metaCache =
    new java.util.LinkedHashMap[(SparkSession, String), AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), AnyRef]): Boolean = size() > 32
    }

  private def cached[T <: AnyRef](spark: SparkSession, path: String)(load: => T): T =
    metaCache.synchronized {
      val hit = metaCache.get((spark, path))
      if (hit != null) hit.asInstanceOf[T]
      else { val v = load; metaCache.put((spark, path), v); v }
    }

  def readParams(spark: SparkSession, indexRoot: String): Params =
    cached(spark, paramsPath(indexRoot)) {
      val r = spark.read.parquet(paramsPath(indexRoot)).head()
      Params(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
    }

  private def invalidate(spark: SparkSession, indexRoot: String): Unit =
    forget(spark, paramsPath(indexRoot), bucketsPath(indexRoot), sigsPath(indexRoot),
      prunedPath(indexRoot))

  private def forget(spark: SparkSession, paths: String*): Unit =
    metaCache.synchronized(paths.foreach(p => metaCache.remove((spark, p))))

  private def cachedRead(spark: SparkSession, path: String,
                         schema: Option[StructType]): DataFrame =
    cached(spark, path)(schema.fold(spark.read)(spark.read.schema(_)).parquet(path))

  // Explicit schema: a corpus whose every bucket was dropped as degenerate
  // (or an empty corpus) writes ZERO data files, and schema inference over an
  // empty partitioned dir fails — the index must still be probeable (empty).
  private val bucketSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = true),
    StructField("doc_id", LongType, nullable = true),
    StructField("bh_part", IntegerType, nullable = true)))

  /** The partition-filtered bucket scan for a probed `bh_part` set — exposed so
    * specs can assert partition pruning on its executed plan.
    */
  def probedBuckets(spark: SparkSession, indexRoot: String,
                    parts: Seq[Int]): DataFrame =
    cachedRead(spark, bucketsPath(indexRoot), Some(bucketSchema))
      .filter(col("bh_part").isin(parts: _*))

  /** Near-dup pairs between a new `batch` and the indexed corpus:
    * (batch_id, corpus_id, jaccard) with exact n-gram Jaccard ≥ `threshold`.
    *
    * `corpus` is the same table the index was built over (text is NOT stored in
    * the index — verification re-reads only candidate docs from it). Pairs
    * where the two ids coincide are excluded, so probing a batch drawn from the
    * corpus itself never reports identity pairs.
    */
  def probe(spark: SparkSession, indexRoot: String,
            batch: DataFrame, corpus: DataFrame, threshold: Double = 0.7,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val p = readParams(spark, indexRoot)

    // LAZY checkpoints (r12 job fusion): the parts collect below
    // materializes the batch's shingles+signatures AND its band buckets in
    // ONE job instead of two eager materialization jobs + the collect.
    val withSig = graft.util.Parallelism.spreadNarrowScan(
        batch.select(col(idCol).as("batch_id"), col(textCol).as("__text")))
      .withColumn("__sh", Dedup.shingles(col("__text"), p.k))
      .withColumn("sig", Dedup.minhashSignature(col("__sh"), p.numHashes))
      // r13 (guide §5): raw text is dead after the shingle pass; the
      // checkpoint feeds the band explode, the estimate join and the verify
      // join — each re-reads whole rows
      .select(col("batch_id"), col("__sh"), col("sig"))
      .cutLineage(false)
    val batchBuckets = Dedup
      .lshBuckets(withSig, "batch_id", "sig", p.bands, p.rowsPerBand)
      .withColumn("bh_part", pmod(col("band_hash"), lit(p.nParts)).cast("int"))
      .cutLineage(false)

    // The driver-side part list is bounded by n_parts (== 256 by default), the
    // same cardinality discipline as IvfIndex's probed-cell list. isin over an
    // int partition column prunes at planning time.
    val parts = batchBuckets.select("bh_part").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // exclude rows in keys a later append tombstoned (their on-disk rows are
    // not rewritten); the pruned table holds only degenerate keys — tiny
    val candidates = probedBuckets(spark, indexRoot, parts)
      .join(broadcast(pruned(spark, indexRoot)), Seq("band", "band_hash"),
        "left_anti")
      .join(batchBuckets.select("band", "band_hash", "batch_id"),
        Seq("band", "band_hash"))
      .filter(col("doc_id") =!= col("batch_id"))
      .select(col("batch_id"), col("doc_id").as("corpus_id")).distinct()

    // estimate-then-verify, same 3-sigma margin as minhashNearDupPairs
    val estMin = threshold -
      3.0 * math.sqrt(threshold * (1 - threshold) / p.numHashes)
    val estimated = candidates
      .join(cachedRead(spark, sigsPath(indexRoot), None)
        .select(col("doc_id").as("corpus_id"), col("sig").as("sig_c")), "corpus_id")
      .join(withSig.select(col("batch_id"), col("sig").as("sig_b")), "batch_id")
      // r13 (guide §4): compiled agreement count (see Dedup.minhashNearDupPairs)
      .filter(graft.functions.HashExpressions.sig_agree_count(col("sig_b"), col("sig_c"))
        >= lit(math.ceil(estMin * p.numHashes).toInt))
      // candidate-sized distinct: belt-and-braces against duplicate sigs rows
      // (e.g. an index written before append() enforced doc_id uniqueness)
      .select("batch_id", "corpus_id").distinct()

    // exact verify: corpus text only for estimate survivors (semi-join reach)
    val survivors = estimated.select(col("corpus_id").as("doc_id")).distinct()
    val corpusSh = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("__t"))
      .join(survivors.withColumnRenamed("doc_id", "corpus_id"), Seq("corpus_id"), "left_semi")
      .withColumn("sh_c", Dedup.shingles(col("__t"), p.k))
      .select("corpus_id", "sh_c")
    // r12 (guide §2.5/§7): spread the CPU-dense exact-verify intersect over an
    // explicit partition count — AQE's byte-based coalescing collapses the
    // few-KB candidate pair set onto 1-2 tasks (same fix as
    // Dedup.minhashNearDupPairs / editSimNearDupPairs). Row set unchanged.
    // r13: ×1, not ×4 — same measurement as Dedup.minhashNearDupPairs
    val verifyParts = spark.sparkContext.defaultParallelism
    // materialize the pair result and RELEASE the batch sig/bucket
    // checkpoints promptly (r12, guide §5 — the qualityClassifierTrain
    // discipline)
    val out = estimated
      .join(corpusSh, "corpus_id")
      .join(withSig.select(col("batch_id"), col("__sh").as("sh_b")), "batch_id")
      .repartition(verifyParts, col("batch_id"), col("corpus_id"))
      // eval_once: keeps the intersect out of the join condition (it would
      // run 2× per pair there, on the join's coalesced task layout)
      .withColumn("jaccard", graft.functions.HashExpressions.eval_once(
        round(Dedup.jaccard(col("sh_b"), col("sh_c")), 6)))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
      .cutLineage()
    Seq(withSig, batchBuckets).foreach(_.unpersist(blocking = false))
    out
  }
}
