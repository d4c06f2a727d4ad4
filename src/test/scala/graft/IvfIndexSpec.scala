package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sim.{IvfIndex, Similarity}
import graft.util.ShmDirs

class IvfIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  /** The probe route a `topK`/`topKPq` frame took, read from its own plan:
    * the driver route joins a probe relation built from a driver-side RDD;
    * the bulk route's plan has no RDD-backed relation.
    */
  private def probeRoute(df: org.apache.spark.sql.DataFrame): String = {
    val rddBacked = df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    if (rddBacked) "driver" else "bulk"
  }

  /** Deterministic clustered corpus: 3 well-separated direction clusters in R^8. */
  private def clustered(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val cluster = i % 3
      val base = Array.tabulate(8)(d => if (d % 3 == cluster) 10.0f else 0.1f)
      // small deterministic jitter, far smaller than the cluster separation
      val v = base.zipWithIndex.map { case (x, d) => x + ((i * 31 + d * 17) % 7) * 0.01f }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("probe-all query equals brute force exactly") {
    val corpus = clustered(120).repartition(6)
    val root = ShmDirs.tempDir("ivf_idx_").toString
    val nCells = IvfIndex.build(corpus, root, nCentroids = 6)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = IvfIndex.topK(spark, root, queries, k = 5, nProbe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = Similarity.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
  }

  test("probe-1 equals brute force restricted to the query's nearest cell") {
    val corpus = clustered(120)
    val root = ShmDirs.tempDir("ivf_idx1_").toString
    IvfIndex.build(corpus, root, nCentroids = 6)
    val cents = spark.read.parquet(s"$root/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = IvfIndex.topK(spark, root, queries, k = 5, nProbe = 1)
      .collect().groupBy(_.getLong(0))
    val data = spark.read.parquet(s"$root/data")
    queries.collect().foreach { qr =>
      val qid = qr.getLong(0)
      val qv = qr.getSeq[Float](1).map(_.toDouble).toArray
      // the probed cell: highest centroid cosine, lowest cell id on ties
      val best = cents.map { case (c, v) => (c, cos(qv, v)) }
        .maxBy { case (c, s) => (s, -c) }._1
      val sub = data.filter(col("cell") === best).select("vec_id", "embedding")
      val want = Similarity
        .bruteForceTopK(sub, queries.filter(col("query_id") === qid), 5)
        .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
      val g = got(qid).map(r => (r.getLong(1), r.getInt(3))).toSet
      assert(g == want, s"query $qid, cell $best")
    }
  }

  test("append assigns to existing centroids; probe-all over the union stays exact") {
    import spark.implicits._
    val corpus = clustered(120)
    val root = ShmDirs.tempDir("ivf_idx4_").toString
    val nCells = IvfIndex.build(corpus.filter(col("vec_id") < 90), root, nCentroids = 6)
    IvfIndex.append(corpus.filter(col("vec_id") >= 90), root)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = IvfIndex.topK(spark, root, queries, k = 5, nProbe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = Similarity.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
    // appended rows landed in existing cells only
    val cellsOnDisk = spark.read.parquet(s"$root/data")
      .select("cell").distinct().count()
    assert(cellsOnDisk <= nCells)
  }

  test("bulk probe: distributed probe equals the driver path exactly, no driver RDD in plan") {
    val corpus = clustered(120).repartition(6)
    val root = ShmDirs.tempDir("ivf_idx5_").toString
    val nCells = IvfIndex.build(corpus, root, nCentroids = 6)
    val queries = corpus.filter(col("vec_id") < 40)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

    // small panel routes to the driver probe
    val driver = IvfIndex.topK(spark, root, queries, k = 5, nProbe = 2)
    val driverRows = rows(driver)
    assert(probeRoute(driver) == "driver")
    // forced-bulk panel routes to the distributed probe; results identical
    // (same centroid tie order), including cosines bit-for-bit
    val bulk = IvfIndex.topK(spark, root, queries, k = 5, nProbe = 2, bulkThreshold = 8)
    assert(probeRoute(bulk) == "bulk")
    assert(rows(bulk) == driverRows)
    // the bulk plan's probe side is a broadcast join over the centroid table —
    // no driver-materialized probe RDD anywhere in the plan
    assert(!bulk.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "bulk path must not collect the query panel onto the driver")
    // probe-all bulk is exact (= brute force)
    val want = rows(Similarity.bruteForceTopK(corpus, queries, 5))
    assert(rows(IvfIndex.topKBulk(spark, root, queries, 5, nProbe = nCells)) == want)
  }

  test("needsRebuild: balanced index no, drifted (appended-skew) index yes") {
    import spark.implicits._
    val corpus = clustered(120)
    val root = ShmDirs.tempDir("ivf_idx3_").toString
    IvfIndex.build(corpus, root, nCentroids = 6)
    assert(!IvfIndex.needsRebuild(spark, root, maxImbalance = 4.0))
    // simulate post-build ingest drift: a flood of rows landing in one cell
    val hotCell = spark.read.parquet(s"$root/data")
      .select("cell").limit(1).collect()(0).getInt(0)
    (1000L until 3000L).map(i => (i, Seq.fill(8)(1.0f), hotCell))
      .toDF("vec_id", "embedding", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$root/data")
    // max/mean is bounded by the non-empty cell count (6 here), so the
    // spec threshold sits below it
    assert(IvfIndex.needsRebuild(spark, root, maxImbalance = 4.0))
  }

  test("int8TopK: quantized scoring + exact re-rank recovers the true top-k") {
    import graft.sim.Quantize
    val corpus = clustered(120)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = Quantize.int8TopK(corpus, queries, k = 5, rerankFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = Similarity.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
    // quantized cosine is a close proxy: reported (exact re-ranked) cosines
    // must match brute force bit-for-bit since re-rank uses the float vectors
    val cosines = Quantize.int8TopK(corpus, queries, 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val trueCos = Similarity.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    trueCos.foreach { case (key, v) => assert(cosines(key) == v) }
  }

  test("PQ: codes bounded by k, encode deterministic, ADC top-k recovers the " +
    "true neighbors on a separated corpus, reruns bit-identical") {
    import graft.sim.Quantize
    val corpus = clustered(120)
    val cbs = Quantize.pqTrain(corpus, m = 4, k = 4, iters = 2)
    assert(cbs.length == 4 && cbs.forall(_.length == 4) && cbs.forall(_.forall(_.length == 2)))
    val codes = Quantize.pqEncode(corpus, cbs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 120 && codes.values.forall(c => c.size == 4 && c.forall(x => x >= 0 && x < 4)))
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = Quantize.pqTopK(corpus, queries, cbs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // ADC ranks same-cluster docs above other-cluster docs: the top-10 for
    // query i must all come from cluster i (ids ≡ i mod 3)
    got.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.length == 10)
      assert(rs.forall { case (_, docId, _, _) => docId % 3 == qid % 3 },
        s"query $qid leaked other-cluster docs: ${rs.mkString(",")}")
    }
    val again = Quantize.pqTopK(corpus, queries, cbs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == again.toSeq) // exact integer-micro ADC: bit-identical
  }

  test("IVF-PQ: probe-all + rerank equals brute force; ADC stage scans codes " +
    "without the embedding column; append encodes with the frozen codebooks") {
    import graft.sim.Quantize
    val corpus = clustered(120)
    val root = ShmDirs.tempDir("ivfpq_").toString
    val nCells = IvfIndex.build(corpus, root, nCentroids = 6, pqM = 4, pqK = 8)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = IvfIndex.topKPq(spark, root, queries, k = 5, nProbe = nCells,
      rerankFactor = 8)
    assert(probeRoute(got) == "driver")
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(got) == rows(Similarity.bruteForceTopK(corpus, queries, 5)))
    // the ADC stage reads pq_codes, and SOME scan omits the embedding column
    // entirely (column pruning on top of cell pruning — the point of storing
    // code words in the index)
    val planStr = got.queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(s => s.contains("pq_codes") && !s.contains("embedding")),
      s"no codes-only scan in:\n${scans.mkString("\n")}")
    // r10 (VERDICT #1): the ADC stage is a map-side fold — no posexplode
    // (Generate) of the code column, no LUT-join re-aggregation
    // (HashAggregate) anywhere between the probed scan and the shortlist;
    // the whole plan is explode- and aggregate-free
    assert(!planStr.contains("Generate"),
      "ADC stage must not explode pq_codes into per-subspace rows")
    assert(!planStr.contains("HashAggregate") && !planStr.contains("SortAggregate"),
      "ADC scores must be per-row folds, not a re-aggregation shuffle")
    // append: new vectors get code words from the FROZEN codebooks and are
    // findable (a null-codes append would be silently invisible to ADC)
    import spark.implicits._
    // in-distribution direction (cluster 1) with a jitter no corpus member has:
    // cosine(q, 999) = 1.0 strictly beats every pre-existing row, so top-1 must
    // be the appended id — which requires its stored pq_codes to be real
    val novel = Array.tabulate(8)(d => (if (d % 3 == 1) 10.0f else 0.1f) + d * 0.003f).toSeq
    IvfIndex.append(Seq((999L, novel)).toDF("vec_id", "embedding"), root)
    val q2 = Seq((999L, novel)).toDF("query_id", "query_vec")
    val got2 = IvfIndex.topKPq(spark, root, q2, k = 1, nProbe = nCells,
      rerankFactor = 8).collect()
    assert(got2.length == 1 && got2(0).getLong(1) == 999L,
      s"appended vector invisible to the PQ read path: ${got2.mkString(",")}")
  }

  test("PQ bulk probe: distributed topKPq equals the driver path bit-for-bit, " +
    "no driver RDD in plan") {
    import graft.sim.Quantize
    val corpus = clustered(120)
    val root = ShmDirs.tempDir("ivfpq_bulk_").toString
    val nCells = IvfIndex.build(corpus, root, nCentroids = 6, pqM = 4, pqK = 8)
    val queries = corpus.filter(col("vec_id") < 12)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val driver = IvfIndex.topKPq(spark, root, queries, k = 5, nProbe = 2,
      rerankFactor = 4)
    assert(probeRoute(driver) == "driver")
    val driverRows = rows(driver)
    // forced-bulk panel routes to the distributed probe; results identical
    // (same probe tie order, same exact-integer ADC, same rerank tie order)
    val bulk = IvfIndex.topKPq(spark, root, queries, k = 5, nProbe = 2,
      rerankFactor = 4, bulkThreshold = 8)
    assert(probeRoute(bulk) == "bulk")
    assert(rows(bulk) == driverRows)
    // the bulk path must never materialize the query panel on the driver
    assert(!bulk.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "bulk PQ path must not collect the query panel onto the driver")
    // duplicate panel rows (same query twice) must not split ranks: the
    // driver path dedups the collected panel, so results equal the clean
    // panel's exactly (the old groupBy-sum ADC tolerated dups by accident;
    // the fold path dedups explicitly)
    val dupPanel = queries.union(queries.limit(3))
    val dup = IvfIndex.topKPq(spark, root, dupPanel, k = 5, nProbe = 2,
      rerankFactor = 4)
    assert(rows(dup) == driverRows, "duplicate panel rows corrupted ranks")
    // the BULK route must dedup too (r10 ADVICE: the bulk path joined the
    // raw panel in both the probe and rerank stages, so a >threshold panel
    // with duplicate rows split row_number ranks across them)
    val dupBulk = IvfIndex.topKPq(spark, root, dupPanel, k = 5, nProbe = 2,
      rerankFactor = 4, bulkThreshold = 8)
    assert(probeRoute(dupBulk) == "bulk")
    assert(rows(dupBulk) == driverRows, "bulk route: duplicate panel rows corrupted ranks")
    // the probe-all Quantize.pqTopK path dedups as well
    val cbs0 = IvfIndex.loadCodebooks(spark, root).get
    val pqRows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
        .sortBy(t => (t._1, t._4))
    assert(pqRows(Quantize.pqTopK(corpus, dupPanel, cbs0, k = 5)) ==
      pqRows(Quantize.pqTopK(corpus, queries, cbs0, k = 5)),
      "pqTopK: duplicate panel rows corrupted ranks")
    // non-PQ index probes: driver and bulk routes dedup duplicated panels
    val plainRows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val plainClean = plainRows(IvfIndex.topK(spark, root, queries, k = 5, nProbe = 2))
    assert(plainRows(IvfIndex.topK(spark, root, dupPanel, k = 5, nProbe = 2)) == plainClean)
    assert(plainRows(IvfIndex.topK(spark, root, dupPanel, k = 5, nProbe = 2,
      bulkThreshold = 8)) == plainClean)
    // and it keeps the fold-not-explode ADC shape: no Generate anywhere, and
    // the only aggregate allowed is the r11 PANEL dedup (distinct over
    // (query_id, query_vec) — |queries| rows); the CORPUS-side ADC stage must
    // stay a per-row fold, so no aggregate may touch pq_codes or the __sm score
    val bulkPlan = bulk.queryExecution.executedPlan.toString
    assert(!bulkPlan.contains("Generate"), bulkPlan)
    bulkPlan.linesIterator.filter(_.contains("HashAggregate")).foreach { l =>
      assert(!l.contains("pq_codes") && !l.contains("__sm"),
        s"ADC stage re-aggregated instead of folding:\n$l")
      assert(l.contains("query_id") || l.contains("query_vec"),
        s"unexpected aggregate (not the panel dedup):\n$l")
    }
    // LUT parity: the flattened map-side LUT carries the SAME longs as the
    // join-form adcLut (slice → zip_with → fold → floor, bit-equal)
    val cbs = IvfIndex.loadCodebooks(spark, root).get
    val d = cbs(0)(0).length
    val flat = queries.select(col("query_id"),
        Quantize.adcLutFlatCol(col("query_vec"), cbs).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val joined = Quantize.adcLut(queries,
        Quantize.codebookDf(spark, cbs), d)
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    assert(joined.nonEmpty)
    joined.foreach { case ((qid, sub, code), lut) =>
      assert(flat(qid)(sub * cbs(0).length + code) == lut,
        s"LUT mismatch at q=$qid sub=$sub code=$code")
    }
  }

  test("PQ bulk probe AUTO-routes above the 4096 threshold and matches the " +
    "driver path bit-for-bit on the full panel") {
    // the r9 VERDICT #2 done-criterion verbatim: a REAL > 4096 query panel,
    // no forced threshold on the bulk side — topKPq must choose "bulk" by
    // itself (limit+count probe, never a full panel scan) and agree with the
    // driver path exactly
    import spark.implicits._
    val corpus = (0 until 5000).map { i =>
      val cluster = i % 3
      val base = Array.tabulate(8)(d => if (d % 3 == cluster) 10.0f else 0.1f)
      val v = base.zipWithIndex.map { case (x, d) => x + ((i * 31 + d * 17) % 7) * 0.01f }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val root = ShmDirs.tempDir("ivfpq_auto_").toString
    IvfIndex.build(corpus, root, nCentroids = 6, pqM = 4, pqK = 8)
    val queries = corpus.filter(col("vec_id") < 4200)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val auto = IvfIndex.topKPq(spark, root, queries, k = 3, nProbe = 2,
      rerankFactor = 4)
    val autoRows = rows(auto)
    assert(probeRoute(auto) == "bulk", "a 4200-query panel must auto-route to bulk")
    assert(!auto.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "auto-bulk must never collect the panel onto the driver")
    val driver = IvfIndex.topKPq(spark, root, queries, k = 3, nProbe = 2,
      rerankFactor = 4, bulkThreshold = 100000)
    assert(probeRoute(driver) == "driver")
    assert(rows(driver) == autoRows, "bulk and driver paths must agree bit-for-bit")
    assert(autoRows.size == 4200 * 3)
  }

  test("mmrSelect: diversity beats raw relevance (picks fan out across " +
    "clusters), first pick is max-relevance, reruns identical") {
    // clone-free clusters: clustered() repeats vectors every 21 ids, and an
    // exact clone of the query as pick 1 makes every MMR score identically 0
    // (rel == sim-to-clone for all candidates) — correct but degenerate
    import spark.implicits._
    val corpus = (0 until 24).map { i =>
      val c = i % 3
      val v = Array.tabulate(8)(d =>
        (if (d % 3 == c) 10.0f else 0.1f) + ((i * 13 + d * 7) % 11) * 0.02f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpus, queryId = 0L, pool = 20, k = 4,
        lam = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // pick 1 = the most relevant candidate (a cluster-0 clone of the query)
    assert(got.head._2 % 3 == 0)
    // raw top-4 relevance would be ALL cluster-0; MMR must fan out — the
    // 4 picks cover all 3 clusters
    assert(got.map(_._2 % 3).toSet == Set(0L, 1L, 2L),
      s"picks not diverse: ${got.mkString(",")}")
    val again = Similarity.mmrSelect(corpus, queryId = 0L, pool = 20, k = 4,
        lam = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == got.toSeq)
  }

  test("rpProject: JL projection separates the clusters it should, exact " +
    "integer sums make reruns bit-identical") {
    val corpus = clustered(60)
    val rp = Similarity.rpProject(corpus, outDim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rp.size == 60 && rp.values.forall(_.size == 8))
    def dist2(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).map { case (x, y) => val d = (x - y).toDouble; d * d }.sum
    // same-cluster projected distances stay below cross-cluster ones (JL
    // preserves the separation of this well-separated fixture)
    val same = dist2(rp(0L), rp(3L))
    val cross = dist2(rp(0L), rp(1L))
    assert(same < cross, s"projection lost separation: same=$same cross=$cross")
    val again = Similarity.rpProject(corpus, outDim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again == rp)
  }

  test("probed read touches only the probed cell partitions (pruned scan)") {
    val corpus = clustered(120)
    val root = ShmDirs.tempDir("ivf_idx2_").toString
    IvfIndex.build(corpus, root, nCentroids = 6)
    val all = spark.read.parquet(s"$root/data")
      .select(input_file_name()).distinct().count()
    val cells = spark.read.parquet(s"$root/data")
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    assert(cells.length > 1) // clusters actually spread over cells
    val oneCellFiles = IvfIndex.probedScan(spark, root, Seq(cells.head))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(oneCellFiles.nonEmpty && oneCellFiles.length < all)
    assert(oneCellFiles.forall(_.contains(s"cell=${cells.head}")))
  }

  test("trainIters: Lloyd refinement cuts quantization error (mean assigned " +
    "cosine rises) on a skewed corpus; probe-all stays exact") {
    import spark.implicits._
    // 90% of the corpus in ONE tight direction blob, 10% spread across two
    // others — a hash-stride id sample lands most centroids inside the blob
    // (splitting identical directions) while the sparse clusters share a
    // badly-placed cell. Training pulls centroids onto the true clusters.
    val rows = (0 until 200).map { i =>
      val cluster = if (i % 10 < 9) 0 else 1 + i % 2
      val base = Array.tabulate(8)(d => if (d % 3 == cluster) 10.0f else 0.1f)
      val v = base.zipWithIndex.map { case (x, d) => x + ((i * 31 + d * 17) % 7) * 0.01f }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    def meanAssignedCos(root: String): Double = {
      val cents = spark.read.parquet(s"$root/centroids").collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      val centDf = cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
        .toSeq.toDF("cell", "cvec")
      spark.read.parquet(s"$root/data").join(broadcast(centDf), "cell")
        .select(avg(graft.functions.HashExpressions.cosine_sim(
          col("embedding"), col("cvec"))).as("m"))
        .collect()(0).getDouble(0)
    }
    val rootS = ShmDirs.tempDir("ivf_samp_").toString
    val rootT = ShmDirs.tempDir("ivf_train_").toString
    val nS = IvfIndex.build(rows, rootS, nCentroids = 4)
    val nT = IvfIndex.build(rows, rootT, nCentroids = 4, trainIters = 3)
    assert(nT == nS)
    val (qS, qT) = (meanAssignedCos(rootS), meanAssignedCos(rootT))
    assert(qT >= qS, s"trained mean assigned cosine $qT below sampled $qS")
    // exactness under full probe is layout-independent
    val queries = rows.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val got = IvfIndex.topK(spark, rootT, queries, k = 5, nProbe = nT)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = Similarity.bruteForceTopK(rows, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
  }

  test("r11 ADC custom expressions: AdcLutFlat / AdcFold are bit-equal to the " +
    "composed slice/zip_with/aggregate forms, float and double inputs, larger m*k") {
    import graft.sim.Quantize
    import spark.implicits._
    // synthetic codebooks at a size where the composed form is already 256
    // expression trees (m=8, k=32, d=4 over dim 32) — the shape class the
    // custom expression exists for
    val m = 8; val k = 32; val d = 4
    val cbs: Array[Array[Array[Double]]] = Array.tabulate(m, k, d)((s, c, j) =>
      math.sin(s * 131 + c * 17 + j * 3) * 2.5)
    val vecsF = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(m * d)(j => (math.cos(i * 7 + j) * 3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val flat = vecsF.select(col("vec_id"),
        Quantize.adcLutFlatCol(col("embedding"), cbs).as("f"),
        Quantize.adcLutFlatColComposed(col("embedding"), cbs).as("g"))
      .collect()
    flat.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"AdcLutFlat != composed for vec ${r.getLong(0)}")
    }
    // double input too (the IVF-PQ probe rows carry array<double> after
    // l2Normalize)
    val vecsD = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(m * d)(j => math.cos(i * 7 + j) * 3).toSeq)
    }.toDF("vec_id", "embedding")
    vecsD.select(Quantize.adcLutFlatCol(col("embedding"), cbs).as("f"),
        Quantize.adcLutFlatColComposed(col("embedding"), cbs).as("g"))
      .collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // fold parity: random code words folded against a LUT column
    val coded = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(m)(s => (i * 31 + s * 7) % k).toSeq,
        Array.tabulate(m * k)(j => (j * 2654435761L + i) % 1000003L).toSeq)
    }.toDF("vec_id", "codes", "lut")
    coded.select(Quantize.adcFoldCol(col("codes"), col("lut"), k, m).as("f"),
        Quantize.adcFoldColComposed(col("codes"), col("lut"), k, m).as("g"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
