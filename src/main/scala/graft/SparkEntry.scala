package graft

import graft.util.Checkpoints.CheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** One driver-contract query: `run` builds the Spark result over a fixture
  * directory, `oracle` is the DuckDB SQL whose result it must equal. */
final case class QuerySpec(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

/** Driver contract — one `specs` entry per implemented operator from SURVEY.md §2
  * (+ the LLM-data-pipeline extensions), each with its DuckDB oracle. Column names
  * are aligned between the Spark result and the oracle; every floating-point
  * aggregate is rounded identically on both sides; every query is
  * deterministically ordered.
  */
object SparkEntry {

  // ---- table helpers -------------------------------------------------------

  /** Table reads memoized per (session, path) — METADATA ONLY (r12, guide
    * §6): `spark.read.parquet` re-lists the path and re-reads a footer for
    * schema inference on every call, and the bench sweep reads the same ~10
    * fixture paths 400+ times. The cached object is the analyzed RELATION
    * (file listing + schema); every execution still scans the parquet data —
    * nothing row-like is cached. Same discipline as the query engine's
    * path-set-cached listing-table registration (QueryEngine §2.2).
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    tableCache.computeIfAbsent((s, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))

  /** The events table with `ts` normalized to a raw epoch-ns LongType column —
    * the reference's ns-fidelity carrier (SURVEY.md §7.4.1).
    *
    * The fixture generator has shipped events.ts under two physical parquet
    * types: TIMESTAMP(NANOS) (reads as a ns Long via
    * spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench/tests) and
    * TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ). Both normalize to the same
    * ns-Long carrier here, and the DuckDB oracles' epoch_ns(ts) agrees with
    * either file bit-for-bit: a micros file is µs-aligned on both sides, a
    * nanos file is read raw. Session timezone is UTC in every entry point, so
    * the NTZ→timestamp cast is the identity instant mapping. All downstream
    * bucket arithmetic uses integral `div` (never double division: 1.7e18 ns
    * exceeds 2^53, doubles would mis-bucket boundary values).
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** events rows with ts >= the given epoch-ns bound (µs-aligned), filtered on
    * the RAW column so the predicate reaches the parquet scan in both physical
    * layouts — a post-normalization filter on the derived ns Long would read
    * every row group at 100 TB. */
  private def eventsSinceNs(s: SparkSession, dir: String, minNs: Long): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df.filter(col("ts") >= minNs)
      case _ => df.filter(col("ts") >= timestamp_micros(lit(minNs / 1000L)).cast("timestamp_ntz"))
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** The `events` stream table viewed as the reference's wide `metrics` table:
    * ts → timestamp(+ns), event_type → metric_name, a derived `host` label, value →
    * value_f64 (SURVEY.md §1.5 mapping). */
  private def eventsAsMetrics(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      timestamp_micros(expr("ts div 1000")).as("timestamp"),
      col("ts").as("timestamp_ns"),
      col("event_type").as("metric_name"),
      concat(lit("h"), (col("user_id") % 10).cast("string")).as("host"),
      col("value").as("value_f64"),
      lit(null).cast("long").as("value_i64"),
      lit(null).cast("long").as("value_u64"))

  // epoch-ns constants for the events table's span (2024-01-01 .. 2024-01-30 UTC)
  private val Jan1Ns = 1704067200L * 1000000000L
  private val Jan2Ns = 1704153600L * 1000000000L
  private val Jan3Ns = 1704240000L * 1000000000L
  private val Feb1Ns = 1706745600L * 1000000000L

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_groupby")(spark, "/root/testdata/sf0.001")

  // ---- engine, index and oracle helpers -----------------------------------

  /** Build an engine over a temp warehouse containing events[Jan1, maxTs) ingested as
    * hour chunks — shared by the engine-pipeline verify queries. Memoized per
    * (session, dir, maxTs): the warehouse is identical infrastructure for every
    * engine-path query in a run, so it's ingested once per JVM (the ingest cost
    * itself is measured by the dedicated ingest/compaction/split queries).
    */
  private val engineCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long),
      graft.engine.QueryEngine]()

  /** q_src_jsonl_roundtrip's JSONL scratch path per fixture dir. */
  private val jsonlScratch = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialized IVF index over `dir`'s embeddings — built once per (session,
    * dir); the build is the write-path cost a production deployment pays once.
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  private val ivfPqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Materialized MinHash-LSH index over `dir`'s corpus-side documents
    * (doc_id % 17 != 0) — built once per (session, dir), the one-time write
    * cost an incremental-ingest deployment pays. Probed by
    * q_doc_minhash_index_probe with the batch side (doc_id % 17 == 0).
    */
  private val mhIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  private def mhIndex(s: SparkSession, dir: String): String =
    mhIndexCache.computeIfAbsent((s, dir), _ => {
      val root = graft.util.ShmDirs.tempDir("graft_mh_").toString
      graft.dedup.MinHashIndex.build(
        s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 17 =!= 0),
        root, numHashes = 32, bands = 16)
      root
    })

  /** Derived range-join bin width memoized per (session, dir) — the stat-read
    * path of Operators.rangeJoinAuto (see q_range_join).
    */
  private val binStatCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Long]()

  /** Dedicated warehouse+rollup for q_rollup_routed (separate from engineCache:
    * a registered rollup changes OTHER queries' routing decisions — this
    * engine is the only one with one registered).
    */
  private val rollupEngineCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.engine.QueryEngine]()

  private def rollupEngine(s: SparkSession, dir: String): graft.engine.QueryEngine =
    rollupEngineCache.computeIfAbsent((s, dir), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_rollup_q_")
      val catalog = new graft.catalog.ChunkCatalog(tmp)
      new graft.ingest.ChunkWriter(catalog)
        .write(eventsAsMetrics(s, dir).filter(col("timestamp_ns") < Jan3Ns))
      graft.compact.Downsampler.materializeRollup(s, catalog,
        resolutionSeconds = 21600L, labelCols = Seq("host"))
      new graft.engine.QueryEngine(s, catalog)
    })

  /** Memoized compacted warehouse for q_compact_merge: two interleaved L0 writes
    * of events[Jan1, maxTs) then a full compaction sweep, built once per
    * (session, dir).
    */
  private val compactedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.engine.QueryEngine]()

  private def compactedEngine(s: SparkSession, dir: String,
                              maxTsExclusiveNs: Long): graft.engine.QueryEngine =
    compactedCache.computeIfAbsent((s, dir), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_compact_")
      val catalog = new graft.catalog.ChunkCatalog(tmp)
      val writer = new graft.ingest.ChunkWriter(catalog)
      // The two interleaved L0 writes each make two passes (stats + shuffle) —
      // cache the slice once instead of decoding the parquet 4×.
      val m = eventsAsMetrics(s, dir).filter(col("timestamp_ns") < maxTsExclusiveNs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      writer.write(m.filter(col("timestamp_ns") % 2 === 0))
      writer.write(m.filter(col("timestamp_ns") % 2 =!= 0))
      m.unpersist(blocking = false)
      new graft.compact.Compactor(s, catalog, l0FileThreshold = 2).runOnce()
      new graft.engine.QueryEngine(s, catalog)
    })

  /** Memoized TWO-TENANT warehouse for q_tenant_scope: tenant-a ingests the
    * even-user_id rows, tenant-b the odd ones (two flushes each so L0 ripens),
    * then a compaction sweep runs over the mixed catalog — proving both that
    * a tenant-scoped serve reads only the tenant's chunk paths AND that merges
    * never coalesce two tenants' rows (Compactor groups per tenant).
    */
  private val tenantCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.engine.QueryEngine]()

  private def tenantEngine(s: SparkSession, dir: String,
                           maxTsExclusiveNs: Long): graft.engine.QueryEngine =
    tenantCache.computeIfAbsent((s, dir), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_tenant_")
      val catalog = new graft.catalog.ChunkCatalog(tmp)
      val wa = new graft.ingest.ChunkWriter(catalog, "tenant-a")
      val wb = new graft.ingest.ChunkWriter(catalog, "tenant-b")
      val m = eventsAsMetrics(s, dir).filter(col("timestamp_ns") < maxTsExclusiveNs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // host = 'h' || user_id%10, so host-digit parity == user_id parity
      val parity = pmod(substring(col("host"), 2, 2).cast("int"), lit(2))
      val interleave = pmod(xxhash64(col("timestamp_ns")), lit(2))
      wa.write(m.filter(parity === 0 && interleave === 0))
      wa.write(m.filter(parity === 0 && interleave === 1))
      wb.write(m.filter(parity === 1 && interleave === 0))
      wb.write(m.filter(parity === 1 && interleave === 1))
      m.unpersist(blocking = false)
      new graft.compact.Compactor(s, catalog, l0FileThreshold = 2).runOnce()
      // self-check (FIXTURES.md rule): the machinery under test actually fired —
      // both tenants own chunks, compaction produced level>0 output, and no
      // merged chunk crosses the tenant boundary
      val byTenant = catalog.allChunks
        .groupBy(c => graft.catalog.ChunkCatalog.tenantOf(catalog.root, c.path))
      require(byTenant.keySet == Set("tenant-a", "tenant-b"),
        s"tenant fixture: unexpected tenants ${byTenant.keySet}")
      require(catalog.allChunks.exists(_.level > 0),
        "tenant fixture: compaction never ripened")
      new graft.engine.QueryEngine(s, catalog)
    })

  /** Memoized Z-ORDER-compacted warehouse for q_compact_zorder: same build as
    * compactedEngine but the sweep clusters by (metric_name, host) and
    * range-splits into z-bucket chunks (small target so the fixture actually
    * splits), so the query's host predicate prunes via zone maps.
    */
  private val zorderCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.engine.QueryEngine]()

  private def zorderedEngine(s: SparkSession, dir: String,
                             maxTsExclusiveNs: Long): graft.engine.QueryEngine =
    zorderCache.computeIfAbsent((s, dir), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_zorder_q_")
      val catalog = new graft.catalog.ChunkCatalog(tmp)
      val writer = new graft.ingest.ChunkWriter(catalog)
      val m = eventsAsMetrics(s, dir).filter(col("timestamp_ns") < maxTsExclusiveNs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // interleave the two flushes by a HASH of the timestamp: the fixture's
      // ns values carry only µs precision, so raw ns parity is degenerate
      // (all even → one empty flush → L0 never ripens → the sweep would
      // silently never exercise the clustered path)
      val side = pmod(xxhash64(col("timestamp_ns")), lit(2))
      writer.write(m.filter(side === 0))
      writer.write(m.filter(side === 1))
      m.unpersist(blocking = false)
      val targetBytes = 32L << 10
      // splitting is only possible when some hour group carries >= 2 buckets
      // of data — at sf0.001 the whole window is a few KB and the sweep
      // legitimately emits one chunk per hour (still clustered WITHIN)
      val splittable = catalog.allChunks
        .groupBy(_.minTimestampNs / 3600000000000L)
        .values.exists(_.map(_.sizeBytes).sum >= 2 * targetBytes)
      val out = new graft.compact.Compactor(s, catalog, l0FileThreshold = 2,
        clusterBy = Seq("metric_name", "host"),
        clusterTargetBytes = targetBytes,
        clusterMinLevel = 1).runOnce()
      val hours = catalog.allChunks.map(_.minTimestampNs / 3600000000000L).distinct.size
      require(!splittable || out.size > hours,
        s"zorder warehouse did not range-split (${out.size} merged chunks, $hours hours)")
      new graft.engine.QueryEngine(s, catalog)
    })

  /** Memoized post-split warehouse for q_split_shard: 12 h ingested then split
    * at hour 6, built once per (session, dir).
    */
  private val splitCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.engine.QueryEngine]()

  private def splitEngine(s: SparkSession, dir: String,
                          maxTsExclusiveNs: Long): graft.engine.QueryEngine =
    splitCache.computeIfAbsent((s, dir), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_split_q_")
      val catalog = new graft.catalog.ChunkCatalog(tmp)
      new graft.ingest.ChunkWriter(catalog)
        .write(eventsAsMetrics(s, dir).filter(col("timestamp_ns") < maxTsExclusiveNs))
      new graft.compact.ShardSplitter(s, catalog)
        .split(Jan1Ns + 21600L * 1000000000L, "shard-a", "shard-b")
      new graft.engine.QueryEngine(s, catalog)
    })

  private def ivfIndex(s: SparkSession, dir: String): String =
    ivfIndexCache.computeIfAbsent((s, dir), _ => {
      val root = graft.util.ShmDirs.tempDir("graft_ivf_").toString
      graft.sim.IvfIndex.build(
        s.read.parquet(s"$dir/embeddings.parquet"), root, nCentroids = 8)
      root
    })

  private def ivfPqIndex(s: SparkSession, dir: String): String =
    ivfPqIndexCache.computeIfAbsent((s, dir), _ => {
      val root = graft.util.ShmDirs.tempDir("graft_ivfpq_").toString
      graft.sim.IvfIndex.build(
        s.read.parquet(s"$dir/embeddings.parquet"), root, nCentroids = 8,
        pqM = 4, pqK = 16, pqIters = 1)
      root
    })

  private val asofEngineCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (graft.engine.QueryEngine, Long)]()

  /** Time-travel fixture: batch 1 (ts < Jan3) committed, version noted, then
    * batch 2 (the rest of the month) committed over it — AS OF the noted
    * version must see exactly batch 1. */
  private def asofEngine(s: SparkSession, dir: String): (graft.engine.QueryEngine, Long) =
    asofEngineCache.computeIfAbsent((s, dir), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_asof_")
      val catalog = new graft.catalog.ChunkCatalog(tmp, manifestRetain = 16)
      val writer = new graft.ingest.ChunkWriter(catalog)
      writer.write(eventsAsMetrics(s, dir).filter(col("timestamp_ns") < Jan3Ns))
      val v1 = catalog.state.version
      writer.write(eventsAsMetrics(s, dir).filter(col("timestamp_ns") >= Jan3Ns))
      (new graft.engine.QueryEngine(s, catalog), v1)
    })

  private def engineWithData(s: SparkSession, dir: String,
                             maxTsExclusiveNs: Long): graft.engine.QueryEngine =
    engineCache.computeIfAbsent((s, dir, maxTsExclusiveNs), _ => {
      val tmp = graft.util.ShmDirs.tempDir("graft_engine_")
      val catalog = new graft.catalog.ChunkCatalog(tmp)
      val writer = new graft.ingest.ChunkWriter(catalog)
      writer.write(eventsAsMetrics(s, dir).filter(col("timestamp_ns") < maxTsExclusiveNs))
      new graft.engine.QueryEngine(s, catalog)
    })

  // ---- DuckDB oracles ------------------------------------------------------

  /** Stopword-occurrence count snippet (DuckDB): non-overlapping hits of ` w ` in the
    * padded lowercased text — mirrors TextFunctions.stopwordHits exactly.
    */
  /** Portable-simhash oracle (identical 60-bit md5 signature, Hamming ≤ 3).
    * The bounded `_s` slice keeps the naive all-pairs cartesian — maximally
    * independent of the Spark implementation. The full-corpus variant joins
    * on the four 15-bit signature blocks first and verifies the exact Hamming
    * distance on the candidates: by pigeonhole, any pair at Hamming ≤ 3 over
    * 4 disjoint blocks agrees on at least one whole block, so this is EXACT
    * (a theorem, not an LSH probability) while staying collision-proportional
    * — feasible at the 10×/100× fixtures where the docs² cartesian timed out.
    * Verified row-identical to the all-pairs form at sf0.001/0.01/0.1.
    */
  private def simhashOracle(docBound: Option[Long]): String = {
    val where = docBound.fold("")(b => s" WHERE doc_id < $b")
    val bitTerms = (0 until 60).map(b =>
      s"(CASE WHEN sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)").mkString(" + ")
    val sigCte =
      s"""WITH toks AS (
         | SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         | FROM documents$where),
         |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
         |sig AS (SELECT doc_id, $bitTerms AS sig FROM h GROUP BY doc_id)""".stripMargin
    if (docBound.isDefined)
      s"""$sigCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a, sig b
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    else
      s"""$sigCte,
         |blk AS (SELECT doc_id, sig, 0 AS b, (sig & 32767) AS bv FROM sig
         | UNION ALL SELECT doc_id, sig, 1, (sig >> 15) & 32767 FROM sig
         | UNION ALL SELECT doc_id, sig, 2, (sig >> 30) & 32767 FROM sig
         | UNION ALL SELECT doc_id, sig, 3, (sig >> 45) & 32767 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |                a.sig AS sa, b.sig AS sb
         |         FROM blk a JOIN blk b
         |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
  }

  /** Edit-similarity verify oracle: recomputes the portable 60-bit md5
    * simhash + pigeonhole banding (identical to [[simhashOracle]]'s candidate
    * CTEs), then verifies each Hamming<=3 candidate with DuckDB's integer
    * `levenshtein` on the same lower(trim(text)) normalization — the filter
    * `lev*simDen <= (simDen-simNum)*maxLen` is the engine's exact integer
    * cross-multiplication, so no float ever reaches the gate.
    */
  private def editSimOracle(simNum: Int, simDen: Int): String = {
    val bitTerms = (0 until 60).map(b =>
      s"(CASE WHEN sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)").mkString(" + ")
    val missNum = simDen - simNum
    s"""WITH toks AS (
       | SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       | FROM documents),
       |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
       |sig AS (SELECT doc_id, $bitTerms AS sig FROM h GROUP BY doc_id),
       |blk AS (SELECT doc_id, sig, 0 AS b, (sig & 32767) AS bv FROM sig
       | UNION ALL SELECT doc_id, sig, 1, (sig >> 15) & 32767 FROM sig
       | UNION ALL SELECT doc_id, sig, 2, (sig >> 30) & 32767 FROM sig
       | UNION ALL SELECT doc_id, sig, 3, (sig >> 45) & 32767 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |                a.sig AS sa, b.sig AS sb
       |         FROM blk a JOIN blk b
       |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |hp AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
       |d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
       |v AS (SELECT id_a, id_b, levenshtein(da.t, db.t) AS lev,
       |             greatest(length(da.t), length(db.t)) AS max_len
       |      FROM hp JOIN d da ON hp.id_a = da.doc_id
       |               JOIN d db ON hp.id_b = db.doc_id)
       |SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev, CAST(max_len AS BIGINT) AS max_len
       |FROM v WHERE lev * $simDen <= $missNum * max_len
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Passage-removal oracle (Lee et al. 2021 transform mirror), optionally
    * over a bounded doc_id slice (the corpus-wide window join is the cost
    * driver at big SFs).
    */
  private def passageRemoveOracle(docBound: Option[Long]): String = {
    val where = docBound.fold("")(b => s" WHERE doc_id < $b")
    s"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |            FROM documents$where),
       |lw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks
       |       FROM documents$where),
       |w AS (SELECT doc_id, i AS start, array_to_string(ltoks[i+1:i+13], ' ') AS win
       |      FROM lw, UNNEST(generate_series(0, len(ltoks) - 13)) g(i)
       |      WHERE len(ltoks) >= 13),
       |firsts AS (SELECT win, min(doc_id * 1000000 + start) AS fkey FROM w GROUP BY win),
       |dups AS (SELECT w.doc_id, w.start FROM w JOIN firsts f ON w.win = f.win
       |         WHERE w.doc_id * 1000000 + w.start > f.fkey),
       |removed AS (SELECT DISTINCT doc_id, start + j AS pos
       |            FROM dups, UNNEST(generate_series(0, 12)) u(j)),
       |tokpos AS (SELECT doc_id, i AS pos, toks[i + 1] AS tok
       |           FROM tk, UNNEST(generate_series(0, len(toks) - 1)) g(i)),
       |kept AS (SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS kept_text,
       |                count(*) AS n_kept
       |         FROM tokpos tp LEFT JOIN removed r
       |           ON tp.doc_id = r.doc_id AND tp.pos = r.pos
       |         WHERE r.doc_id IS NULL GROUP BY tp.doc_id)
       |SELECT d.doc_id, substring(md5(coalesce(k.kept_text, '')), 1, 16) AS kept_hash,
       | CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       | CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) - coalesce(k.n_kept, 0)
       |   AS BIGINT) AS n_removed
       |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
       |${docBound.fold("")(b => s"WHERE d.doc_id < $b\n")}ORDER BY d.doc_id""".stripMargin
  }

  private def duckHits(w: String): String =
    s"(len(string_split(' ' || lower(text) || ' ', ' $w ')) - 1)"

  private def duckHitsSum(words: Seq[String]): String =
    words.map(duckHits).mkString("(", " + ", ")")

  private val duckTokens =
    "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"

  private def duckRatio(cls: String): String =
    s"(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '$cls', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)"

  /** Exact cosine top-k oracle, shared by the brute-force query and every ANN
    * variant run in its exact mode (probe-all / bucket-all / full-rerank).
    */
  private val bruteForceAnnOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |scored AS (
      | SELECT q.query_id, c.vec_id,
      |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
      |     FROM (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y) z)
      |  / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
      |     FROM (SELECT unnest(c.embedding) AS x) z2))
      |   * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
      |     FROM (SELECT unnest(q.qv) AS y) z3))) AS cos
      | FROM embeddings c, q)
      |SELECT query_id, vec_id, round(cos, 4) AS cosine, rank FROM (
      | SELECT query_id, vec_id, cos,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      | FROM scored) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---- the operator surface ------------------------------------------------

  /** Every query next to its oracle. Declared after the helper vals the
    * oracle strings read: an object's vals initialize in source order. */
  val specs: Seq[QuerySpec] = Seq(

    // §2.5 hash aggregate: partial+final GROUP BY with the aggs the reference
    // exercises (COUNT/AVG/MIN/MAX/SUM — roundtrip_tests.rs:147-155).
    QuerySpec("q_agg_groupby", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          // Exact DECIMAL summation, cast to double after: double sums over
          // 60M+ rows differ between engines by hundreds of ulps (summation
          // order), which crosses the 2-decimal rounding grid — the 100x run
          // measured 0.02 diffs. The 2-dp values are exact in DECIMAL(18,2),
          // the sum is exact in the widened decimal, and both engines then
          // perform the same correctly-rounded u/100 conversion (unscaled
          // fits in 2^53 up to ~9e13 totals). Order-independent at ANY scale.
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_base"),
          // avg = exact decimal sum / count: identical dividends on both
          // engines make the IEEE division bit-identical too — a direct
          // round(avg(...), k) sits on rounding-tie knife edges.
          (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_price"),
          round(min("l_discount"), 4).as("min_disc"),
          round(max("l_discount"), 4).as("max_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      oracle = """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | round(min(l_discount), 4) AS min_disc,
        | round(max(l_discount), 4) AS max_disc,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2.5 skew-safe two-phase aggregation (salt on the hot key, partial on
    // (key, salt), merge partials). l_quantity is integral → sums are exact
    // doubles, identical to the oracle's unsalted GROUP BY.
    QuerySpec("q_agg_salted", (s, dir) =>
      graft.operators.Operators.saltedAggregate(
          t(s, dir, "lineitem"), Seq("l_returnflag"), saltBuckets = 16,
          partial = Seq("sum_qty" -> sum("l_quantity"), "cnt" -> count(lit(1)),
            "min_qty" -> min("l_quantity"), "max_qty" -> max("l_quantity")),
          finalAgg = Seq("sum_qty" -> (sum(_)), "cnt" -> (sum(_)),
            "min_qty" -> (min(_)), "max_qty" -> (max(_))))
        .withColumn("sum_qty", round(col("sum_qty"), 4))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS cnt,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.5 ROLLUP subtotals + grand total with GROUPING() markers (available in
    // the reference via DataFusion SQL; first-class here).
    QuerySpec("q_agg_rollup", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_rollup_v")
      s.sql(
        """SELECT
          | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
          | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
          | ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS cnt
          |FROM lineitem_rollup_v
          |GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin)
    },
      oracle = """SELECT
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        | round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // §2.5 CUBE: every grouping-set combination in one pass.
    QuerySpec("q_agg_cube", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_cube_v")
      s.sql(
        """SELECT
          | CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS st,
          | CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS pri,
          | ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
          |   AS sum_price, COUNT(*) AS cnt
          |FROM orders_cube_v
          |GROUP BY CUBE(o_orderstatus, o_orderpriority)
          |ORDER BY st, pri""".stripMargin)
    },
      oracle = """SELECT
        | CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS st,
        | CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS pri,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price, count(*) AS cnt
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin),

    // §2.3 projection + filter (pushed to the Parquet scan by Catalyst, same as
    // DataFusion pushdown at engine.rs:283).
    QuerySpec("q_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_discount") > 0.07)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
      oracle = """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Query-pack shape `recent_error_like_signals` (reference
    // scripts/telemetry/query-pack/live.sql): LIKE filter + newest-first
    // LIMIT. Tiebreak on event_id for a deterministic total order.
    QuerySpec("q_like_recent", (s, dir) =>
      events(s, dir)
        .filter(col("event_type").like("%ick%"))
        .select(col("event_id"), col("event_type"),
          expr("(ts div 1000) * 1000").as("ts_ns"), col("value"))
        .orderBy(col("ts_ns").desc, col("event_id"))
        .limit(200),
      oracle = """SELECT event_id, event_type, epoch_ns(ts) AS ts_ns, value
        |FROM events WHERE event_type LIKE '%ick%'
        |ORDER BY ts_ns DESC, event_id LIMIT 200""".stripMargin),

    // §2.5 SELECT DISTINCT (prometheus_api.rs:369-371).
    QuerySpec("q_distinct", (s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus"),
      oracle = """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2.7 ORDER BY / LIMIT top-k (TakeOrderedAndProject).
    QuerySpec("q_orderby_limit", (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      oracle = """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // §2.7 window: faithful topk-per-group via row_number ≤ k.
    QuerySpec("q_topk_group", (s, dir) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
        .orderBy("l_returnflag", "rn")
    },
      oracle = """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        | SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 3
        |ORDER BY l_returnflag, rn""".stripMargin),

    // §2.7 window: running analytic frame (rows unbounded preceding).
    QuerySpec("q_window_running", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running", round(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "running")
        .orderBy("o_custkey", "o_orderkey")
    },
      oracle = """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // §2.7 time-RANGE trailing window (r9): per-user trailing-1h event count
    // and value sum over the raw ns timeline — RANGE frames (all equal-ts
    // rows in-frame in every engine), DECIMAL accumulation so the frame sum
    // is order-independent (range frames may be evaluated segment-tree style,
    // so even "ordered" double sums are not safe here).
    QuerySpec("q_window_range_trailing", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-3600000000000L, 0L)
      events(s, dir)
        .withColumn("cnt_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .select("user_id", "event_id", "cnt_1h", "sum_1h")
        .orderBy("user_id", "event_id")
    },
      oracle = """SELECT user_id, event_id,
        |  count(*) OVER w AS cnt_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    // §2.7 analytic offsets: lead/lag over each customer's order sequence
    // (exact value copies — no float arithmetic to drift).
    QuerySpec("q_window_lead_lag", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      oracle = """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // §2.7 ntile bucketing per order priority; the (price, key) order is a
    // total order so bucket boundaries are engine-deterministic.
    QuerySpec("q_window_ntile", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile")) // DuckDB ntile is BIGINT
        .orderBy("o_orderpriority", "o_orderkey")
    },
      oracle = """SELECT o_orderpriority, o_orderkey,
        | ntile(4) OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin),

    // §2.7 rank-statistics frame: percent_rank + cume_dist — integer-ratio
    // doubles, bit-identical across engines under a total order.
    QuerySpec("q_window_percent_rank", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
      oracle = """SELECT o_orderpriority, o_orderkey,
        | percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),

    // §2.5 GROUPING SETS (the general form ROLLUP/CUBE specialize; Spark 4
    // Dataset.groupingSets) with DECIMAL sums and grouping() markers.
    QuerySpec("q_agg_grouping_sets", (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_qty"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first, col("g_ls")),
      oracle = """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        | CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g_ls""".stripMargin),

    // §2.5 PIVOT (wide conditional aggregation — Spark groupBy().pivot(); the
    // oracle is the portable CASE-WHEN form). Explicit value list so the plan
    // needs no extra distinct-values scan; DECIMAL sums (order-independent).
    QuerySpec("q_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")))
        .select(col("l_returnflag"),
          col("F").cast("double").as("qty_f"),
          col("O").cast("double").as("qty_o"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag,
        | CAST(sum(CASE WHEN l_linestatus = 'F'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        | CAST(sum(CASE WHEN l_linestatus = 'O'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.3 correlated scalar subquery (Catalyst decorrelates to an aggregate
    // + join — no per-row re-execution; the delegated-depth check that the
    // rewrite engine handles correlation, not just top-level predicates).
    QuerySpec("q_subquery_scalar", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_sq")
      s.sql(
        """SELECT c_custkey, c_acctbal FROM customer_sq c
          |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_sq c2
          |                   WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },
      oracle = """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin),

    // §2.5 COUNT(DISTINCT) + plain count per group.
    QuerySpec("q_count_distinct", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"), count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.5 percentile_cont WITHIN GROUP (live.sql:2).
    QuerySpec("q_percentile", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"), 4)
          .as("p50"),
          round(expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)"), 4)
            .as("p95"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag,
        | round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
        | round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.5 STDDEV (sample) — roundtrip aggregation set.
    QuerySpec("q_stddev", (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(stddev("l_extendedprice"), 2).as("sd_price"),
          round(var_samp("l_extendedprice"), 0).as("var_price"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag,
        | round(stddev_samp(l_extendedprice), 2) AS sd_price,
        | round(var_samp(l_extendedprice), 0) AS var_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // §2.4 joins: multi-way equi-join with broadcast dims (region/nation/customer
    // are the small sides — Spark plans BroadcastHashJoin, no big-side shuffle).
    QuerySpec("q_join_broadcast", (s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = broadcast(t(s, dir, "customer"))
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .join(region, nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name", "n_name")
        // sum in DECIMAL: double-sum order differs with partitioning, and at
        // 100x fixtures the reordered low bits cross round(,2) boundaries —
        // decimal accumulation is exact and order-independent (same idiom as
        // q_agg_groupby)
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
        .orderBy("r_name", "n_name")
    },
      oracle = """SELECT r_name, n_name, count(*) AS cnt,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // §2.4 semi join (EXISTS).
    QuerySpec("q_join_semi", (s, dir) => {
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      t(s, dir, "customer")
        .join(hi, col("c_custkey") === hi("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
      oracle = """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),

    // §2.4 anti join (NOT EXISTS).
    QuerySpec("q_join_anti", (s, dir) => {
      val orders = t(s, dir, "orders")
      t(s, dir, "customer")
        .join(orders, col("c_custkey") === orders("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
      oracle = """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // §2.7 set ops: UNION (distinct) + EXCEPT.
    QuerySpec("q_setop_union", (s, dir) =>
      t(s, dir, "region").select(col("r_name").as("name"))
        .union(t(s, dir, "nation").select(col("n_name").as("name")))
        .distinct().orderBy("name"),
      oracle = """SELECT r_name AS name FROM region
        |UNION SELECT n_name AS name FROM nation ORDER BY name""".stripMargin),

    QuerySpec("q_setop_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("custkey")))
        .orderBy("custkey"),
      oracle = """SELECT c_custkey AS custkey FROM customer
        |EXCEPT SELECT o_custkey AS custkey FROM orders ORDER BY custkey""".stripMargin),

    // §2.8 scalar function surface: coalesce/cast/LIKE/RLIKE/json path.
    QuerySpec("q_scalar_funcs", (s, dir) =>
      events(s, dir)
        .select(
          col("event_id"),
          coalesce(col("value"), lit(0.0)).as("v"),
          col("event_type").like("%ick%").as("is_click_like"),
          col("event_type").rlike("^(vi|cl)").as("re_match"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      oracle = """SELECT event_id, coalesce(value, 0.0) AS v,
        | event_type LIKE '%ick%' AS is_click_like,
        | regexp_matches(event_type, '^(vi|cl)') AS re_match,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // §2.5 time-bucket aggregate: integer-division bucketing in raw ns —
    // (ts_ns DIV step) * step, the exact arithmetic of prometheus_api.rs:970-1011.
    QuerySpec("q_ts_bucket_agg", (s, dir) =>
      events(s, dir)
        .groupBy(expr("(ts div 21600000000000) * 21600000000000").as("time_bucket"),
          col("event_type").as("metric_name"))
        .agg(count(lit(1)).as("cnt"),
          (round(sum("value"), 2) / count(lit(1))).as("avg_value"),
          round(min("value"), 6).as("min_value"),
          round(max("value"), 6).as("max_value"))
        .orderBy("time_bucket", "metric_name"),
      oracle = """SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name, count(*) AS cnt,
        | round(sum(value), 2) / count(*) AS avg_value,
        | round(min(value), 6) AS min_value,
        | round(max(value), 6) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // §2.5 date_trunc rollup (postrun.sql:1).
    QuerySpec("q_ts_date_trunc", (s, dir) =>
      events(s, dir)
        .groupBy(
          unix_micros(date_trunc("hour", timestamp_micros(expr("ts div 1000"))))
            .as("hour_us"),
          col("event_type").as("metric_name"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
        .orderBy("hour_us", "metric_name"),
      oracle = """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
        | event_type AS metric_name, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // §2.5 rate approximation: (MAX-MIN)/range_secs per bucket — faithful to the
    // reference's non-extrapolating rate (prometheus_api.rs:964-1013).
    QuerySpec("q_ts_rate", (s, dir) =>
      events(s, dir)
        .groupBy(expr("(ts div 21600000000000) * 21600000000000").as("time_bucket"),
          col("event_type").as("metric_name"))
        .agg(((max("value") - min("value")) / lit(3600.0)).as("rate"))
        .orderBy("time_bucket", "metric_name"),
      oracle = """SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name,
        | (max(value) - min(value)) / 3600.0 AS rate
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // §2.3/§2.7 recent-window top-N scan: WHERE ts >= cutoff ORDER BY DESC LIMIT
    // (roundtrip_tests.rs:200-204 shape).
    QuerySpec("q_ts_recent_topn", (s, dir) =>
      eventsSinceNs(s, dir, 1706140800L * 1000000000L) // 2024-01-25 in ns
        .select(expr("ts div 1000").as("ts_us"), col("event_id"),
          col("event_type"), col("value"))
        .orderBy(col("ts_us").desc, col("event_id"))
        .limit(100),
      oracle = """SELECT epoch_ns(ts) // 1000 AS ts_us, event_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
        |ORDER BY ts_us DESC, event_id LIMIT 100""".stripMargin),

    // §2.10 split dual-write dedup: first-wins on (timestamp, metric_name) ONLY —
    // the reference's key ignores labels (dedup.rs:27); first = lowest event_id.
    QuerySpec("q_ts_dedup_firstwins", (s, dir) => {
      val w = Window.partitionBy("ts_us", "event_type").orderBy("event_id")
      events(s, dir)
        .select(expr("ts div 1000").as("ts_us"), col("event_type"),
          col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("ts_us", "event_type")
    },
      oracle = """SELECT ts_us, event_type, event_id, value FROM (
        | SELECT epoch_ns(ts) // 1000 AS ts_us, event_type, event_id, value,
        |  row_number() OVER (PARTITION BY epoch_ns(ts) // 1000, event_type ORDER BY event_id) AS rn
        | FROM events) WHERE rn = 1
        |ORDER BY ts_us, event_type""".stripMargin),

    // §2.6 instant-query shape: latest sample per series (ORDER BY ts DESC LIMIT 1
    // per metric — prometheus_api.rs:877-935).
    QuerySpec("q_ts_instant_last", (s, dir) => {
      val w = Window.partitionBy("metric_name")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      events(s, dir)
        .select(col("event_type").as("metric_name"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("metric_name")
    },
      oracle = """SELECT metric_name, ts_us, event_id, value FROM (
        | SELECT event_type AS metric_name, epoch_ns(ts) // 1000 AS ts_us, event_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1
        |ORDER BY metric_name""".stripMargin),

    // Beyond-reference operator: gap-based SESSIONIZATION — per-user sessions
    // close after 6h idle; lag→flag→running-sum, one shuffle on user_id.
    QuerySpec("q_sessionize", (s, dir) => {
      val e = events(s, dir).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"), col("value"))
      graft.operators.Operators
        .sessionize(e, Seq("user_id"), "ts_us", 21600000000L, Seq(col("event_id")))
        .groupBy("user_id", "session_idx")
        .agg(min("ts_us").as("session_start_us"), max("ts_us").as("session_end_us"),
          count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .orderBy("user_id", "session_idx")
    },
      oracle = """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |        OR ts_us - lag(ts_us) OVER w > 21600000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |t AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM s)
        |SELECT user_id, session_idx, min(ts_us) AS session_start_us,
        | max(ts_us) AS session_end_us, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM t GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin),

    // Beyond-reference EXTENSION: counter-reset-aware rate (true Prometheus
    // semantics — the reference's own rate is (MAX-MIN)/range with no reset
    // handling, kept faithfully as q_ts_rate/q_promql_range_rate).
    QuerySpec("q_counter_rate", (s, dir) => {
      val e = events(s, dir).select(
        col("event_type").as("metric_name"),
        concat(lit("h"), (col("user_id") % 10).cast("string")).as("host"),
        expr("ts div 1000").as("ts_us"), col("event_id"), col("value"))
      graft.operators.Operators
        .counterRate(e, Seq("metric_name", "host"), "ts_us", "value",
          1000000L, Seq(col("event_id")))
        .orderBy("metric_name", "host")
    },
      oracle = """WITH e AS (SELECT event_type AS metric_name,
        |        'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        |        epoch_us(ts) AS ts_us, event_id, value FROM events),
        |d AS (SELECT *, lag(value) OVER w AS pv, value - lag(value) OVER w AS delta
        |      FROM e WINDOW w AS (PARTITION BY metric_name, host ORDER BY ts_us, event_id)),
        |a AS (SELECT metric_name, host, count(*) AS n_samples,
        |        round(sum(CASE WHEN pv IS NULL THEN NULL
        |                       WHEN delta < 0 THEN value ELSE delta END), 2) AS increase,
        |        max(ts_us) - min(ts_us) AS elapsed
        |      FROM d GROUP BY 1, 2)
        |SELECT metric_name, host, n_samples, increase, elapsed,
        | increase / (CAST(elapsed AS DOUBLE) / 1000000.0) AS rate
        |FROM a WHERE n_samples >= 2 AND elapsed > 0
        |ORDER BY metric_name, host""".stripMargin),

    // Beyond-reference operator: AS-OF JOIN (point-in-time lookup) — for each
    // 'click' event, the most recent 'view' by the same user. One shuffle on the
    // key (union + running last_value), no range cross-join. Oracle: DuckDB's
    // native ASOF JOIN.
    QuerySpec("q_asof_join", (s, dir) => {
      // µs-aligned ns (the oracle's DuckDB reads parquet ns as µs timestamps)
      val ev = events(s, dir).withColumn("ts_us1000", expr("(ts div 1000) * 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us1000").as("ts_ns"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us1000").as("ts_ns"), col("value"))
      graft.operators.Operators.asOfJoin(
          clicks, views, Seq("user_id"), "ts_ns", "ts_ns", Seq("value"))
        .filter(col("right_ts_ns").isNotNull)
        .select("event_id", "user_id", "ts_ns", "value", "right_ts_ns", "right_value")
        .orderBy("event_id")
    },
      oracle = """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, value FROM events
        |  WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, c.ts_ns, c.value,
        |       v.ts_ns AS right_ts_ns, v.value AS right_value
        |FROM clicks c ASOF JOIN views v
        |  ON c.user_id = v.user_id AND c.ts_ns >= v.ts_ns
        |ORDER BY c.event_id""".stripMargin),

    // Beyond-reference operator: bin-bucketed RANGE (interval) JOIN — events
    // inside 1 h incident windows opened by high-value purchases. The naive
    // ts BETWEEN s AND e join is a nested loop; this is the equi-join form
    // (point → 1 bin, interval → its overlapped bins, residual filter).
    QuerySpec("q_range_join", (s, dir) => {
      val e = events(s, dir)
      val points = e.select(expr("ts div 1000").as("ts_us"), col("user_id"))
      val windows = e.filter(col("event_type") === "purchase" && col("value") > 200)
        .select(col("event_id").as("win_id"), expr("ts div 1000").as("ws"),
          (expr("ts div 1000") + 3600000000L).as("we"))
      // bin width derived from the interval-length distribution (all 1 h here
      // → the derived bin IS 1 h); nothing to re-tune at 100× density. The
      // derivation pass runs ONCE per (session, dir) and is then served as a
      // persisted-stat read (Operators.deriveBinStat is the catalog-table
      // production path; the memo stands in for the catalog here because the
      // intervals are a derived frame, not a registered table).
      val bin = binStatCache.computeIfAbsent((s, dir), _ =>
        graft.operators.Operators.autoBinSize(windows, "ws", "we"))
      graft.operators.Operators
        .rangeJoinAuto(points, windows, "ts_us", "ws", "we", binStat = Some(bin))
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
        .orderBy("win_id")
    },
      oracle = """WITH w AS (SELECT event_id AS win_id, epoch_us(ts) AS ws,
        |                  epoch_us(ts) + 3600000000 AS we
        |           FROM events WHERE event_type = 'purchase' AND value > 200)
        |SELECT w.win_id, count(*) AS n_events,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM w JOIN (SELECT epoch_us(ts) AS ts_us, user_id FROM events) e
        |  ON e.ts_us >= w.ws AND e.ts_us < w.we
        |GROUP BY w.win_id ORDER BY win_id""".stripMargin),

    // §2.7 top-k per group via the balanced two-phase operator (same results as the
    // naive window, no few-groups shuffle collapse).
    QuerySpec("q_topk_twophase", (s, dir) => {
      val order = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      graft.operators.Operators.topKPerGroup(
          t(s, dir, "lineitem"), Seq("l_returnflag"), order, 3)
        .withColumn("rn", col("rn").cast("long"))
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
        .orderBy("l_returnflag", "rn")
    },
      oracle = """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        | SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 3
        |ORDER BY l_returnflag, rn""".stripMargin),

    // §2.6 PromQL instant aggregation over the metrics view:
    // `max by (host) (click)` through the real parser+transpiler.
    QuerySpec("q_promql_instant", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      // DuckDB truncates parquet ns timestamps to µs, so the oracle can only see
      // µs·1000 — align the emitted ns to the oracle's resolution.
      s.sql(graft.promql.PromQL.transpileInstant("max by (host) (click)"))
        .withColumn("timestamp_ns", expr("(timestamp_ns div 1000) * 1000"))
        .orderBy("host")
    },
      oracle = """SELECT event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | max(value) AS value, max(epoch_ns(ts)) AS timestamp_ns
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 ORDER BY host""".stripMargin),

    // §2.6 PromQL range query with label matcher + regex matcher:
    // `sum by (host) (view{host=~"h[0-4]"})`, 6 h buckets, rounded.
    QuerySpec("q_promql_range_sum", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          """sum by (host) (view{host=~"h[0-4]"})""", Jan1Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 4))
        .orderBy("time_bucket", "host")
    },
      oracle = """SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(sum(value), 4) AS value
        |FROM events
        |WHERE event_type = 'view'
        | AND regexp_matches('h' || CAST(user_id % 10 AS VARCHAR), 'h[0-4]')
        | AND epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |GROUP BY 1, 2, 3 ORDER BY time_bucket, host""".stripMargin),

    // §2.6 PromQL range rate: `rate(view[1h])` — (MAX-MIN)/3600 per 6 h bucket.
    QuerySpec("q_promql_range_rate", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange("rate(view[1h])", Jan1Ns, Feb1Ns, 21600L))
        .orderBy("time_bucket")
    },
      oracle = """SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name,
        | (max(value) - min(value)) / 3600.0 AS value
        |FROM events
        |WHERE event_type = 'view'
        | AND epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |GROUP BY 1, 2 ORDER BY time_bucket""".stripMargin),

    // §2.6 EXTENSION — offset modifier (real-Prometheus feature the
    // reference's regex grammar lacks; flagged extension): the scanned window
    // shifts back a day, buckets map forward to evaluation time, so the
    // "same time yesterday" Grafana panel lines up against today's axis.
    QuerySpec("q_promql_offset", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "sum by (host) (view offset 1d)", Jan2Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 4))
        .orderBy("time_bucket", "host")
    },
      // offset 1d: scan [Jan2-1d, Feb1-1d] = [Jan1, Jan31], bucket on ts+1d —
      // identical window arithmetic to the transpiled SQL
      oracle = """SELECT ((epoch_ns(ts) + 86400000000000) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(sum(value), 4) AS value
        |FROM events
        |WHERE event_type = 'view'
        | AND epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706659200000000000
        |GROUP BY 1, 2, 3 ORDER BY time_bucket, host""".stripMargin),

    // §2.6 EXTENSION — vector binary operator (flagged; real-Prometheus
    // feature the reference's grammar lacks): the click/view ratio per host
    // per 6 h bucket, sides matched on (time_bucket, host), metric_name
    // dropped like Prometheus drops __name__ on arithmetic.
    QuerySpec("q_promql_binary", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "sum by (host) (click) / sum by (host) (view)", Jan1Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 6))
        .orderBy("time_bucket", "host")
    },
      // binary op: both sides' grouped sums joined on (bucket, host); NULLIF
      // mirrors the transpiler's deterministic divide-by-zero → NULL
      oracle = """WITH b AS (
        |  SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        |    event_type, 'h' || CAST(user_id % 10 AS VARCHAR) AS host, sum(value) AS v
        |  FROM events
        |  WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |  GROUP BY 1, 2, 3)
        |SELECT l.time_bucket, l.host, round(l.v / NULLIF(r.v, 0), 6) AS value
        |FROM (SELECT * FROM b WHERE event_type = 'click') l
        |JOIN (SELECT * FROM b WHERE event_type = 'view') r
        |  ON l.time_bucket = r.time_bucket AND l.host = r.host
        |ORDER BY 1, 2""".stripMargin),

    // §2.6 EXTENSION (r11) — CHAINED binary expression with real precedence:
    // the Grafana percent-ratio panel `a / b * 100`. `*` binds tighter but
    // left-assoc rightmost-split makes this (a / b) * 100; the scalar leaf
    // applies map-side (no third join).
    QuerySpec("q_promql_binary_chained", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "sum by (host) (click) / sum by (host) (view) * 100", Jan1Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 6))
        .orderBy("time_bucket", "host")
    },
      // chained binary: (click/view) ratio joined on (bucket, host), then the
      // scalar *100 applied to the joined value — same association as the
      // transpiler's rightmost-lowest-precedence split
      oracle = """WITH b AS (
        |  SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        |    event_type, 'h' || CAST(user_id % 10 AS VARCHAR) AS host, sum(value) AS v
        |  FROM events
        |  WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |  GROUP BY 1, 2, 3)
        |SELECT l.time_bucket, l.host, round(l.v / NULLIF(r.v, 0) * 100, 6) AS value
        |FROM (SELECT * FROM b WHERE event_type = 'click') l
        |JOIN (SELECT * FROM b WHERE event_type = 'view') r
        |  ON l.time_bucket = r.time_bucket AND l.host = r.host
        |ORDER BY 1, 2""".stripMargin),

    // §2.6 EXTENSION (r12) — comparison tier below arithmetic (flagged;
    // real-Prometheus semantics the reference's grammar lacks): filter
    // semantics without `bool` — the (click/view) ratio per host per 6 h
    // bucket survives, value unchanged, only where it exceeds 1.
    QuerySpec("q_promql_compare", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "sum by (host) (click) / sum by (host) (view) > 1", Jan1Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 6))
        .orderBy("time_bucket", "host")
    },
      // comparison tier: the (click/view) ratio joined on (bucket, host),
      // FILTERED on the exact (unrounded) ratio — rounding happens on output
      // only, mirroring the transpiler (Prometheus compares exact values)
      oracle = """WITH b AS (
        |  SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        |    event_type, 'h' || CAST(user_id % 10 AS VARCHAR) AS host, sum(value) AS v
        |  FROM events
        |  WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |  GROUP BY 1, 2, 3),
        |j AS (SELECT l.time_bucket, l.host, l.v / NULLIF(r.v, 0) AS value
        |  FROM (SELECT * FROM b WHERE event_type = 'click') l
        |  JOIN (SELECT * FROM b WHERE event_type = 'view') r
        |    ON l.time_bucket = r.time_bucket AND l.host = r.host)
        |SELECT time_bucket, host, round(value, 6) AS value FROM j
        |WHERE value > 1 ORDER BY 1, 2""".stripMargin),

    // §2.6 EXTENSION (r12) — `bool` modifier: every matched element kept,
    // value replaced by the 0/1 truth of the comparison.
    QuerySpec("q_promql_compare_bool", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "sum by (host) (click) / sum by (host) (view) >= bool 1", Jan1Ns, Feb1Ns, 21600L))
        .orderBy("time_bucket", "host")
    },
      // bool modifier: all matched elements kept, 0/1 truth values
      oracle = """WITH b AS (
        |  SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        |    event_type, 'h' || CAST(user_id % 10 AS VARCHAR) AS host, sum(value) AS v
        |  FROM events
        |  WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |  GROUP BY 1, 2, 3)
        |SELECT l.time_bucket, l.host,
        |  CAST(CASE WHEN l.v / NULLIF(r.v, 0) >= 1 THEN 1 ELSE 0 END AS DOUBLE) AS value
        |FROM (SELECT * FROM b WHERE event_type = 'click') l
        |JOIN (SELECT * FROM b WHERE event_type = 'view') r
        |  ON l.time_bucket = r.time_bucket AND l.host = r.host
        |ORDER BY 1, 2""".stripMargin),

    // §2.6 EXTENSION (r11) — histogram_quantile over classic le-bucketed
    // cumulative series (the reference collapses histograms to `sum`, so the
    // whole surface is a flagged extension). Fixture: each view event expands
    // to one cumulative-indicator sample per le bucket; the transpiled SQL
    // applies the Prometheus linear interpolation per (6 h bucket, host).
    QuerySpec("q_promql_histogram_quantile", (s, dir) => {
      val les = Seq("0.5", "1", "2", "4", "+Inf")
      eventsAsMetrics(s, dir).filter(col("metric_name") === "view")
        .select(col("timestamp"), col("timestamp_ns"),
          lit("lat_bucket").as("metric_name"), col("host"),
          explode(array(les.map(lit(_)): _*)).as("le"),
          col("value_f64"))
        .withColumn("value_f64",
          when(col("le") === "+Inf", lit(1.0d))
            .otherwise(when(col("value_f64") <= col("le").cast("double"), lit(1.0d))
              .otherwise(lit(0.0d))))
        .withColumn("value_i64", lit(null).cast("long"))
        .withColumn("value_u64", lit(null).cast("long"))
        .createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "histogram_quantile(0.9, sum by (le, host) (lat_bucket))",
          Jan1Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 6))
        .orderBy("time_bucket", "host")
    },
      // histogram_quantile: replay of the fixture (per-event cumulative bucket
      // indicators) + the Prometheus interpolation — lowest bucket whose
      // cumulative count reaches 0.9·total, linear inside it, highest finite
      // le when the rank lands in +Inf
      oracle = """WITH raw AS (
        |  SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        |    'h' || CAST(user_id % 10 AS VARCHAR) AS host, value
        |  FROM events WHERE event_type = 'view'
        |    AND epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000),
        |buckets AS (
        |  SELECT time_bucket, host, led, SUM(ind) AS cnt FROM (
        |    SELECT r.time_bucket, r.host, l.led,
        |      CASE WHEN l.led = CAST('Infinity' AS DOUBLE) THEN 1.0
        |           WHEN r.value <= l.led THEN 1.0 ELSE 0.0 END AS ind
        |    FROM raw r CROSS JOIN (VALUES (0.5), (1.0), (2.0), (4.0),
        |      (CAST('Infinity' AS DOUBLE))) l(led))
        |  GROUP BY 1, 2, 3),
        |lagd AS (
        |  SELECT time_bucket, host, led, cnt,
        |    LAG(led) OVER w AS prev_le, LAG(cnt) OVER w AS prev_v,
        |    MAX(CASE WHEN led = CAST('Infinity' AS DOUBLE) THEN cnt END) OVER g AS total,
        |    MAX(CASE WHEN led < CAST('Infinity' AS DOUBLE) THEN led END) OVER g AS max_fin
        |  FROM buckets
        |  WINDOW w AS (PARTITION BY time_bucket, host ORDER BY led),
        |         g AS (PARTITION BY time_bucket, host))
        |SELECT time_bucket, host, round(value, 6) AS value FROM (
        |  SELECT time_bucket, host,
        |    CASE WHEN led = CAST('Infinity' AS DOUBLE) THEN max_fin
        |         ELSE COALESCE(prev_le, 0) + (led - COALESCE(prev_le, 0))
        |           * (0.9 * total - COALESCE(prev_v, 0))
        |           / NULLIF(cnt - COALESCE(prev_v, 0), 0) END AS value,
        |    ROW_NUMBER() OVER (PARTITION BY time_bucket, host ORDER BY led) AS pick
        |  FROM lagd WHERE cnt >= 0.9 * total)
        |WHERE pick = 1 ORDER BY time_bucket, host""".stripMargin),

    // §2.6 PromQL metadata: label_values(__name__) (prometheus_api.rs:380-500).
    QuerySpec("q_promql_label_values", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.labelValuesSql("__name__"))
    },
      oracle = "SELECT DISTINCT event_type AS value FROM events ORDER BY value"),

    // §2.6 EXTENSION: two-arg topk — real LIMIT k, per-series MAX representative.
    QuerySpec("q_promql_topk", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileInstant("topk(3, click) by (host)"))
        .withColumn("timestamp_ns", expr("(timestamp_ns div 1000) * 1000"))
        .withColumn("value", round(col("value"), 2))
        .orderBy(col("value").desc)
    },
      // ORDER BY the EXACT (unrounded) representative with the group columns as
      // tiebreak, matching the transpiled SQL — ordering by the rounded value
      // (or leaving ties unpinned) makes the k-boundary engine-dependent once
      // the data has collisions there (surfaced by the 10× scale run).
      oracle = """SELECT event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(max(value), 2) AS value, max(epoch_ns(ts)) AS timestamp_ns
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 ORDER BY max(value) DESC, metric_name, host LIMIT 3""".stripMargin),

    // §2.6 EXTENSION: two-arg bottomk — MIN representative (ordering per-series
    // MAXima ascending would invert bottomk's intent for wide-range series).
    QuerySpec("q_promql_bottomk", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileInstant("bottomk(3, click) by (host)"))
        .withColumn("timestamp_ns", expr("(timestamp_ns div 1000) * 1000"))
        .withColumn("value", round(col("value"), 2))
        .orderBy(col("value").asc)
    },
      oracle = """SELECT event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(min(value), 2) AS value, max(epoch_ns(ts)) AS timestamp_ns
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 ORDER BY min(value) ASC, metric_name, host LIMIT 3""".stripMargin),

    // §2.6 EXTENSION: sum(rate(m[w])) with TRUE two-level semantics — per-host
    // rate per bucket, then summed across hosts (the faithful transpileRange
    // drops the outer agg like the reference does; this is the opt-in fix for
    // the dominant Grafana idiom).
    QuerySpec("q_promql_sum_rate", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRangeSeriesAgg(
          "sum(rate(view[1h]))", Jan1Ns, Feb1Ns, 21600L, seriesLabels = Seq("host")))
        .withColumn("value", round(col("value"), 6))
        .orderBy("time_bucket")
    },
      oracle = """SELECT time_bucket, metric_name, round(sum(value), 6) AS value FROM (
        | SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        |  event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        |  (max(value) - min(value)) / 3600.0 AS value
        | FROM events
        | WHERE event_type = 'view'
        |  AND epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        | GROUP BY 1, 2, 3)
        |GROUP BY 1, 2 ORDER BY time_bucket""".stripMargin),

    // §2.6 EXTENSION: max_over_time (query-pack idiom) — per-bucket MAX.
    QuerySpec("q_promql_max_over_time", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileRange(
          "max_over_time(error[1h])", Jan1Ns, Feb1Ns, 21600L))
        .withColumn("value", round(col("value"), 6))
        .orderBy("time_bucket")
    },
      oracle = """SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name, round(max(value), 6) AS value
        |FROM events
        |WHERE event_type = 'error'
        | AND epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) <= 1706745600000000000
        |GROUP BY 1, 2 ORDER BY time_bucket""".stripMargin),

    // §2.6 EXTENSION: two-arg quantile(q, expr) — exact interpolated
    // PERCENTILE per series group.
    QuerySpec("q_promql_quantile", (s, dir) => {
      eventsAsMetrics(s, dir).createOrReplaceTempView("metrics")
      s.sql(graft.promql.PromQL.transpileInstant("quantile(0.9, click) by (host)"))
        .withColumn("timestamp_ns", expr("(timestamp_ns div 1000) * 1000"))
        .withColumn("value", round(col("value"), 4))
        .orderBy("host")
    },
      oracle = """SELECT event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4) AS value,
        | max(epoch_ns(ts)) AS timestamp_ns
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1, 2 ORDER BY host""".stripMargin),

    // §3.1 the full engine pipeline: ingest events→hour chunks (catalog + zone
    // maps), then QueryEngine.sql with time-range extraction + chunk pruning.
    QuerySpec("q_engine_prune_sql", (s, dir) => {
      val eng = engineWithData(s, dir, maxTsExclusiveNs = Jan3Ns)
      eng.sql(
        s"""SELECT metric_name, COUNT(*) AS cnt, ROUND(MAX(value_f64), 6) AS max_v
           |FROM metrics
           |WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns < $Jan2Ns
           |GROUP BY metric_name ORDER BY metric_name""".stripMargin)
    },
      oracle = """SELECT event_type AS metric_name, count(*) AS cnt, round(max(value), 6) AS max_v
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704153600000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Engine EXTENSION — time travel (Delta/Iceberg VERSION AS OF analog):
    // two batches committed, the query runs AS OF the version between them
    // and must see exactly batch 1 — while the live engine sees both.
    QuerySpec("q_engine_asof", (s, dir) => {
      val (eng, v1) = asofEngine(s, dir)
      eng.serve(
        """SELECT metric_name, COUNT(*) AS cnt,
          |  CAST(SUM(CAST(value_f64 AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
          |FROM metrics
          |WHERE timestamp_ns >= 0
          |GROUP BY metric_name ORDER BY metric_name""".stripMargin, asOf = Some(v1)).df
    },
      oracle = s"""SELECT event_type AS metric_name, count(*) AS cnt,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
         |FROM events WHERE epoch_ns(ts) < $Jan3Ns
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // §2.7 EXTENSION — engine-integrated top-k ROUTING (graft.plans
    // .TopKRouting): the naive `row_number() ≤ k` SQL — the documented 25×
    // scale outlier whose window-sort parallelism is the group count — is
    // transparently re-planned as the two-phase Operators.topKPerGroup
    // (local prune over all cores → exact global rank over ≤ k·parts rows).
    // require() fails the gate if it silently falls back to the naive plan;
    // the oracle runs the NAIVE formulation — hash equality proves the
    // rewrite is exact. Order is total (value desc, ts, host), so rank
    // assignment is deterministic on both sides.
    QuerySpec("q_topk_routed", (s, dir) => {
      val eng = engineWithData(s, dir, maxTsExclusiveNs = Jan3Ns)
      val served = eng.serve(
        "SELECT metric_name, host, timestamp_ns, value_f64, rn FROM (" +
          "SELECT metric_name, host, timestamp_ns, value_f64, " +
          "row_number() OVER (PARTITION BY metric_name " +
          "ORDER BY value_f64 DESC, timestamp_ns, host) AS rn FROM metrics " +
          s"WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns < $Jan2Ns" +
          ") WHERE rn <= 10 ORDER BY metric_name, rn")
      require(served.route == graft.engine.QueryEngine.TopK,
        "q_topk_routed must be re-planned by TopKRouting")
      // DuckDB sees parquet ns truncated to µs — align the emitted ns column
      served.df.withColumn("timestamp_ns", expr("(timestamp_ns div 1000) * 1000"))
        .withColumn("rn", col("rn").cast("long"))
    },
      // NAIVE row_number ≤ k formulation — the engine-REWRITTEN two-phase
      // result must hash-equal this (total order ⇒ deterministic ranks)
      oracle = """SELECT metric_name, host, timestamp_ns, value_f64, rn FROM (
        | SELECT event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        |  (epoch_ns(ts) // 1000) * 1000 AS timestamp_ns, value AS value_f64,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, epoch_ns(ts),
        |   'h' || CAST(user_id % 10 AS VARCHAR)) AS rn
        | FROM events
        | WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704153600000000000
        |) sub WHERE rn <= 10 ORDER BY metric_name, rn""".stripMargin),

    // §3.1 time-plus-label prune: the engine's catalog prune keeps the chunks
    // whose time range and `host` zone map can match before any file opens.
    QuerySpec("q_engine_fileindex", (s, dir) => {
      val eng = engineWithData(s, dir, maxTsExclusiveNs = Jan3Ns)
      eng.sql(
        s"""SELECT metric_name, COUNT(*) AS cnt, ROUND(MAX(value_f64), 6) AS max_v
           |FROM metrics
           |WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns < $Jan2Ns AND host = 'h3'
           |GROUP BY metric_name ORDER BY metric_name""".stripMargin)
    },
      oracle = """SELECT event_type AS metric_name, count(*) AS cnt, round(max(value), 6) AS max_v
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704153600000000000
        | AND 'h' || CAST(user_id % 10 AS VARCHAR) = 'h3'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.10 compaction: merge the 2-files-per-hour L0 state into single chunks,
    // then query through the engine — data must be byte-identical to pre-compaction.
    QuerySpec("q_compact_merge", (s, dir) => {
      val half = Jan1Ns + 43200L * 1000000000L // first 12 hours only
      // Warehouse build (two interleaved L0 writes + compaction) is memoized per
      // (session, dir): it is identical infrastructure on every invocation, so a
      // repeated call measures the post-compaction QUERY, not the build — the
      // build cost shows up once, in the first run (bench reports runs separately).
      val eng = compactedEngine(s, dir, half)
      // DECIMAL accumulation (q_agg_groupby idiom): a double sum re-ordered by
      // the compacted layout can cross the ROUND boundary at larger scales.
      eng.sql(
        s"""SELECT metric_name, COUNT(*) AS cnt,
           | ROUND(CAST(SUM(CAST(value_f64 AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_v
           |FROM metrics WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns <= $half
           |GROUP BY metric_name ORDER BY metric_name""".stripMargin)
    },
      oracle = """SELECT event_type AS metric_name, count(*) AS cnt,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_v
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704110400000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.10 extension — Z-order clustered compaction (Delta OPTIMIZE ZORDER
    // analog): the same 12 h warehouse compacted with clusterBy (metric_name,
    // host); merges z-sort and range-split into z-bucket chunks whose zone
    // maps are tight in BOTH columns, so the host predicate here prunes
    // chunks at planning time. Data must remain byte-identical to raw.
    QuerySpec("q_compact_zorder", (s, dir) => {
      val half = Jan1Ns + 43200L * 1000000000L
      val eng = zorderedEngine(s, dir, half)
      // DECIMAL accumulation: the z-reordered scan order differs from DuckDB's,
      // so a rounded double sum is summation-order-sensitive (ADVICE r8).
      eng.sql(
        s"""SELECT metric_name, COUNT(*) AS cnt,
           | ROUND(CAST(SUM(CAST(value_f64 AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_v
           |FROM metrics WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns <= $half
           | AND host = 'h3'
           |GROUP BY metric_name ORDER BY metric_name""".stripMargin)
    },
      oracle = """SELECT event_type AS metric_name, count(*) AS cnt,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_v
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704110400000000000
        | AND 'h' || CAST(user_id % 10 AS VARCHAR) = 'h3'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.2 extension — per-tenant query scoping (query_for_tenant analog,
    // src/query/mod.rs:158-241): two tenants ingest disjoint halves of the
    // same window into ONE catalog (then a compaction sweep runs over both);
    // the scoped query must see ONLY tenant-a's chunks — the oracle recomputes
    // tenant-a's slice from the raw table by the split predicate.
    QuerySpec("q_tenant_scope", (s, dir) => {
      val half = Jan1Ns + 43200L * 1000000000L
      val eng = tenantEngine(s, dir, half)
      eng.serve(
        s"""SELECT metric_name, COUNT(*) AS cnt,
           | ROUND(CAST(SUM(CAST(value_f64 AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_v
           |FROM metrics WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns <= $half
           |GROUP BY metric_name ORDER BY metric_name""".stripMargin,
        tenant = Some("tenant-a")).df
    },
      oracle = """SELECT event_type AS metric_name, count(*) AS cnt,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_v
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704110400000000000
        | AND user_id % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // §2.1 Prometheus remote-write value routing: integral≥0 → value_u64, integral<0
    // → value_i64, fractional/huge → value_f64; ms→ns; __name__→metric_name
    // (prometheus.rs:356-485).
    QuerySpec("q_ingest_prom_route", (s, dir) => {
      import graft.ingest.Converters
      val samples = Seq(
        Converters.promSample(1000L, Map("__name__" -> "cpu", "host" -> "a"), 5.0),
        Converters.promSample(2000L, Map("__name__" -> "cpu", "host" -> "a"), -3.0),
        Converters.promSample(3000L, Map("__name__" -> "cpu", "host" -> "b"), 0.5),
        Converters.promSample(4000L, Map("__name__" -> "mem", "host" -> "b"), 1.5e16),
        Converters.promSample(5000L, Map("__name__" -> "mem"), 100.0))
      Converters.routedToDf(s, samples)
        .select("metric_name", "timestamp_ns", "host",
          "value_f64", "value_i64", "value_u64")
        .orderBy("timestamp_ns")
    },
      oracle = """SELECT * FROM (VALUES
        | ('cpu', CAST(1000000000 AS BIGINT), 'a', CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(5 AS BIGINT)),
        | ('cpu', CAST(2000000000 AS BIGINT), 'a', CAST(NULL AS DOUBLE), CAST(-3 AS BIGINT), CAST(NULL AS BIGINT)),
        | ('cpu', CAST(3000000000 AS BIGINT), 'b', CAST(0.5 AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        | ('mem', CAST(4000000000 AS BIGINT), 'b', CAST(1.5e16 AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        | ('mem', CAST(5000000000 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(100 AS BIGINT))
        |) t(metric_name, timestamp_ns, host, value_f64, value_i64, value_u64)
        |ORDER BY timestamp_ns""".stripMargin),

    // §2.1 OTLP-shaped ingest: points with union-of-label-keys explosion to nullable
    // string columns (otlp.rs:249-295); single f64 value → value_f64.
    QuerySpec("q_ingest_otlp", (s, dir) => {
      import graft.ingest.{Converters, MetricPoint}
      val points = Seq(
        MetricPoint(1000000000L, "cpu_usage", 0.85, Map("host" -> "server1")),
        MetricPoint(2000000000L, "cpu_usage", 0.90, Map("host" -> "server2")),
        MetricPoint(3000000000L, "requests", 17.0, Map("service" -> "api")))
      Converters.pointsToDf(s, points)
        .select("metric_name", "timestamp_ns", "host", "service", "value_f64")
        .orderBy("timestamp_ns")
    },
      oracle = """SELECT * FROM (VALUES
        | ('cpu_usage', CAST(1000000000 AS BIGINT), 'server1', CAST(NULL AS VARCHAR), CAST(0.85 AS DOUBLE)),
        | ('cpu_usage', CAST(2000000000 AS BIGINT), 'server2', CAST(NULL AS VARCHAR), CAST(0.90 AS DOUBLE)),
        | ('requests', CAST(3000000000 AS BIGINT), CAST(NULL AS VARCHAR), 'api', CAST(17.0 AS DOUBLE))
        |) t(metric_name, timestamp_ns, host, service, value_f64)
        |ORDER BY timestamp_ns""".stripMargin),

    // §2.1 Arrow-native ingest (Flight DoPut analog, flight_ingest.rs:25-45):
    // a full wire round-trip — the query-side Arrow IPC writer's exact bytes
    // decoded back into routed points, proving the two ends speak the same
    // stream format (required columns, value routing, label nullability).
    QuerySpec("q_ingest_arrow", (s, dir) => {
      import graft.ingest.{ArrowIngest, Converters, MetricPoint}
      val points = Seq(
        MetricPoint(1000000000L, "cpu_usage", 0.85, Map("host" -> "server1")),
        MetricPoint(2000000000L, "cpu_usage", 0.90, Map("host" -> "server2")),
        MetricPoint(3000000000L, "requests", 17.0, Map("service" -> "api")))
      val wire = graft.engine.ResultFormat.toArrow(
        Converters.pointsToDf(s, points)
          .select("metric_name", "timestamp_ns", "host", "service", "value_f64"))
      Converters.routedToDf(s, ArrowIngest.toRoutedPoints(wire))
        .select("metric_name", "timestamp_ns", "host", "service", "value_f64")
        .orderBy("timestamp_ns")
    },
      // identical fixture to q_ingest_otlp: the Arrow wire round-trip must be lossless
      oracle = """SELECT * FROM (VALUES
        | ('cpu_usage', CAST(1000000000 AS BIGINT), 'server1', CAST(NULL AS VARCHAR), CAST(0.85 AS DOUBLE)),
        | ('cpu_usage', CAST(2000000000 AS BIGINT), 'server2', CAST(NULL AS VARCHAR), CAST(0.90 AS DOUBLE)),
        | ('requests', CAST(3000000000 AS BIGINT), CAST(NULL AS VARCHAR), 'api', CAST(17.0 AS DOUBLE))
        |) t(metric_name, timestamp_ns, host, service, value_f64)
        |ORDER BY timestamp_ns""".stripMargin),

    // §2.10 downsampling (extension; reference configures but never implements it):
    // 6 h rollup of the metrics view per (metric, host) — min/max/count are exact.
    QuerySpec("q_downsample", (s, dir) =>
      graft.compact.Downsampler.downsample(
          eventsAsMetrics(s, dir), resolutionSeconds = 21600L, labelCols = Seq("host"))
        .drop("avg_value")
        .orderBy("time_bucket", "metric_name", "host"),
      oracle = """SELECT (epoch_ns(ts) // 21600000000000) * 21600000000000 AS time_bucket,
        | event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | min(value) AS min_value, max(value) AS max_value, count(*) AS sample_count
        |FROM events GROUP BY 1, 2, 3 ORDER BY time_bucket, metric_name, host""".stripMargin),

    // §2.10 EXTENSION — rollup-aware serving (dashboard zoom-out routing):
    // a 6 h mergeable rollup (sum/min/max/count — no stored avg, avg-of-avgs
    // is wrong on uneven buckets) re-bucketed to answer a 12 h query. The
    // oracle aggregates RAW events at 12 h directly: equality proves the
    // rollup path is exact, not approximate — every stored component is
    // associative, avg derived last from Σsum/Σcount.
    QuerySpec("q_rollup_serve", (s, dir) => {
      val rollup = graft.compact.Downsampler.downsampleMergeable(
        eventsAsMetrics(s, dir), resolutionSeconds = 21600L, labelCols = Seq("host"))
      graft.compact.Downsampler.serveFromRollup(
          rollup, resolutionSeconds = 21600L, stepSeconds = 43200L, labelCols = Seq("host"))
        .select(col("time_bucket"), col("metric_name"), col("host"),
          round(col("sum_value"), 4).as("sum_v"),
          col("min_value"), col("max_value"), col("sample_count"),
          // avg derived from the ROUNDED sum: the raw sums differ between
          // engines in final ulps (summation order), and flooring the raw
          // quotient at 1e-6 flips exactly on half-grid boundaries (surfaced
          // by the 10× run); the rounded sum is hash-identical on both sides,
          // so the same division gives the same double
          (floor(round(col("sum_value"), 4) / col("sample_count") * 1000000.0 + 0.5)
            / 1000000.0).as("avg_v"))
        .orderBy("time_bucket", "metric_name", "host")
    },
      // RAW 12 h aggregation — the rollup-served result must equal this exactly
      oracle = """SELECT (epoch_ns(ts) // 43200000000000) * 43200000000000 AS time_bucket,
        | event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(sum(value), 4) AS sum_v,
        | min(value) AS min_value, max(value) AS max_value, count(*) AS sample_count,
        | floor(round(sum(value), 4) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_v
        |FROM events GROUP BY 1, 2, 3 ORDER BY time_bucket, metric_name, host""".stripMargin),

    // §2.10 EXTENSION — ENGINE-INTEGRATED rollup routing (completes the
    // reference's configured-but-unimplemented downsample_after_days,
    // src/compactor/mod.rs:70-91): plain SQL against the registered `metrics`
    // view; QueryEngine detects that the 12 h bucketed aggregate is a whole
    // multiple of the REGISTERED 6 h rollup's resolution and answers from the
    // rollup table without touching raw chunks (require() makes the gate fail
    // if it ever silently falls back to raw). Oracle aggregates RAW events —
    // hash equality proves the routed path is exact.
    QuerySpec("q_rollup_routed", (s, dir) => {
      val eng = rollupEngine(s, dir)
      val step = 43200L * 1000000000L
      val served = eng.serve(
        s"SELECT (timestamp_ns div $step) * $step AS time_bucket, metric_name, host, " +
          "round(sum(value_f64), 4) AS sum_v, min(value_f64) AS min_value, " +
          "max(value_f64) AS max_value, count(*) AS sample_count " +
          s"FROM metrics WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns < $Jan3Ns " +
          "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")
      require(served.route == graft.engine.QueryEngine.Rollup,
        "q_rollup_routed must be answered from the registered rollup")
      served.df
    },
      // RAW aggregation at 12 h over the first two days — the engine-ROUTED
      // (6 h rollup → 12 h re-bucket) result must hash-equal this
      oracle = """SELECT (epoch_ns(ts) // 43200000000000) * 43200000000000 AS time_bucket,
        | event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(sum(value), 4) AS sum_v, min(value) AS min_value, max(value) AS max_value,
        | count(*) AS sample_count
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704240000000000000
        |GROUP BY 1, 2, 3 ORDER BY time_bucket, metric_name, host""".stripMargin),

    // §2.10 EXTENSION — rollup routing for the reference's OWN acceptance
    // idiom `date_trunc('day', timestamp)` (README.md:208, scripts/telemetry/
    // query-pack/postrun.sql:1): day truncation in a UTC session is bucket
    // alignment at 86400 s — a whole multiple of the registered 6 h rollup —
    // so the same transparent rewrite applies. The routed TimestampType
    // bucket is converted to epoch-µs AFTER routing (hash-comparable across
    // engines); the oracle aggregates RAW events.
    QuerySpec("q_rollup_routed_trunc", (s, dir) => {
      val eng = rollupEngine(s, dir)
      val served = eng.serve(
        "SELECT date_trunc('day', timestamp) AS day_ts, metric_name, host, " +
          "round(sum(value_f64), 4) AS sum_v, min(value_f64) AS min_value, " +
          "max(value_f64) AS max_value, count(*) AS sample_count " +
          "FROM metrics WHERE timestamp >= TIMESTAMP '2024-01-01 00:00:00+00:00' " +
          "AND timestamp < TIMESTAMP '2024-01-03 00:00:00+00:00' " +
          "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")
      require(served.route == graft.engine.QueryEngine.Rollup,
        "q_rollup_routed_trunc must be answered from the registered rollup")
      served.df.select(unix_micros(col("day_ts")).as("day_us"), col("metric_name"),
        col("host"), col("sum_v"), col("min_value"), col("max_value"),
        col("sample_count"))
    },
      // RAW day-bucketed aggregation — the date_trunc-shaped engine-ROUTED
      // result (6 h rollup → 1 d re-bucket) must hash-equal this
      oracle = """SELECT epoch_us(date_trunc('day', ts)) AS day_us,
        | event_type AS metric_name, 'h' || CAST(user_id % 10 AS VARCHAR) AS host,
        | round(sum(value), 4) AS sum_v, min(value) AS min_value, max(value) AS max_value,
        | count(*) AS sample_count
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704240000000000000
        |GROUP BY 1, 2, 3 ORDER BY day_us, metric_name, host""".stripMargin),

    // §2.10 5-phase shard split collapsed to a partition-rewrite job: ingest 12 h,
    // split at hour 6, then engine-query counts — no row lost or duplicated.
    QuerySpec("q_split_shard", (s, dir) => {
      val half = Jan1Ns + 43200L * 1000000000L
      // Split-warehouse build memoized per (session, dir) — same rationale as
      // q_compact_merge: repeated calls measure the split-aware dedup QUERY.
      val eng = splitEngine(s, dir, half)
      eng.sql(
        s"""SELECT metric_name, COUNT(*) AS cnt, ROUND(SUM(value_f64), 4) AS sum_v
           |FROM metrics WHERE timestamp_ns >= $Jan1Ns AND timestamp_ns < $half
           |GROUP BY metric_name ORDER BY metric_name""".stripMargin)
    },
      oracle = """SELECT event_type AS metric_name, count(*) AS cnt, round(sum(value), 4) AS sum_v
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 AND epoch_ns(ts) < 1704110400000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // LLM ops — exact dedup: md5 fingerprint of normalized text, deterministic
    // keeper = min(doc_id), group size.
    QuerySpec("q_doc_fingerprint_dedup", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("dup_cnt"))
        .orderBy("fp"),
      oracle = """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | CAST(min(doc_id) AS BIGINT) AS keeper, count(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),

    // LLM ops — token-budget sampling: per source, the prefix of the
    // portable-hash-ordered doc stream fitting an 800-token budget (corpus
    // mixture recipes are specified in tokens, not docs). Two-phase
    // distributed prefix sum — no single window partition per source.
    QuerySpec("q_doc_token_budget", (s, dir) =>
      graft.pipeline.Pipeline.tokenBudgetSample(
          t(s, dir, "documents"), budgetTokens = 800L)
        .orderBy("source", "doc_id"),
      oracle = s"""WITH base AS (SELECT source, doc_id, CAST($duckTokens AS BIGINT) AS n_tok,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         | FROM documents),
         |c AS (SELECT source, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |                   ROWS UNBOUNDED PRECEDING) AS cum_tok
         | FROM base)
         |SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         |FROM c WHERE cum_tok <= 800 ORDER BY source, doc_id""".stripMargin),

    // LLM ops — JSONL corpus roundtrip (the de-facto crawl-corpus format):
    // distributed JSON write, then a read with the EXPLICIT documents schema
    // (no inference pass — at 100 TB inference is a second full scan). The
    // oracle is the identity over the parquet table, so the gate proves the
    // JSONL path loses nothing (escaping, unicode, nulls, types).
    QuerySpec("q_src_jsonl_roundtrip", (s, dir) => {
      // scratch on tmpfs when available: the host block device intermittently
      // throttles ~100×, and this query's write is scaffolding, not the op.
      // One dir per fixture, removed at JVM exit: the returned frame reads it
      // lazily and a re-run overwrites it.
      val path = jsonlScratch.computeIfAbsent(dir,
        _ => graft.util.ShmDirs.tempDir("graft_jsonl_").resolve("documents").toString)
      graft.sources.DocumentSources.writeJsonl(t(s, dir, "documents"), path)
      graft.sources.DocumentSources.readDocumentsJsonl(s, path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      // identity over the parquet table: the Spark side must roundtrip through
      // JSONL losslessly to match
      oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),

    // LLM ops — Unicode NFC normalization (first step of most pipeline
    // recipes: composed vs decomposed graphemes break exact dedup and token
    // counts). Map-side custom expression; DuckDB's nfc_normalize computes
    // the identical mapping, so content is hash-gated (64-bit md5 prefix).
    QuerySpec("q_doc_nfc_norm", (s, dir) => {
      val nfc = graft.sources.DocumentSources.nfcNormalize(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        substring(md5(nfc), 1, 16).as("nfc_hash"),
        (nfc === col("text")).as("unchanged"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id, substring(md5(nfc_normalize(text)), 1, 16) AS nfc_hash,
        | nfc_normalize(text) = text AS unchanged
        |FROM documents ORDER BY doc_id""".stripMargin),

    // LLM ops — winnowing rolling-hash fingerprints (Schleimer et al. 2003):
    // per-doc sketch size + content hash of the sorted fingerprint set —
    // the sketch itself is hash-gated, not just its cardinality.
    QuerySpec("q_doc_winnow_fp", (s, dir) =>
      graft.dedup.Dedup.winnowingFingerprints(t(s, dir, "documents"), k = 5, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          substring(md5(concat_ws("|", sort_array(collect_list("fp")))), 1, 16)
            .as("fp_hash"))
        .orderBy("doc_id"),
      // Reproduces the winnowing sketch exactly: same md5-hex k-gram hash, same
      // fixed-width hash-pos selection key (lexicographic min == numeric min),
      // same full-window rule with the short-doc fallback.
      oracle = """WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |            FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |   ELSE [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]
        |  END AS grams
        | FROM tk),
        |e AS (SELECT doc_id, UNNEST(grams) AS gram,
        |        generate_subscripts(grams, 1) - 1 AS pos FROM g),
        |k2 AS (SELECT doc_id, pos,
        |  substring(md5(gram), 1, 15) || '-' || lpad(CAST(pos AS VARCHAR), 6, '0') AS key
        | FROM e),
        |sel AS (SELECT doc_id, pos,
        |  min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |  count(*) OVER (PARTITION BY doc_id) AS ng
        | FROM k2),
        |f AS (SELECT DISTINCT doc_id, substring(fp, 1, 15) AS fp
        |      FROM sel WHERE pos <= greatest(ng - 4, 0))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        | substring(md5(string_agg(fp, '|' ORDER BY fp)), 1, 16) AS fp_hash
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // LLM ops — token counting + character-class ratios.
    QuerySpec("q_doc_token_stats", (s, dir) => {
      import graft.text.TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("token_count"),
        round(alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(digitRatio(col("text")), 6).as("digit_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"))
        .orderBy("doc_id")
    },
      oracle = s"""SELECT doc_id,
         | CAST($duckTokens AS BIGINT) AS token_count,
         | round(${duckRatio("[A-Za-z]")}, 6) AS alpha_ratio,
         | round(${duckRatio("[0-9]")}, 6) AS digit_ratio,
         | round(${duckRatio("[^A-Za-z0-9\\s]")}, 6) AS punct_ratio
         |FROM documents ORDER BY doc_id""".stripMargin),

    // LLM ops — quality scoring (length/stopword/punct/digit heuristic).
    QuerySpec("q_doc_quality", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), graft.text.TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      oracle = s"""SELECT doc_id, floor((
         |  0.35 * least(CAST($duckTokens AS DOUBLE) / 64.0, 1.0)
         |  + 0.25 * (CASE WHEN $duckTokens = 0 THEN 0.0
         |      ELSE least(CAST(${duckHitsSum(graft.text.TextFunctions.EnglishStopwords)} AS DOUBLE)
         |                 / CAST($duckTokens AS DOUBLE) * 4.0, 1.0) END)
         |  + 0.2 * greatest(0.0, 1.0 - ${duckRatio("[^A-Za-z0-9\\s]")} * 4.0)
         |  + 0.2 * greatest(0.0, 1.0 - ${duckRatio("[0-9]")} * 4.0)) * 1000000.0 + 0.5)
         |  / 1000000.0 AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    // LLM ops — language ID (stopword-marker argmax, deterministic tie-break).
    QuerySpec("q_doc_langid", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(graft.text.TextFunctions.langId(col("text")).as("lang_id"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang_id"),
      oracle = {
        val scores = graft.text.TextFunctions.LangMarkers.map { case (lang, words) =>
          lang -> duckHitsSum(words)
        }
        val Seq(en, fr, de, es) = scores.map(_._2)
        s"""SELECT lang_id, count(*) AS cnt FROM (
           | SELECT CASE
           |  WHEN greatest($en, $fr, $de, $es) <= 0 THEN 'und'
           |  WHEN $en >= $fr AND $en >= $de AND $en >= $es THEN 'en'
           |  WHEN $fr >= $de AND $fr >= $es THEN 'fr'
           |  WHEN $de >= $es THEN 'de'
           |  ELSE 'es' END AS lang_id
           | FROM documents) GROUP BY 1 ORDER BY lang_id""".stripMargin
      }),

    // LLM ops — brute-force cosine top-k similarity search (exact ANN baseline).
    QuerySpec("q_emb_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.bruteForceTopK(emb, queries, 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      oracle = bruteForceAnnOracle),

    // LLM ops — exact n-gram (word-3-shingle) Jaccard similarity over all pairs of
    // a 40-doc sample; the exact-verification primitive under MinHash-LSH.
    QuerySpec("q_doc_ngram_jaccard", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), graft.dedup.Dedup.shingles(col("text"), 3).as("sh"))
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        // eval_once (r12): without the fence the jaccard filter is inlined
        // into the cross-join condition and the intersect runs twice per pair
        .withColumn("jaccard", graft.functions.HashExpressions.eval_once(
          round(graft.dedup.Dedup.jaccard(col("sh_a"), col("sh_b")), 6)))
        .filter(col("jaccard") > 0)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    },
      oracle = """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        |  END AS shingles
        | FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |       FROM documents WHERE doc_id < 40))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |  / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) AS jaccard
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        | AND len(list_intersect(a.shingles, b.shingles)) > 0
        |ORDER BY id_a, id_b""".stripMargin),

    // LLM ops — benchmark decontamination: distinct 3-grams shared with the
    // probe set (doc_id % 50 == 0), broadcast map-side join.
    QuerySpec("q_doc_contamination", (s, dir) =>
      graft.dedup.Dedup.contamination(
          t(s, dir, "documents"), col("doc_id") % 50 === 0, k = 3)
        .orderBy("doc_id"),
      oracle = """WITH g AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        |  END AS grams
        | FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |       FROM documents)),
        |probe AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0),
        |corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 50 <> 0)
        |SELECT c.doc_id, CAST(count(DISTINCT c.gram) AS BIGINT) AS shared_grams
        |FROM corpus c JOIN probe p USING (gram)
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin),

    // LLM ops — intra-doc repetition (C4/Gopher-style quality signal).
    QuerySpec("q_doc_repetition", (s, dir) =>
      graft.text.TextFunctions.repetitionStats(t(s, dir, "documents"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS total_tokens,
        | CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens,
        | floor((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |   * 1000000 + 0.5) / 1000000 AS rep_ratio
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // LLM ops — corpus vocabulary top-k (tokenizer-training precursor scan).
    QuerySpec("q_doc_vocab_topk", (s, dir) =>
      graft.text.TextFunctions.vocabTopK(t(s, dir, "documents"), 20),
      oracle = """SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        | SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        | FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin),

    // LLM ops — deterministic train/val/test split by engine-portable id hash
    // (md5-hex60): a doc keeps its split across re-runs and engines.
    QuerySpec("q_doc_split_hash", (s, dir) =>
      graft.pipeline.Pipeline.trainValTest(t(s, dir, "documents"), "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"), sum("doc_id").as("id_sum"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split"),
      // hex60 = first 15 hex chars of md5 as a 60-bit int — DuckDB parses hex via
      // ('0x'||…)::BIGINT, Spark via conv(…,16,10); identical values either way.
      oracle = """WITH b AS (SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        | FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin),

    // LLM ops — deterministic stratified sampling: per-language keep rates
    // (en 10%, rest 50%) assigned by the same portable hash.
    QuerySpec("q_doc_stratified_sample", (s, dir) =>
      graft.pipeline.Pipeline.stratifiedSample(t(s, dir, "documents"), "doc_id",
          when(col("lang") === "en", 10).otherwise(50))
        .select("doc_id", "lang").orderBy("doc_id"),
      oracle = """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin),

    // LLM ops — per-source sampling weights rebalancing to a uniform training
    // mixture (downweight over-represented domains).
    QuerySpec("q_corpus_mix_weights", (s, dir) =>
      graft.pipeline.Pipeline.mixtureWeights(t(s, dir, "documents"), "source")
        .orderBy("source"),
      oracle = """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
        |             CAST(count(*) AS BIGINT) AS n FROM c)
        |SELECT c.source, c.cnt,
        | floor(CAST(c.cnt AS DOUBLE) / t.total * 1000000.0 + 0.5) / 1000000.0 AS share,
        | floor((1.0 / t.n) / (CAST(c.cnt AS DOUBLE) / t.total) * 1000000.0 + 0.5)
        |   / 1000000.0 AS weight
        |FROM c, t ORDER BY c.source""".stripMargin),

    // LLM ops — temperature-scaled mixture (XLM-R / mT5 α-smoothing, α=0.5):
    // boost low-resource languages without hard-uniform's tiny-group blowup.
    QuerySpec("q_corpus_mix_temperature", (s, dir) =>
      graft.pipeline.Pipeline
        .mixtureWeightsTemperature(t(s, dir, "documents"), "lang", alpha = 0.5)
        .orderBy("lang"),
      oracle = graft.pipeline.Pipeline.mixtureTemperatureOracleSql("lang", alpha = 0.5)),

    // LLM ops — APPLY the mixture: deterministic repetition by weight
    // (floor(w) copies + one more iff the id-hash fraction < frac(w)), so the
    // rebalanced corpus is reproducible row-for-row.
    QuerySpec("q_doc_repeat_weighted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = graft.pipeline.Pipeline.mixtureWeights(docs, "source")
        .select(col("source"), col("weight"))
      graft.pipeline.Pipeline
        .repeatByWeight(docs.join(broadcast(w), "source"), "doc_id", col("weight"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_out"), countDistinct("doc_id").as("n_docs"),
          max(col("copy_idx")).cast("long").as("max_copy"))
        .orderBy("source")
    },
      oracle = """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
        |             CAST(count(*) AS BIGINT) AS n FROM c),
        |w AS (SELECT c.source,
        |  floor((1.0 / t.n) / (CAST(c.cnt AS DOUBLE) / t.total) * 1000000.0 + 0.5)
        |    / 1000000.0 AS weight
        | FROM c, t),
        |d AS (SELECT doc_id, d0.source, weight,
        |  CAST(floor(weight) AS BIGINT)
        |  + CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |             % 1000000
        |           < CAST(floor((weight - floor(weight)) * 1000000.0) AS BIGINT)
        |         THEN 1 ELSE 0 END AS n
        | FROM documents d0 JOIN w USING (source)),
        |r AS (SELECT doc_id, source, u.i AS copy_idx
        |      FROM d, UNNEST(generate_series(0, CAST(n AS INT) - 1)) u(i)
        |      WHERE n > 0)
        |SELECT source, count(*) AS n_out, count(DISTINCT doc_id) AS n_docs,
        |       CAST(max(copy_idx) AS BIGINT) AS max_copy
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // LLM ops — corpus length histogram (16-token buckets), integral div.
    QuerySpec("q_doc_length_hist", (s, dir) =>
      t(s, dir, "documents")
        .select(graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("tc"))
        .select(expr("tc div 16").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
      oracle = s"""SELECT CAST($duckTokens AS BIGINT) // 16 AS bucket, count(*) AS cnt
         |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin),

    // LLM ops — per-source cap: at most 25 docs per source, hash-chosen (not
    // arrival order) so the kept set is stable across engines and re-runs.
    QuerySpec("q_doc_cap_source", (s, dir) =>
      graft.pipeline.Pipeline.capPerGroup(
          t(s, dir, "documents"), Seq("source"), "doc_id", 25)
        .select("source", "doc_id", "rank")
        .orderBy("source", "rank"),
      oracle = """SELECT source, doc_id, rank FROM (
        | SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |   ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |            doc_id) AS rank
        | FROM documents) WHERE rank <= 25
        |ORDER BY source, rank""".stripMargin),

    // §2.5 extension — KMV distinct-count sketch: deterministic (unlike HLL),
    // so the ESTIMATE itself is oracle-verified bit-for-bit.
    QuerySpec("q_distinct_kmv", (s, dir) =>
      graft.pipeline.Pipeline.kmvDistinct(events(s, dir), col("user_id"), 64),
      oracle = """WITH h AS (SELECT DISTINCT
        |  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM events),
        |k AS (SELECT h FROM h ORDER BY h LIMIT 64)
        |SELECT CAST(64 AS BIGINT) AS k, max(h) AS kth_hash,
        | CASE WHEN count(*) < 64 THEN count(*) -- fewer than k distinct: exact
        |      ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE))
        |        AS BIGINT) END AS est_distinct
        |FROM k""".stripMargin),

    // LLM ops — duplicated-passage ratio (ExactSubstr-style, Lee et al. 2022):
    // fraction of each doc's 16-token windows that also occur in another doc.
    QuerySpec("q_doc_passage_dup", (s, dir) =>
      graft.dedup.Dedup.duplicatedPassageRatio(t(s, dir, "documents"), 16)
        .orderBy("doc_id"),
      oracle = """WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |            FROM documents),
        |win AS (SELECT doc_id, array_to_string(toks[i:i+15], ' ') AS passage
        |        FROM tk, UNNEST(generate_series(1, len(toks) - 15)) AS u(i)
        |        WHERE len(toks) >= 16),
        |multi AS (SELECT passage
        |          FROM (SELECT passage, count(DISTINCT doc_id) AS nd FROM win GROUP BY 1)
        |          WHERE nd > 1)
        |SELECT w.doc_id, count(*) AS n_windows,
        | CAST(sum(CASE WHEN m.passage IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        | floor(CAST(sum(CASE WHEN m.passage IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_ratio
        |FROM win w LEFT JOIN multi m ON w.passage = m.passage
        |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin),

    // LLM ops — passage-level dedup TRANSFORM (Lee et al. 2021): duplicated
    // 13-token spans removed corpus-wide, first occurrence (min (doc,start))
    // kept. Content hash-gated (64-bit md5 prefix of the cleaned text).
    QuerySpec("q_doc_passage_remove", (s, dir) =>
      graft.dedup.Dedup.removeDuplicatedPassages(t(s, dir, "documents"), 13)
        .select(col("doc_id"),
          substring(md5(col("kept_text")), 1, 16).as("kept_hash"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id"),
      // Same first-occurrence order key encoding (doc_id*1e6 + start, 0-based
      // start) as the Spark side; window equality over lowercased tokens, kept
      // text in original case, whitespace-normalized by reassembly.
      oracle = passageRemoveOracle(docBound = None)),

    // Bounded-slice variant — same rationale as q_doc_minhash_neardup_s (the
    // transform itself is linear, but its oracle's window join is the
    // quadratic-ish part at big SFs; the slice pins oracle cost).
    QuerySpec("q_doc_passage_remove_s", (s, dir) =>
      graft.dedup.Dedup.removeDuplicatedPassages(
        t(s, dir, "documents").filter(col("doc_id") < 2000), 13)
        .select(col("doc_id"),
          substring(md5(col("kept_text")), 1, 16).as("kept_hash"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id"),
      // bounded slice: the oracle's window join stays feasible at any SF
      oracle = passageRemoveOracle(docBound = Some(2000L))),

    // LLM ops — exact-substring dedup FINDER (Lee et al. 2021 ExactSubstr,
    // the suffix-array family): maximal spans of ≥13 consecutive tokens all
    // of whose 13-token windows occur at ≥2 positions corpus-wide. One
    // window explode + one content-keyed aggregation + gaps-and-islands —
    // never all-pairs.
    QuerySpec("q_doc_substr_dedup", (s, dir) =>
      graft.dedup.Dedup.exactSubstrSpans(t(s, dir, "documents"), 13)
        .orderBy("doc_id", "span_start"),
      // Same tokenization + 0-based window starts as the passage oracle; span
      // merge replayed as the identical gaps-and-islands window.
      oracle = s"""WITH lw AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks
         |            FROM documents),
         |w AS (SELECT doc_id, i AS start, array_to_string(ltoks[i+1:i+13], ' ') AS win
         |      FROM lw, UNNEST(generate_series(0, len(ltoks) - 13)) g(i)
         |      WHERE len(ltoks) >= 13),
         |dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
         |m AS (SELECT w.doc_id, w.start FROM w JOIN dup USING (win)),
         |isl AS (SELECT doc_id, start,
         |          start - row_number() OVER (PARTITION BY doc_id ORDER BY start) AS g
         |        FROM m)
         |SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
         |  CAST(max(start) + 12 AS BIGINT) AS span_end,
         |  CAST(max(start) - min(start) + 13 AS BIGINT) AS span_tokens
         |FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin),

    // LLM ops — PII scrub: detection counts + redacted-text hash. The corpus has
    // no PII, so deterministic synthetic PII is injected per doc (email always,
    // IP on even ids, phone on ids % 3 == 0) and then found + redacted.
    QuerySpec("q_doc_pii", (s, dir) => {
      import graft.text.PiiFunctions
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" from 10.1."), (col("doc_id") % 200).cast("string"), lit(".77")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(" call +1 415-555-0133")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), injected.as("txt"))
        .select(col("doc_id"),
          PiiFunctions.emailCount(col("txt")).as("n_email"),
          PiiFunctions.ipv4Count(col("txt")).as("n_ip"),
          PiiFunctions.phoneCount(col("txt")).as("n_phone"),
          substring(md5(PiiFunctions.redact(col("txt"))), 1, 16).as("redacted_hash"))
        .orderBy("doc_id")
    },
      oracle = {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}"
        val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
        val phone = "(\\+[0-9]{1,2} )?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
        s"""WITH d AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
           |  || '@mail.example.com'
           |  || CASE WHEN doc_id % 2 = 0
           |       THEN ' from 10.1.' || CAST(doc_id % 200 AS VARCHAR) || '.77' ELSE '' END
           |  || CASE WHEN doc_id % 3 = 0 THEN ' call +1 415-555-0133' ELSE '' END AS txt
           | FROM documents)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT) AS n_email,
           | CAST(len(regexp_extract_all(txt, '$ip')) AS BIGINT) AS n_ip,
           | CAST(len(regexp_extract_all(txt, '$phone')) AS BIGINT) AS n_phone,
           | substring(md5(regexp_replace(regexp_replace(regexp_replace(txt,
           |   '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g')),
           |   1, 16) AS redacted_hash
           |FROM d ORDER BY doc_id""".stripMargin
      }),

    // LLM ops — fixed 32-token training-sequence chunking; chunk content verified
    // by a 64-bit md5 prefix, so the oracle checks CONTENT, not just counts.
    QuerySpec("q_doc_chunk_tokens", (s, dir) =>
      graft.pipeline.Pipeline.chunkTokens(t(s, dir, "documents"), "doc_id", "text", 32)
        .orderBy("doc_id", "chunk_idx"),
      oracle = """WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |            FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id, i AS chunk_idx, toks[i*32+1 : i*32+32] AS chunk
        |      FROM tk, UNNEST(generate_series(0, (len(toks) - 1) // 32)) AS u(i))
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(len(chunk) AS BIGINT) AS n_tok,
        | substring(md5(array_to_string(chunk, ' ')), 1, 16) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // LLM ops — dedup CLUSTERING: connected components over the shared-shingle
    // pair graph (same 40-doc sample as q_doc_ngram_jaccard; edge = ≥2 shared
    // 3-shingles, an INTEGER threshold so the edge set has no float knife
    // edge) — pairs become groups keyed by their minimum doc id. Oracle:
    // DuckDB recursive-CTE transitive closure.
    QuerySpec("q_doc_dedup_groups", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), graft.dedup.Dedup.shingles(col("text"), 3).as("sh"))
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))) >= 2)
        .select("id_a", "id_b")
      graft.dedup.Dedup.connectedComponents(pairs)
        .orderBy("doc_id")
    },
      oracle = """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        |  END AS shingles
        | FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |       FROM documents WHERE doc_id < 40)),
        |edges AS (
        | SELECT a.doc_id AS s, b.doc_id AS d FROM sh a, sh b
        | WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.shingles, b.shingles)) >= 2),
        |undirected AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
        |reach AS (
        | WITH RECURSIVE r(v, w) AS (
        |  SELECT s, d FROM undirected
        |  UNION
        |  SELECT r.v, u.d FROM r JOIN undirected u ON r.w = u.s)
        | SELECT v, w FROM r)
        |SELECT v AS doc_id, least(v, min(w)) AS component
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),

    // LLM ops — canonical selection over the dedup clusters: keep the
    // best-quality member of each near-dup group (ties → smallest doc_id) —
    // the "which copy do we keep" endpoint of the dedup pipeline.
    QuerySpec("q_doc_dedup_canonical", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 40)
      val sh = d.select(col("doc_id"), graft.dedup.Dedup.shingles(col("text"), 3).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))) >= 2)
        .select("id_a", "id_b")
      val clusters = graft.dedup.Dedup.connectedComponents(pairs)
      val scored = d.select(col("doc_id"),
        graft.text.TextFunctions.qualityScore(col("text")).as("quality"))
      graft.dedup.Dedup.keepBestPerCluster(clusters, scored)
    },
      // same clusters CTE as q_doc_dedup_groups + the q_doc_quality formula;
      // per-cluster argmax by (quality DESC, doc_id) via row_number on both
      // engines so ties resolve identically
      oracle = s"""WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        |  END AS shingles
        | FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        |       FROM documents WHERE doc_id < 40)),
        |edges AS (
        | SELECT a.doc_id AS s, b.doc_id AS d FROM sh a, sh b
        | WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.shingles, b.shingles)) >= 2),
        |undirected AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
        |reach AS (
        | WITH RECURSIVE r(v, w) AS (
        |  SELECT s, d FROM undirected
        |  UNION
        |  SELECT r.v, u.d FROM r JOIN undirected u ON r.w = u.s)
        | SELECT v, w FROM r),
        |clusters AS (SELECT v AS doc_id, least(v, min(w)) AS component
        |             FROM reach GROUP BY v),
        |q AS (SELECT doc_id, floor((
        |  0.35 * least(CAST($duckTokens AS DOUBLE) / 64.0, 1.0)
        |  + 0.25 * (CASE WHEN $duckTokens = 0 THEN 0.0
        |      ELSE least(CAST(${duckHitsSum(graft.text.TextFunctions.EnglishStopwords)} AS DOUBLE)
        |                 / CAST($duckTokens AS DOUBLE) * 4.0, 1.0) END)
        |  + 0.2 * greatest(0.0, 1.0 - ${duckRatio("[^A-Za-z0-9\\s]")} * 4.0)
        |  + 0.2 * greatest(0.0, 1.0 - ${duckRatio("[0-9]")} * 4.0)) * 1000000.0 + 0.5)
        |  / 1000000.0 AS quality
        | FROM documents WHERE doc_id < 40),
        |ranked AS (
        | SELECT component, doc_id, quality,
        |  row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY component) AS cluster_size
        | FROM clusters JOIN q USING (doc_id))
        |SELECT component, doc_id AS kept_doc_id, cluster_size, quality AS kept_quality
        |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin),

    // LLM ops — MinHash+LSH near-dup candidates with exact Jaccard verify.
    // ORACLE-GATED (VERDICT r4 #5): at threshold 0.5 with the scale-tuned
    // 32-hash/16-band config, every qualifying pair on these fixtures has
    // J ≥ 0.8 (per-pair band-miss probability (1-J²)^16 ≤ 8e-8) and the
    // candidate set was verified to cover ALL of them at sf0.001/0.01/0.1
    // (28/25/256 pairs, 0 missed vs brute force) — so the exact-verify output
    // deterministically equals the all-pairs answer the DuckDB oracle
    // computes. rowsPerBand=2 keeps candidate volume collision-proportional
    // (a rowsPerBand=1 config is also exact here but makes every J≳0.1 pair a
    // candidate — measured 8× slower; banding IS the precision knob).
    QuerySpec("q_doc_minhash_neardup", (s, dir) =>
      graft.dedup.Dedup.minhashNearDupPairs(
        t(s, dir, "documents"), threshold = 0.5, numHashes = 32, bands = 16)
        .orderBy("id_a", "id_b"),
      // Brute-force all-pairs Jaccard ≥ 0.5 over word-3-shingles: the LSH query's
      // candidate set provably covers every qualifying pair on these fixtures
      // (min qualifying J = 0.8, band-miss ≤ 8e-8/pair; verified 0 missed at
      // sf0.001/0.01/0.1), so the verified output equals this exact answer.
      // EXACT all-shared-shingle formulation (not all-pairs): explode to
      // (doc, shingle) rows, equi-join on the shingle for the intersection
      // count, J = i/(n_a+n_b-i). Work is proportional to shared-shingle pair
      // mass, not docs² — the oracle stays feasible at 10×/100× fixtures where
      // the naive cartesian timed out (rows-only gates in SCALE_r05). Verified
      // row-identical to the all-pairs form at sf0.001/0.01 (and against the
      // independent naive _s slice at every SF).
      oracle = """WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |            FROM documents),
        |ex AS (
        | SELECT DISTINCT doc_id,
        |   CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
        |        ELSE array_to_string(toks[i:i+2], ' ') END AS s
        | FROM tk, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
        |card AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | round(CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE), 6) AS jaccard
        |FROM inter JOIN card ca ON inter.id_a = ca.doc_id
        |           JOIN card cb ON inter.id_b = cb.doc_id
        |WHERE round(CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // Bounded-slice variant (VERDICT r5 #4): the full-corpus query above is
    // hash-gated at the gate SFs, but its all-pairs DuckDB oracle is quadratic
    // — at 10×+ the RECORDED run gated it rows-only. This fixed 2000-doc slice
    // keeps the oracle subquadratic at ANY SF, so the hash gate holds in every
    // scale record (the q_emb_neardup_exact pattern).
    QuerySpec("q_doc_minhash_neardup_s", (s, dir) =>
      graft.dedup.Dedup.minhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") < 2000),
        threshold = 0.5, numHashes = 32, bands = 16)
        .orderBy("id_a", "id_b"),
      // bounded slice: all-pairs stays subquadratic at any SF
      oracle = """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |   ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        |  END AS shingles
        | FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |       FROM documents WHERE doc_id < 2000)),
        |scored AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |   / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) AS jaccard
        | FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // INCREMENTAL near-dup via the MATERIALIZED LSH index (MinHashIndex — the
    // dedup analog of q_emb_ivf_indexed): the corpus side (doc_id % 17 != 0)
    // is banded ONCE into a bh_part-partitioned bucket layout; the batch
    // (doc_id % 17 == 0) probes only its own bucket partitions. Exactness on
    // the fixtures follows the same argument as q_doc_minhash_neardup (same
    // 32/16 config: band-miss <= 8e-8 for J >= 0.8 pairs, estimate at 3-sigma),
    // so the probe output EQUALS the exact cross-pair answer the oracle
    // computes with the subquadratic shared-shingle formulation.
    QuerySpec("q_doc_minhash_index_probe", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.MinHashIndex.probe(s, mhIndex(s, dir),
          docs.filter(col("doc_id") % 17 === 0),
          docs.filter(col("doc_id") % 17 =!= 0), threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    },
      // index probe: same shared-shingle EXACT formulation, restricted to
      // (batch x corpus) cross pairs — work stays proportional to shared-shingle
      // pair mass at any SF
      oracle = """WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |            FROM documents),
        |ex AS (
        | SELECT DISTINCT doc_id,
        |   CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
        |        ELSE array_to_string(toks[i:i+2], ' ') END AS s
        | FROM tk, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
        |card AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, count(*) AS i
        |          FROM ex a JOIN ex b ON a.s = b.s
        |          WHERE a.doc_id % 17 = 0 AND b.doc_id % 17 <> 0
        |          GROUP BY 1, 2)
        |SELECT batch_id, corpus_id,
        | round(CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE), 6) AS jaccard
        |FROM inter JOIN card ca ON inter.batch_id = ca.doc_id
        |           JOIN card cb ON inter.corpus_id = cb.doc_id
        |WHERE round(CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE), 6) >= 0.5
        |ORDER BY batch_id, corpus_id""".stripMargin),

    // LLM ops — SimHash near-dup pairs, EXACT portable variant (VERDICT r4
    // #5): 60-bit md5 simhash banded into maxHamming+1 blocks — pigeonhole
    // makes recall PROVABLY 1.0, and the md5 token hash lets DuckDB recompute
    // the identical signature, so the pair set is hash-gated. maxHamming=3
    // keeps the pigeonhole blocks 15 bits wide (32k bucket values): at
    // maxHamming=5 the blocks shrink to 10 bits (1k values) and candidate
    // pairs grow ~quadratically with corpus size (measured 19× runtime at 10×
    // docs vs 2× here) — block width is the exactness/scale knob. The
    // xxhash64 4-block recall-tuned variant stays spec-gated.
    QuerySpec("q_doc_simhash_neardup", (s, dir) =>
      graft.dedup.Dedup.simhashNearDupPairsExact(
        t(s, dir, "documents"), maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b"),
      // Recomputes the IDENTICAL portable 60-bit md5 simhash (token hash =
      // first 15 md5 hex chars, the repo-wide md5-hex recipe); exact
      // block-join + Hamming-verify formulation (see simhashOracle scaladoc).
      oracle = simhashOracle(docBound = None)),

    // Bounded-slice variant — same rationale as q_doc_minhash_neardup_s.
    QuerySpec("q_doc_simhash_neardup_s", (s, dir) =>
      graft.dedup.Dedup.simhashNearDupPairsExact(
        t(s, dir, "documents").filter(col("doc_id") < 2000), maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy("id_a", "id_b"),
      // bounded slice: all-pairs stays subquadratic at any SF
      oracle = simhashOracle(docBound = Some(2000L))),

    // LLM ops — exact edit-distance VERIFICATION of the simhash candidates
    // (the fine-grained confirm stage fuzzy dedup runs after the sketch pass):
    // editSim = 1 - lev/maxLen >= 0.8, gated entirely in integers. Candidate
    // recall within Hamming<=3 is exact (pigeonhole banding), so both engines
    // verify the identical pair set.
    QuerySpec("q_doc_editsim", (s, dir) =>
      graft.dedup.Dedup.editSimNearDupPairs(
        t(s, dir, "documents"), maxHamming = 3, simNum = 80, simDen = 100)
        .orderBy("id_a", "id_b"),
      oracle = editSimOracle(simNum = 80, simDen = 100)),

    // LLM ops — exact embedding-cosine near-dup pairs (brute-force baseline;
    // the LSH-bucketed scale path in Dedup.embeddingNearDupPairs is
    // probabilistic and spec-gated instead). Input bounded to a fixed 500-vec
    // sample so the deliberate all-pairs baseline stays O(1) in SF — the same
    // bounded-sample pattern as q_doc_ngram_jaccard / q_doc_dedup_groups.
    QuerySpec("q_emb_neardup_exact", (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        // eval_once (r12): keeps the dot product out of the cross-join
        // condition, where it would run twice per pair
        .withColumn("cosine", graft.functions.HashExpressions.eval_once(
          round(graft.sim.Similarity.cosine(col("va"), col("vb")), 4)))
        .filter(col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    },
      oracle = """WITH scored AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round((SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z)
        |  / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(a.embedding) AS x) z2))
        |   * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(b.embedding) AS y) z3))), 4) AS cosine
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500)
        |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    // LLM ops — SemDeDup (Abbas et al. 2023) at nClusters=1 (single cluster ⇒
    // exact all-pairs ⇒ hash-gated; the clustered O(Σ cluster²) scale path is
    // spec-gated with planted-duplicate recall). Input bounded to a fixed
    // 500-vec sample — nClusters=1 is deliberately all-pairs, so the oracle
    // input must not grow with SF.
    QuerySpec("q_emb_semdedup", (s, dir) =>
      graft.sim.Similarity.semanticDedup(
          t(s, dir, "embeddings").filter(col("vec_id") < 500),
          threshold = 0.4, nClusters = 1)
        .orderBy("vec_id"),
      // SemDeDup at nClusters=1 is exact all-pairs: dropped = any vector with a
      // smaller-id neighbor at rounded cosine >= threshold
      oracle = """WITH scored AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round((SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z)
        |  / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(a.embedding) AS x) z2))
        |   * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(b.embedding) AS y) z3))), 4) AS cosine
        | FROM embeddings a, embeddings b
        | WHERE a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500),
        |dropped AS (SELECT DISTINCT id_b FROM scored WHERE cosine >= 0.4)
        |SELECT e.vec_id, (d.id_b IS NULL) AS kept
        |FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.id_b
        |WHERE e.vec_id < 500
        |ORDER BY e.vec_id""".stripMargin),

    // LLM ops — per-label embedding centroids (k-means update step / per-class
    // mean embedding), long form (label, pos, centroid_v, n).
    QuerySpec("q_emb_label_centroid", (s, dir) =>
      graft.sim.Similarity.labelCentroids(t(s, dir, "embeddings"), "label")
        .orderBy("label", "pos"),
      oracle = """SELECT label, CAST(pos AS BIGINT) AS pos,
        | floor(avg(CAST(v AS DOUBLE)) * 100000.0 + 0.5) / 100000.0 AS centroid_v,
        | CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT label, unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) - 1 AS pos
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin),

    // LLM ops — concat-then-chunk sequence packing: docs laid on one token tape
    // in portable-hash order, cut into 512-token training sequences; per-doc
    // tape offset and spanned sequence range. Two-phase distributed prefix sum
    // (no single-partition window).
    QuerySpec("q_doc_pack_sequences", (s, dir) =>
      graft.pipeline.Pipeline.packSequences(
          t(s, dir, "documents"), "doc_id", "text", seqTokens = 512)
        .orderBy("doc_id"),
      oracle = s"""WITH t AS (SELECT doc_id, CAST($duckTokens AS BIGINT) AS n_tok,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         | FROM documents WHERE $duckTokens > 0),
         |c AS (SELECT doc_id, n_tok,
         |  CAST(SUM(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
         |       - n_tok AS BIGINT) AS start_tok
         | FROM t)
         |SELECT doc_id, n_tok, start_tok,
         | CAST(start_tok // 512 AS BIGINT) AS seq_first,
         | CAST((start_tok + n_tok - 1) // 512 AS BIGINT) AS seq_last,
         | CAST((start_tok + n_tok - 1) // 512 - start_tok // 512 + 1 AS BIGINT)
         |   AS n_seqs
         |FROM c ORDER BY doc_id""".stripMargin),

    // LLM ops — Gopher quality-rule flags (Rae et al. 2021 Table A1, the
    // deterministic SQL-expressible subset) + overall keep verdict.
    QuerySpec("q_doc_gopher_filter", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +: graft.text.TextFunctions.gopherFlags(col("text")): _*)
        .orderBy("doc_id"),
      oracle = s"""WITH g AS (SELECT doc_id,
         |  CAST($duckTokens AS BIGINT) AS n_tok,
         |  CASE WHEN $duckTokens = 0 THEN 0.0
         |   ELSE floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |        / CAST($duckTokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END
         |    AS mean_tok_len,
         |  ${duckRatio("[^A-Za-z0-9\\s]")} AS punct_r,
         |  ${duckRatio("[A-Za-z]")} AS alpha_r,
         |  ${duckHitsSum(graft.text.TextFunctions.EnglishStopwords)} AS stop_hits
         | FROM documents)
         |SELECT doc_id, n_tok, mean_tok_len,
         | (n_tok >= 50 AND n_tok <= 100000) AS ok_n_tok,
         | (mean_tok_len >= 3.0 AND mean_tok_len <= 10.0) AS ok_tok_len,
         | (punct_r <= 0.1) AS ok_symbol,
         | (alpha_r >= 0.6) AS ok_alpha,
         | (stop_hits >= 2) AS ok_stopwords,
         | (n_tok >= 50 AND n_tok <= 100000 AND mean_tok_len >= 3.0
         |  AND mean_tok_len <= 10.0 AND punct_r <= 0.1 AND alpha_r >= 0.6
         |  AND stop_hits >= 2) AS keep
         |FROM g ORDER BY doc_id""".stripMargin),

    // LLM ops — END-TO-END pipeline composition: NFC normalize → Gopher
    // quality filter → exact dedup (first-wins on the normalized fingerprint)
    // → 512-token sequence packing. One query proving the operators COMPOSE —
    // the user journey a training-data pipeline actually runs — with a
    // composed DuckDB oracle built from the same proven per-operator pieces.
    QuerySpec("q_pipeline_e2e", (s, dir) => {
      import graft.text.TextFunctions
      // normalize-once-MATERIALIZE: without the checkpoint barrier Catalyst
      // pushes the gopher filter below the projection, substituting
      // nfcNormalize into every sub-predicate — the normalization then runs
      // ~30× per row (observed in the physical plan). Materializing the
      // normalized text once is also what a real pipeline does: three
      // downstream stages (filter, fingerprint dedup, packing) reuse it.
      val src = t(s, dir, "documents").select(col("doc_id"),
        graft.sources.DocumentSources.nfcNormalize(col("text")).as("text"))
        .cutLineage(true)
      // single-pass native keep (no per-flag projection needed here), then
      // window-based first-wins dedup — ONE subtree and ONE shuffle, where the
      // groupBy-keepers + join-back form evaluated the whole gopher chain once
      // per join side. The survivors barrier matters the same way the src one
      // does: packSequences consumes its input in two subtrees (per-bucket
      // ranks + bucket offsets), which re-ran filter+dedup twice unmaterialized
      // (measured 4 gopher evaluations per run → 1 after the two barriers).
      val kept = src.filter(TextFunctions.gopherKeep(col("text")))
        .select("doc_id", "text")
      val survivors = graft.dedup.Dedup.exact(kept).cutLineage(true)
      graft.pipeline.Pipeline.packSequences(survivors, "doc_id", "text", seqTokens = 512)
        .select("doc_id", "n_tok", "start_tok", "seq_first", "seq_last")
        .orderBy("doc_id")
    },
      // global token-tape prefix sum in (hex60, id) order; SUM(BIGINT) is HUGEINT
      // in DuckDB, so every derived column is cast back to BIGINT
      // Composed from the proven per-operator oracle pieces: nfc_normalize →
      // gopher keep predicate → first-wins fingerprint dedup → the pack
      // prefix-sum, all over the SAME text lineage as the Spark chain.
      oracle = s"""WITH src AS (SELECT doc_id, nfc_normalize(text) AS text FROM documents),
         |g AS (SELECT doc_id, text, CAST($duckTokens AS BIGINT) AS n_tok,
         |  CASE WHEN $duckTokens = 0 THEN 0.0
         |   ELSE floor(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |        / CAST($duckTokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END
         |    AS mean_tok_len,
         |  ${duckRatio("[^A-Za-z0-9\\s]")} AS punct_r,
         |  ${duckRatio("[A-Za-z]")} AS alpha_r,
         |  ${duckHitsSum(graft.text.TextFunctions.EnglishStopwords)} AS stop_hits
         | FROM src),
         |kept AS (SELECT doc_id, text, n_tok FROM g
         | WHERE n_tok >= 50 AND n_tok <= 100000 AND mean_tok_len >= 3.0
         |  AND mean_tok_len <= 10.0 AND punct_r <= 0.1 AND alpha_r >= 0.6
         |  AND stop_hits >= 2),
         |fp AS (SELECT doc_id, n_tok,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM kept),
         |sv AS (SELECT f.doc_id, f.n_tok FROM fp f
         |  JOIN (SELECT fp, min(doc_id) AS keeper FROM fp GROUP BY fp) d
         |    ON f.fp = d.fp AND f.doc_id = d.keeper),
         |t AS (SELECT doc_id, n_tok,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         | FROM sv WHERE n_tok > 0),
         |c AS (SELECT doc_id, n_tok,
         |  CAST(SUM(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
         |       - n_tok AS BIGINT) AS start_tok
         | FROM t)
         |SELECT doc_id, n_tok, start_tok,
         | CAST(start_tok // 512 AS BIGINT) AS seq_first,
         | CAST((start_tok + n_tok - 1) // 512 AS BIGINT) AS seq_last
         |FROM c ORDER BY doc_id""".stripMargin),

    // LLM ops — LSH ANN machinery at bucket-all (numPlanes=0 ⇒ one bucket ⇒
    // candidates = whole corpus ⇒ EXACT, so the signature-join path itself is
    // hash-gated against the brute-force oracle, same trick as q_emb_ivf_indexed's
    // probe-all). The realistic multi-plane/multi-table recall path is spec-gated
    // (TextDedupSimSpec / 1M-row recall probe).
    QuerySpec("q_emb_lsh_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.lshTopK(emb, queries, 5, numPlanes = 0, tables = 1)
        .withColumn("cosine", round(col("cosine"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      // exact-mode ANN variants (bucket-all LSH / probe-all IVF / full-rerank
      // int8) are output-equivalent to brute force BY CONSTRUCTION — each verifies
      // a different physical machinery against the same oracle
      oracle = bruteForceAnnOracle),

    // LLM ops — IVF ANN at probe-all (nProbe = nCentroids ⇒ every cell probed ⇒
    // EXACT ⇒ hash-gated: the centroid-assignment + cell-join machinery is what's
    // verified). The realistic nProbe<nCentroids recall path is spec-gated
    // (WireAndIvfSpec).
    QuerySpec("q_emb_ivf_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Similarity.ivfTopK(emb, queries, 5, nCentroids = 16, nProbe = 16)
        .withColumn("cosine", round(col("cosine"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      oracle = bruteForceAnnOracle),

    // LLM ops — GPT-2-style pre-tokenization pieces (the regex stage before BPE
    // merging, lookahead-free for RE2 portability): count + content hash, so
    // the oracle verifies the exact piece sequence, not just its length.
    QuerySpec("q_doc_bpe_tokens", (s, dir) => {
      import graft.text.TextFunctions
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.bpePieceCount(col("text")).cast("long").as("n_pieces"),
        substring(md5(array_join(TextFunctions.bpePieces(col("text")), "\u0001")), 1, 16)
          .as("pieces_hash"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
        |   AS BIGINT) AS n_pieces,
        | substring(md5(array_to_string(
        |   regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'),
        |   chr(1))), 1, 16) AS pieces_hash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // LLM ops — int8 symmetric embedding quantization: per-vector scale,
    // integer code stats (exact cross-engine: floor-rounding, integer sums).
    QuerySpec("q_emb_quantize", (s, dir) => {
      import graft.sim.Quantize
      val codes = Quantize.int8Codes(col("embedding"))
      t(s, dir, "embeddings").select(
        col("vec_id"),
        (floor(Quantize.int8Scale(col("embedding")) * 1e6 + 0.5) / 1e6).as("scale_micro"),
        aggregate(codes, lit(0L), (a, q) => a + abs(q).cast("long")).as("sum_abs_q"),
        size(filter(codes, q => abs(q) === 127)).cast("long").as("n_sat"))
        .orderBy("vec_id")
    },
      oracle = """WITH q AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        | FROM embeddings)
        |SELECT vec_id,
        | floor(scale * 1000000 + 0.5) / 1000000 AS scale_micro,
        | CAST(coalesce(list_sum(list_transform(embedding, x ->
        |   abs(least(127, greatest(-127,
        |     CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))))), 0) AS BIGINT)
        |   AS sum_abs_q,
        | CAST(len(list_filter(embedding, x ->
        |   abs(least(127, greatest(-127,
        |     CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))) = 127)) AS BIGINT)
        |   AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin),

    // LLM ops — product quantization: per-subspace L2 codebooks (m=4, k=8,
    // one Lloyd round), map-side encode, ADC top-5 with an integer-micro LUT
    // (exact BIGINT doc scores). Hash-gated against the identical per-subspace
    // Lloyd chains + LUT replayed in DuckDB.
    QuerySpec("q_emb_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cbs = graft.sim.Quantize.pqTrain(emb, m = 4, k = 8, iters = 1)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Quantize.pqTopK(emb, queries, cbs, k = 5)
        .orderBy("query_id", "rank")
    },
      oracle = graft.sim.Quantize.pqOracleSql(m = 4, k = 8, iters = 1, topK = 5,
          queryPredSql = "p.vec_id < 3")),

    // LLM ops — MATERIALIZED IVF ANN: corpus written cell-partitioned once,
    // queries read only probed cells (partition pruning). Probing ALL cells is
    // exact, so unlike the rows-only q_emb_ivf_ann this one is hash-gated
    // against the brute-force oracle.
    // LLM ops — MMR diversity selection (Carbonell & Goldstein 1998): greedy
    // λ·relevance − (1−λ)·max-sim-to-selected over the top-20 cosine pool of
    // query vec 0 — near-duplicate candidates can't crowd the result.
    QuerySpec("q_emb_mmr_select", (s, dir) =>
      graft.sim.Similarity.mmrSelect(t(s, dir, "embeddings"),
        queryId = 0L, pool = 20, k = 5),
      oracle = graft.sim.Similarity.mmrOracleSql(queryId = 0L, pool = 20, k = 5)),

    // LLM ops — Johnson-Lindenstrauss ±1 random projection (Achlioptas) to 16
    // dims: md5-parity sign matrix + exact integer-micro signed sums — the
    // cheap dimensionality cut upstream of clustering/ANN. Dim content is
    // verified via an ordered md5 over the micro values.
    QuerySpec("q_emb_rp_project", (s, dir) =>
      graft.sim.Similarity.rpProject(t(s, dir, "embeddings"), outDim = 16)
        .select(col("vec_id"),
          substring(md5(concat_ws("|",
            transform(col("rp_micro"), x => x.cast("string")))), 1, 16).as("rp_hash"),
          element_at(col("rp"), 1).as("rp0"),
          element_at(col("rp"), 2).as("rp1"))
        .orderBy("vec_id"),
      oracle = graft.sim.Similarity.rpOracleSql(outDim = 16)),

    // LLM ops — IVF-PQ (FAISS IndexIVFPQ shape): cell-partitioned index with
    // stored per-row PQ code words; the ADC stage scans ONLY the m-byte codes
    // column of the probed cells, the exact re-rank touches true vectors for
    // the shortlist alone. Probe-all + generous rerank ⇒ exact (hash-gated vs
    // the brute-force oracle, like the other probe-all ANN gates).
    QuerySpec("q_emb_ivfpq_ann", (s, dir) => {
      val root = ivfPqIndex(s, dir)
      val queries = t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.IvfIndex.topKPq(s, root, queries, k = 5, nProbe = 8,
          rerankFactor = 40)
        .withColumn("cosine", round(col("cosine"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      // NOT the brute-force oracle: a fixed rerankFactor cannot promise the ADC
      // shortlist contains the true top-k as the corpus grows (broke at 10×) —
      // the oracle replays the full normalize→train→encode→shortlist→rerank
      // pipeline instead, which holds at any scale.
      oracle = graft.sim.Quantize.ivfPqOracleSql(m = 4, k = 16, iters = 1, topK = 5,
          rerankFactor = 40, queryPredSql = "p.vec_id < 3")),

    QuerySpec("q_emb_ivf_indexed", (s, dir) => {
      val root = ivfIndex(s, dir)
      val queries = t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.IvfIndex.topK(s, root, queries, k = 5, nProbe = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      // probe-all IVF over the MATERIALIZED index is exact too
      oracle = bruteForceAnnOracle),

    // LLM ops — spherical k-means TRAINING (Lloyd's, cosine assignment):
    // trained cluster structure for IVF/SemDeDup/cluster-balanced sampling.
    // Map-side argmax assignment per round; the oracle replays the identical
    // µ-rounded loop as an unrolled DuckDB CTE chain (the bpe_train pattern).
    QuerySpec("q_emb_kmeans", (s, dir) =>
      graft.sim.Similarity.kmeansTrain(t(s, dir, "embeddings"), k = 8, iters = 2)
        .orderBy("vec_id"),
      oracle = graft.sim.Similarity.kmeansOracleSql(8, 2)),

    // LLM ops — DSIR data selection (Xie et al. 2023): rank the raw pool by
    // hashed-n-gram importance ratio against a target distribution (probe set
    // doc_id % 50 == 0 — the contamination fixture reused as the "domain we
    // want more of") and keep the deterministic top 40.
    QuerySpec("q_doc_dsir_select", (s, dir) =>
      graft.pipeline.Pipeline.dsirSelect(
        t(s, dir, "documents"), col("doc_id") % 50 === 0, selectK = 40),
      oracle = graft.pipeline.Pipeline.dsirOracleSql("doc_id % 50 = 0", selectK = 40)),

    // LLM ops — count-min sketch token frequencies: a depth×width integer
    // summary (mergeable/linear — partial aggregation IS the merge) probed
    // for 20 deterministic tokens, with the exact counts alongside so the
    // one-sided overestimate property is visible in the gated data.
    QuerySpec("q_doc_cms_tokens", (s, dir) => {
      import graft.pipeline.Pipeline
      val docs = t(s, dir, "documents")
      val tok = (d: org.apache.spark.sql.DataFrame) => d.select(explode(
        filter(graft.text.TextFunctions.tokens(col("text")), t => t =!= lit("")))
        .as("tok"))
      val toks = tok(docs)
      val sketch = Pipeline.cmsSketch(toks, col("tok"))
      val probes = tok(docs.filter(col("doc_id") < 3))
        .distinct().orderBy("tok").limit(20)
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      Pipeline.cmsEstimate(sketch, probes, col("tok"))
        .join(truth, col("probe") === col("tok"), "left")
        .select(col("probe"), col("est"),
          coalesce(col("true_cnt"), lit(0L)).as("true_cnt"))
        .orderBy("probe")
    },
      oracle = """WITH toks AS MATERIALIZED (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS tok FROM documents),
        |sk AS MATERIALIZED (
        |  SELECT r, ('0x' || substring(md5(r || '|' || tok), 1, 15))::BIGINT % 1024 AS bucket,
        |         count(*) AS cnt
        |  FROM toks CROSS JOIN (SELECT unnest(range(0, 4)) AS r) GROUP BY 1, 2),
        |probes AS MATERIALIZED (
        |  SELECT DISTINCT tok FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                              x -> x <> '')) AS tok
        |    FROM documents WHERE doc_id < 3) ORDER BY tok LIMIT 20),
        |pe AS (
        |  SELECT p.tok AS probe, rr.r,
        |    ('0x' || substring(md5(rr.r || '|' || p.tok), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM probes p CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rr),
        |est AS (
        |  SELECT pe.probe, min(coalesce(sk.cnt, 0)) AS est
        |  FROM pe LEFT JOIN sk ON sk.r = pe.r AND sk.bucket = pe.bucket
        |  GROUP BY pe.probe),
        |tc AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok)
        |SELECT e.probe, e.est, coalesce(tc.true_cnt, 0) AS true_cnt
        |FROM est e LEFT JOIN tc ON tc.tok = e.probe ORDER BY e.probe""".stripMargin),

    // LLM ops — fastText-style quality classifier trained IN the engine
    // (hashed-BoW logistic regression, 3 GD rounds, exact integer-micro
    // weights): label = "is this an English doc", then score the whole pool.
    QuerySpec("q_doc_quality_classifier", (s, dir) =>
      graft.pipeline.Pipeline.qualityClassifierTrain(
        t(s, dir, "documents"), col("lang") === "en", iters = 3),
      oracle = graft.pipeline.Pipeline.qualityClassifierOracleSql("lang = 'en'", iters = 3)),

    // LLM ops — cluster-balanced sampling: cap each trained k-means cluster
    // at 20 members by portable md5-of-id order — caps over-represented
    // regions of EMBEDDING SPACE (the per-source-cap operator's blind spot).
    QuerySpec("q_emb_cluster_sample", (s, dir) =>
      graft.sim.Similarity.clusterBalancedSample(
          graft.sim.Similarity.kmeansTrain(t(s, dir, "embeddings"), k = 8, iters = 2),
          perCluster = 20)
        .orderBy("cluster", "samp_rank"),
      oracle = graft.sim.Similarity.kmeansSampleOracleSql(8, 2, 20)),

    // LLM ops — INCREMENTAL dedup: a new batch (doc_id % 5 == 0) deduped
    // against the already-ingested corpus (the rest) — survivors are new docs
    // whose fingerprint is unseen, first-wins within the batch. The daily
    // production shape: the corpus side only ever streams through an anti-join.
    QuerySpec("q_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.incrementalExactDedup(
          docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0))
        .select("doc_id")
        .orderBy("doc_id")
    },
      oracle = """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        | FROM documents),
        |nb AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
        |seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0)
        |SELECT doc_id FROM (
        | SELECT nb.doc_id, row_number() OVER (PARTITION BY nb.fp ORDER BY nb.doc_id) AS rn
        | FROM nb LEFT JOIN seen ON nb.fp = seen.fp
        | WHERE seen.fp IS NULL) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    // Same daily-ingest shape through the Bloom prefilter: the corpus
    // fingerprint set folds into a sketch BloomFilter; only the batch's
    // might-contain slice reaches the exact anti-join. No false negatives ⇒
    // output EQUALS the exact operator at any fpp — the oracle is the plain
    // exact-incremental SQL on a different split (% 3).
    QuerySpec("q_dedup_incremental_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.incrementalExactDedupBloom(
          docs.filter(col("doc_id") % 3 === 0), docs.filter(col("doc_id") % 3 =!= 0))
        .select("doc_id")
        .orderBy("doc_id")
    },
      // bloom-prefiltered variant: same exact-incremental semantics on % 3
      oracle = """WITH fp AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        | FROM documents),
        |nb AS (SELECT * FROM fp WHERE doc_id % 3 = 0),
        |seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 <> 0)
        |SELECT doc_id FROM (
        | SELECT nb.doc_id, row_number() OVER (PARTITION BY nb.fp ORDER BY nb.doc_id) AS rn
        | FROM nb LEFT JOIN seen ON nb.fp = seen.fp
        | WHERE seen.fp IS NULL) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    // LLM ops — quantized ANN at FULL rerank (shortlist ⊇ corpus ⇒ the exact
    // re-rank sees everything ⇒ EXACT ⇒ hash-gated: the int8 coarse-score +
    // rerank machinery is what's verified; realistic rerankFactor recall is
    // spec-gated in WireAndIvfSpec).
    QuerySpec("q_emb_int8_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sim.Quantize.int8TopK(emb, queries, k = 5, rerankFactor = Int.MaxValue)
        .withColumn("cosine", round(col("cosine"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
      oracle = bruteForceAnnOracle),

    // LLM ops — CCNet-style statistical LM quality scoring (Wenzek et al.
    // 2020): mean log10 unigram probability per doc under the corpus's own
    // add-one-smoothed LM — the perplexity-filter signal.
    QuerySpec("q_doc_lm_logprob", (s, dir) =>
      graft.text.TextFunctions.unigramLogProb(t(s, dir, "documents"))
        .orderBy("doc_id"),
      oracle = """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |            FROM documents WHERE length(trim(text)) > 0),
        |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS BIGINT) AS v FROM cnt),
        |dt AS (SELECT doc_id, tok, count(*) AS c_dt FROM tk GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c_dt) AS BIGINT) AS n_tokens,
        | floor(sum(c_dt * log10((c + 1) / (n + v))) / sum(c_dt) * 1000000 + 0.5)
        |   / 1000000 AS mean_logprob
        |FROM dt JOIN cnt USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // LLM ops — Okapi BM25 lexical retrieval over the corpus (training-data
    // QA probe / retrieval-based decontamination primitive).
    QuerySpec("q_doc_bm25", (s, dir) =>
      graft.text.TextFunctions.bm25TopK(t(s, dir, "documents"),
        Seq("vector", "stream", "agg"), k = 50),
      // BM25 with k1=1.2, b=0.75 over the shared whitespace tokenization; both
      // engines order by the ROUNDED score (then doc_id) so the top-k boundary
      // is deterministic across float-sum orders.
      oracle = """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |            FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
        |       WHERE token IN ('vector', 'stream', 'agg') GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, round(sum(
        |   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
        |FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token), corpus
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin),

    // LLM ops — BPE/WordPiece merge-pair counting (tokenizer-training stage 1):
    // top-k adjacent-token-pair frequencies over the corpus.
    QuerySpec("q_doc_bpe_pairs", (s, dir) =>
      graft.text.TextFunctions.bpePairTopK(t(s, dir, "documents"), k = 40),
      oracle = """WITH tk AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |            FROM documents WHERE length(trim(text)) > 0),
        |p AS (SELECT toks[i] || ' ' || toks[i+1] AS pair
        |      FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS u(i))
        |SELECT pair, count(*) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 40""".stripMargin),

    // LLM ops — BPE tokenizer TRAINING (stage 2: the Sennrich merge loop).
    // 8 learned merges over the documents corpus; the oracle replays the
    // identical loop in DuckDB as an unrolled materialized-CTE chain.
    QuerySpec("q_doc_bpe_train", (s, dir) =>
      graft.text.TextFunctions.bpeTrain(t(s, dir, "documents"), numMerges = 8),
      // the full training loop replayed in DuckDB (generated unrolled CTE chain)
      oracle = graft.text.TextFunctions.bpeTrainOracleSql(8)),

    // LLM ops — unigram-LM tokenizer TRAINING (the SentencePiece family,
    // Kudo 2018; hard-EM/Viterbi deterministic variant): 2 EM rounds over
    // substring-seeded pieces, micro-quantized log10 scores, top-40 vocab cut.
    QuerySpec("q_doc_unigram_train", (s, dir) =>
      graft.text.TextFunctions.unigramTrain(t(s, dir, "documents"),
        iters = 2, maxPieceLen = 4, maxWordLen = 16, k = 40),
      oracle = graft.text.TextFunctions.unigramTrainOracleSql(
        iters = 2, maxPieceLen = 4, maxWordLen = 16, k = 40)),

    // LLM ops — unigram-LM ENCODING: the learned model's Viterbi segmentation
    // applied back to the corpus (word-state broadcast, one doc-keyed shuffle).
    QuerySpec("q_doc_unigram_encode", (s, dir) =>
      graft.text.TextFunctions.unigramEncode(t(s, dir, "documents"), iters = 2),
      oracle = graft.text.TextFunctions.unigramEncodeOracleSql(
        iters = 2, maxPieceLen = 4, maxWordLen = 16)),

    // Bounded-slice variant (the q_doc_bpe_encode_s pattern): the full-corpus
    // encode's DuckDB oracle materializes per-doc piece lists corpus-wide and
    // exhausts the allocator at 100x; this 1-in-50 slice keeps the oracle
    // bounded so the hash gate holds in every scale record.
    QuerySpec("q_doc_unigram_encode_s", (s, dir) =>
      graft.text.TextFunctions.unigramEncode(
        t(s, dir, "documents").filter(pmod(col("doc_id"), lit(50)) === 0),
        iters = 2),
      oracle = graft.text.TextFunctions.unigramEncodeOracleSql(
        iters = 2, maxPieceLen = 4, maxWordLen = 16,
        table = "(SELECT * FROM documents WHERE doc_id % 50 = 0)")),

    // LLM ops — BPE ENCODING (stage 3): the learned merges applied back to
    // the corpus (word-vocab broadcast, one doc-keyed reassembly shuffle).
    QuerySpec("q_doc_bpe_encode", (s, dir) =>
      graft.text.TextFunctions.bpeEncode(t(s, dir, "documents"), numMerges = 8),
      // training chain + final-vocab join = the encoded corpus
      oracle = graft.text.TextFunctions.bpeEncodeOracleSql(8)),

    // bounded-slice variant (the _s pattern): the full-corpus encode's DuckDB
    // oracle is an ordered per-doc reassembly whose state does not spill —
    // at 100× it exceeds any single-node cap (recorded rows-only there, like
    // the all-pairs near-dup oracle), so this 1/50 slice stays HASH-gated at
    // every scale. Self-contained: trains AND encodes on the slice.
    QuerySpec("q_doc_bpe_encode_s", (s, dir) =>
      graft.text.TextFunctions.bpeEncode(
        t(s, dir, "documents").filter(pmod(col("doc_id"), lit(50)) === 0),
        numMerges = 8),
      oracle = graft.text.TextFunctions.bpeEncodeOracleSql(8,
        table = "(SELECT * FROM documents WHERE doc_id % 50 = 0)")),

    // LLM ops — hybrid retrieval: BM25 list + dense cosine list fused by
    // Reciprocal Rank Fusion (the standard hybrid-search combiner). doc_id and
    // vec_id are aligned in the fixtures, so the dense query is "documents
    // like doc 0" and the lexical query is the same terms as q_doc_bm25.
    QuerySpec("q_doc_hybrid_rrf", (s, dir) =>
      graft.text.TextFunctions.hybridRrfTopK(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        Seq("vector", "stream", "agg"), queryVecId = 0L, k = 20),
      // RRF fusion of the q_doc_bm25 lexical list with the exact dense top-k
      // for query vector 0; ranks (score DESC, id ASC) are deterministic on
      // both engines, and the fused score is a 2-term double sum in fixed order.
      oracle = """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |            FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
        |       WHERE token IN ('vector', 'stream', 'agg') GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |lex_scored AS (
        | SELECT doc_id, round(sum(
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
        | FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token), corpus
        | GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        |        FROM lex_scored),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |dense_scored AS (
        | SELECT c.vec_id AS doc_id,
        |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y) z)
        |  / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |     FROM (SELECT unnest(c.embedding) AS x) z2))
        |   * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |     FROM (SELECT unnest(q.qv) AS y) z3))) AS cos
        | FROM embeddings c, q),
        |dense AS (SELECT doc_id, dense_rank FROM (
        | SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS dense_rank
        | FROM dense_scored) WHERE dense_rank <= 50)
        |SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
        |  round(coalesce(1.0 / (60 + lex_rank), 0) + coalesce(1.0 / (60 + dense_rank), 0), 6) AS rrf,
        |  lex_rank, dense_rank
        |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),

    // LLM ops — multimodal: metadata-only stats over binary payload columns (the
    // scan must never decode payloads; column pruning keeps it to metadata cols).
    QuerySpec("q_multimodal_stats", (s, dir) =>
      graft.multimodal.Multimodal.mediaStats(
        graft.multimodal.Multimodal.documentsAsMedia(t(s, dir, "documents")))
        .withColumn("total_bytes", col("total_bytes").cast("long"))
        .orderBy("modality", "mime_type"),
      oracle = """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |            WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime_type,
        |       count(*) AS n,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       round(avg(octet_length(encode(text))), 4) AS avg_bytes,
        |       CAST(max(n_chars * 10) AS BIGINT) AS max_duration_ms
        |FROM documents GROUP BY 1, 2 ORDER BY modality, mime_type""".stripMargin)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
}
