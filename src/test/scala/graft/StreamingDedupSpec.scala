package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingDedup
import graft.util.ShmDirs

/** Top-level (not spec-nested) so the encoder's codegen can reference it —
  * a class nested in a test instance makes Janino's generated code fall back
  * to the interpreted encoder with a logged CompileException (VERDICT r8 #4).
  */
case class StreamingDedupDoc(id: Long, ts_us: Long, text: String)

class StreamingDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private type Doc = StreamingDedupDoc
  private def Doc(id: Long, ts_us: Long, text: String): StreamingDedupDoc =
    StreamingDedupDoc(id, ts_us, text)

  test("exactDedupStream: first occurrence wins within and across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark2.sqlContext
    val input = MemoryStream[Doc]
    val B = 10000L * 1000000L
    val deduped = StreamingDedup.exactDedupStream(
      input.toDF().withColumn("event_time", timestamp_micros(col("ts_us"))),
      delay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    try {
      // in-batch dup (2 ≡ 1 after normalization) and a distinct doc
      input.addData(Doc(1L, B, "alpha  beta"), Doc(2L, B + 1, "ALPHA beta"),
        Doc(3L, B + 2, "gamma"))
      q.processAllAvailable()
      // cross-batch dup of 1, plus a new doc
      input.addData(Doc(4L, B + 3, "alpha beta"), Doc(5L, B + 4, "delta"))
      q.processAllAvailable()
      val ids = spark2.table("sdedup_out").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("dedupAgainstCorpus: rows already in the warehouse never reach the sink") {
    val spark2 = spark
    import spark2.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark2.sqlContext
    val corpusFps = Seq("seen text").toDF("t")
      .select(graft.text.TextFunctions.fingerprint(col("t")))
    val input = MemoryStream[Doc]
    val q = StreamingDedup.dedupAgainstCorpus(input.toDF(), corpusFps)
      .writeStream.format("memory").queryName("scorpus_out")
      .outputMode("append").start()
    try {
      input.addData(Doc(1L, 0L, "SEEN  text"), Doc(2L, 1L, "fresh text"))
      q.processAllAvailable()
      val ids = spark2.table("scorpus_out").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L))
    } finally q.stop()
  }

  test("nearDupIngestStream: stream == batch-incremental replay; index grows; replay is a no-op") {
    val spark2 = spark
    import spark2.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark2.sqlContext
    import graft.dedup.MinHashIndex

    // 20-word docs: one trailing-word change → J = 15/21 ≈ 0.714 ≥ 0.7 (near,
    // not exact); a mid-doc rewrite is far below threshold
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val nearBase = (1 to 19).map(i => s"w$i").mkString(" ") + " CHANGED"
    val other = (1 to 20).map(i => s"x$i").mkString(" ")
    val nearOther = (1 to 19).map(i => s"x$i").mkString(" ") + " ALSO"
    val fresh3 = (1 to 20).map(i => s"y$i").mkString(" ")

    def setup(tag: String): (String, String) = {
      val root = ShmDirs.tempDir(s"graft_sni_$tag").toString
      val corpusPath = s"$root/corpus"
      val indexRoot = s"$root/index"
      val corpus0 = Seq((100L, 0L, base)).toDF("doc_id", "ts_us", "text")
      corpus0.write.parquet(corpusPath)
      MinHashIndex.build(corpus0, indexRoot, k = 3, numHashes = 64, bands = 16,
        nParts = 16)
      (corpusPath, indexRoot)
    }

    // batch 1: 1 = near-dup of indexed corpus doc (drop), 2 = fresh,
    //          3 = exact dup of 2 within the batch (drop, first-wins by id)
    val batch1 = Seq(Doc(1L, 1L, nearBase), Doc(2L, 2L, other), Doc(3L, 3L, other))
    // batch 2: 4 = near-dup of batch-1 SURVIVOR 2 (drop — proves the index
    //          grew), 5 = fresh
    val batch2 = Seq(Doc(4L, 4L, nearOther), Doc(5L, 5L, fresh3))

    // ---- stream path ----
    val (sCorpus, sIndex) = setup("s")
    val ckpt = ShmDirs.tempDir("graft_sni_ckpt").toString
    val input = MemoryStream[Doc]
    val q = StreamingDedup.nearDupIngestStream(
      input.toDF().withColumnRenamed("id", "doc_id"), sIndex, sCorpus, ckpt)
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamIds = spark2.read.parquet(sCorpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // ---- batch-incremental reference on the same splits ----
    val (bCorpus, bIndex) = setup("b")
    def asDf(b: Seq[Doc]) = b.toDF().withColumnRenamed("id", "doc_id")
    val n1 = StreamingDedup.nearDupIngestBatch(asDf(batch1), bIndex, bCorpus)
    val n2 = StreamingDedup.nearDupIngestBatch(asDf(batch2), bIndex, bCorpus)
    val batchIds = spark2.read.parquet(bCorpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    assert(streamIds == Set(100L, 2L, 5L), s"stream accepted $streamIds")
    assert(batchIds == streamIds, "stream and batch-incremental outputs diverge")
    assert((n1, n2) == (1L, 1L))
    // the index grew with the survivors: its signature table covers them
    val sigIds = spark2.read.parquet(s"$bIndex/sigs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(100L, 2L, 5L))
    // at-least-once replay of an already-applied batch is a no-op
    assert(StreamingDedup.nearDupIngestBatch(asDf(batch2), bIndex, bCorpus) == 0L)
    assert(spark2.read.parquet(bCorpus).count() == 3L)
  }
}
