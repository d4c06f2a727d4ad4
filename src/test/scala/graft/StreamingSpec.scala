package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.streaming.LiveMerge
import java.nio.file.Files
import graft.util.ShmDirs

/** Historical+live merge semantics (reference src/query/streaming.rs:73-202):
  * live rows with timestamp < merge_timestamp are dropped; WHERE filters apply per
  * live batch; topic filters compose.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val t0 = 1704067200L * 1000000000L

  test("liveTail drops rows before merge_timestamp and applies WHERE") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_stream_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    // historical chunk: before merge timestamp
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0, "cpu", 1.0, Map("host" -> "a")),
      MetricPoint(t0 + 1000L, "mem", 2.0, Map("host" -> "a")))))
    val mergeTs = t0 + 5000L

    val schema = spark.read.option("mergeSchema", "true")
      .parquet(cat.allChunks.map(_.path): _*).schema
    val stream = LiveMerge.liveTail(spark, cat.root.toString, schema, mergeTs,
      where = Some("metric_name = 'cpu'"))
    val q = stream.writeStream.format("memory").queryName("live_out")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()

    // "freshly flushed" chunk arrives: one row before cutoff, two after (one wrong metric)
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + 4000L, "cpu", 3.0, Map("host" -> "b")), // late → dropped
      MetricPoint(t0 + 6000L, "cpu", 4.0, Map("host" -> "b")), // survives
      MetricPoint(t0 + 7000L, "mem", 5.0, Map("host" -> "b"))))) // filtered
    val q2 = stream.writeStream.format("memory").queryName("live_out2")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.processAllAvailable()
    q.stop(); q2.stop()

    val rows = spark.table("live_out2")
      .select("timestamp_ns", "metric_name", "value_f64").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((t0 + 6000L, "cpu", 4.0)))
  }

  test("CatalogTail: new flushes forwarded post-cutoff; compacted chunks never re-forwarded") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_tail_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0, "cpu", 1.0, Map("host" -> "a")),
      MetricPoint(t0 + 1000L, "cpu", 1.5, Map("host" -> "a")))))
    val mergeTs = t0 + 5000L
    val tail = new LiveMerge.CatalogTail(spark, cat, mergeTs)
    assert(tail.poll().isEmpty, "snapshot chunks are the historical phase's")
    // fresh flush: one pre-cutoff row (dropped), one post-cutoff (forwarded)
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + 4000L, "cpu", 2.0, Map("host" -> "b")),
      MetricPoint(t0 + 6000L, "cpu", 3.0, Map("host" -> "b")))))
    val got = tail.poll().get.select("timestamp_ns", "value_f64").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((t0 + 6000L) -> 3.0), s"got $got")
    assert(tail.poll().isEmpty, "no new chunks -> no frame")
    // compaction replaces the seen chunks with one merged level-1 chunk whose
    // rows were already delivered — the tail must NOT forward it again
    val compactor = new graft.compact.Compactor(spark, cat)
    compactor.compactGroups(Seq(cat.allChunks))
    assert(cat.allChunks.exists(_.level > 0), "compaction must have produced a leveled chunk")
    assert(tail.poll().isEmpty, "compacted chunk would duplicate already-sent rows")
    // and a flush AFTER the compaction still flows
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + 8000L, "cpu", 4.0, Map("host" -> "c")))))
    val got2 = tail.poll().get.select("value_f64").collect().map(_.getDouble(0)).toSet
    assert(got2 == Set(4.0))
  }

  test("CatalogTail: flush compacted away between polls is recovered exactly once (lineage)") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_tailrec_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0, "cpu", 0.5, Map("host" -> "a")))))
    val mergeTs = t0 + 5000L
    val tail = new LiveMerge.CatalogTail(spark, cat, mergeTs)
    assert(tail.poll().isEmpty)
    // flush A: polled and delivered
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + 6000L, "cpu", 1.0, Map("host" -> "b")))))
    assert(tail.poll().get.select("value_f64").collect().map(_.getDouble(0)).toSet == Set(1.0))
    // flush B: compacted away BEFORE the next poll — it never appears in the
    // catalog as level-0 at any poll, but its rows must still be delivered
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + 7000L, "cpu", 2.0, Map("host" -> "b")))))
    new graft.compact.Compactor(spark, cat).compactGroups(Seq(cat.allChunks))
    assert(cat.allChunks.forall(_.level > 0), "everything merged into one leveled chunk")
    val got = tail.poll().get.select("value_f64").collect().map(_.getDouble(0)).toSet
    assert(got == Set(2.0), s"recover ONLY the never-delivered flush, got $got")
    assert(tail.poll().isEmpty, "recovery is exactly-once")
    // a tail constructed AFTER compaction owes nothing from the merged chunk's
    // lineage (seeded as historical), even across a FURTHER rewrite
    val tail2 = new LiveMerge.CatalogTail(spark, cat, mergeTs)
    writer.write(Converters.pointsToDf(spark, Seq(
      MetricPoint(t0 + 8000L, "cpu", 3.0, Map("host" -> "c")))))
    new graft.compact.Compactor(spark, cat).compactGroups(Seq(cat.allChunks))
    val got2 = tail2.poll().get.select("value_f64").collect().map(_.getDouble(0)).toSet
    assert(got2 == Set(3.0), s"only the new flush is recovered, got $got2")
    assert(tail2.poll().isEmpty)
  }

  test("ingestSink: stream flushes through the production chunk path, queryable mid-stream") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_sink_"), cacheTtlMs = 0L)
    val ckpt = ShmDirs.tempDir("graft_sink_ckpt_").toString
    // a one-chunk "upstream" dir acts as the stream source
    val srcCat = new ChunkCatalog(ShmDirs.tempDir("graft_sink_src_"), cacheTtlMs = 0L)
    new ChunkWriter(srcCat).write(Converters.pointsToDf(spark, (0 until 50).map(i =>
      MetricPoint(t0 + i * 1000000000L, "cpu", i.toDouble, Map("host" -> "a")))))
    val schema = spark.read.parquet(srcCat.allChunks.head.path).schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").option("recursiveFileLookup", "true")
      .parquet(srcCat.root.toString)

    val q = LiveMerge.ingestSink(src, cat, ckpt)
    try q.processAllAvailable() finally q.stop()

    // the sink wrote REAL chunks: registered, zone-mapped, schema-carrying
    val chunks = cat.allChunks
    assert(chunks.nonEmpty && chunks.map(_.rowCount).sum == 50L)
    assert(chunks.forall(_.schemaDdl.isDefined))
    assert(chunks.map(_.minTimestampNs).min == t0)
    // and the engine queries them like any batch-ingested warehouse
    val eng = new graft.engine.QueryEngine(spark, cat)
    val r = eng.sql(
      s"""SELECT COUNT(*) AS cnt, ROUND(SUM(value_f64), 2) AS s FROM metrics
         |WHERE timestamp_ns >= $t0 AND timestamp_ns <= ${t0 + 49L * 1000000000L}
         |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 50L && r.getDouble(1) == 1225.0)
  }

  test("ingestSink replay is idempotent: re-executed micro-batch registers no duplicates") {
    // foreachBatch is at-least-once — a micro-batch whose write succeeded but
    // whose checkpoint commit didn't is re-executed after a crash. The sink keys
    // the write on batchId, so the replay must be a no-op (no duplicate chunks,
    // unchanged query results), and a half-written never-registered dir from a
    // crashed attempt must be overwritten, not doubled.
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_replay_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    val batch = Converters.pointsToDf(spark, (0 until 20).map(i =>
      MetricPoint(t0 + i * 1000000000L, "cpu", i.toDouble, Map("host" -> "a"))))

    val first = LiveMerge.ingestBatch(writer, batch, batchId = 7L)
    assert(first.nonEmpty && cat.allChunks.map(_.rowCount).sum == 20L)
    val pathsAfterFirst = cat.allChunks.map(_.path).sorted

    // crash-replay of the SAME micro-batch
    val replay = LiveMerge.ingestBatch(writer, batch, batchId = 7L)
    assert(replay.map(_.path).sorted == pathsAfterFirst) // returns the committed metas
    assert(cat.allChunks.map(_.path).sorted == pathsAfterFirst)
    assert(cat.allChunks.map(_.rowCount).sum == 20L) // no duplicate rows

    // a DIFFERENT batch id still writes
    LiveMerge.ingestBatch(writer, batch, batchId = 8L)
    assert(cat.allChunks.map(_.rowCount).sum == 40L)

    // half-written dir without registration (crash before catalog commit):
    // simulate by writing files under the tag dir for batch 9 with no register
    val staleDir = cat.root.resolve("default/data/batch=stream-9/junk")
    Files.createDirectories(staleDir)
    Files.write(staleDir.resolve("partial.parquet"), Array[Byte](1, 2, 3))
    LiveMerge.ingestBatch(writer, batch, batchId = 9L)
    assert(cat.allChunks.map(_.rowCount).sum == 60L)
    assert(!Files.exists(staleDir.resolve("partial.parquet"))) // stale attempt purged
  }

  test("topic filters compose (reference topic_broadcast truth table)") {
    import LiveMerge.TopicFilter._
    import spark.implicits._
    val df = Seq(("cpu", 1.0), ("mem", 2.0), ("disk", 3.0))
      .toDF("metric_name", "value_f64")
    def matches(f: LiveMerge.TopicFilter): Set[String] =
      df.filter(f.toColumn).select("metric_name").collect().map(_.getString(0)).toSet
    assert(matches(All) == Set("cpu", "mem", "disk"))
    assert(matches(Metrics(Seq("cpu", "mem"))) == Set("cpu", "mem"))
    assert(matches(And(Metrics(Seq("cpu", "mem")), Metrics(Seq("mem")))) == Set("mem"))
    assert(matches(Or(Metrics(Seq("cpu")), Metrics(Seq("disk")))) == Set("cpu", "disk"))
  }

  test("windowed agg extension produces per-window counts under watermark") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_stream2_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    writer.write(Converters.pointsToDf(spark, (0 until 20).map(i =>
      MetricPoint(t0 + i * 30L * 1000000000L, "cpu", i.toDouble, Map("host" -> "a")))))
    val schema = spark.read.parquet(cat.allChunks.head.path).schema
    val live = LiveMerge.liveTail(spark, cat.root.toString, schema, mergeTimestampNs = 0L)
    val agg = LiveMerge.windowedAggExtension(live, windowSeconds = 300)
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out").collect()
    assert(rows.map(_.getAs[Long]("cnt")).sum == 20L)
    assert(rows.length == 2) // 20 × 30 s = 600 s = two 5-min windows
  }
}
