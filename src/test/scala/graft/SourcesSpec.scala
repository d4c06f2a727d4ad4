package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.MetricSources
import graft.util.ShmDirs

class SourcesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("toMetrics: timestamp column → ns + µs carriers, labels, f64 value") {
    val df = Seq(
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704067200L, 123456000L)),
        "cpu", 0.5, "h1"))
      .toDF("t", "name", "v", "host")
    val m = MetricSources.toMetrics(df, col("t"), col("name"), col("v"),
      labels = Map("host" -> col("host")))
    val r = m.collect()(0)
    assert(r.getAs[Long]("timestamp_ns") == 1704067200123456000L)
    assert(r.getAs[String]("metric_name") == "cpu")
    assert(r.getAs[String]("host") == "h1")
    assert(r.getAs[Double]("value_f64") == 0.5)
    assert(r.isNullAt(r.fieldIndex("value_u64")))
    assert(m.schema.fieldNames.toSeq == Seq("timestamp", "timestamp_ns", "metric_name",
      "host", "value_f64", "value_i64", "value_u64"))
  }

  test("JSONL roundtrip: unicode, newlines, quotes, nulls survive write+schema-read") {
    import graft.sources.DocumentSources
    val docs = Seq(
      (1L, "plain ascii text", "en", "web", 16L),
      (2L, "café naïve 日本語 😀", "ja", "web", 10L),
      (3L, "line1\nline2\ttab \"quoted\" back\\slash", "en", "books", 35L),
      (4L, null, null, "crawl", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val path = ShmDirs.tempDir("graft_jsonl_spec_").toString
    DocumentSources.writeJsonl(docs, path)
    val back = DocumentSources.readDocumentsJsonl(spark, path)
      .orderBy("doc_id").collect()
    val orig = docs.orderBy("doc_id").collect()
    assert(back.length == 4)
    back.zip(orig).foreach { case (b, o) => assert(b == o, s"row mismatch: $b vs $o") }
    // schema is the explicit one (no inference drift: doc_id stays LONG even
    // though every value here fits in an int)
    assert(DocumentSources.readDocumentsJsonl(spark, path).schema ==
      DocumentSources.documentsSchema)
  }

  test("nfcNormalize: decomposed forms collapse to composed; ASCII is identity") {
    import graft.sources.DocumentSources.nfcNormalize
    val df = Seq(
      (1L, "café"), // e + combining acute -> U+00E9
      (2L, "café"), // already composed
      (3L, "plain"),
      (4L, "Å")) // A + combining ring -> U+00C5
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"), nfcNormalize(col("text")).as("n"),
        (nfcNormalize(col("text")) === col("text")).as("unchanged"))
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) == "café" && !r(0).getBoolean(2))
    assert(r(1).getString(1) == "café" && r(1).getBoolean(2))
    assert(r(2).getString(1) == "plain" && r(2).getBoolean(2))
    assert(r(3).getString(1) == "Å" && !r(3).getBoolean(2))
    // the two spellings of café now dedup to one fingerprint
    val fps = df.select(graft.text.TextFunctions.fingerprint(
      nfcNormalize(col("text"))).as("fp")).filter(col("fp").isNotNull)
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1), "composed and decomposed must fingerprint equal after NFC")
  }

  test("toMetrics: raw ns long timestamps pass through exactly (no double div)") {
    // ns value with sub-µs precision beyond 2^53 — double arithmetic would corrupt it
    val ns = 1704067200123456789L
    val df = Seq((ns, "m", 5.0)).toDF("t", "name", "v")
    val m = MetricSources.toMetrics(df, col("t"), col("name"), col("v"), routeValues = true)
    val r = m.collect()(0)
    assert(r.getAs[Long]("timestamp_ns") == ns)
    // µs carrier floor-truncates
    assert(r.getAs[java.sql.Timestamp]("timestamp").toInstant.getNano == 123456000)
    // integral ≥0 routes to u64
    assert(r.getAs[Long]("value_u64") == 5L)
    assert(r.isNullAt(r.fieldIndex("value_f64")))
  }

  test("toMetrics value routing matches the remote-write rules") {
    val df = Seq((1L, "m", -3.0), (2L, "m", 0.5), (3L, "m", 7.0))
      .toDF("t", "name", "v")
    val rows = MetricSources.toMetrics(df, col("t"), col("name"), col("v"),
      routeValues = true).orderBy("timestamp_ns").collect()
    assert(rows(0).getAs[Long]("value_i64") == -3L)
    assert(rows(1).getAs[Double]("value_f64") == 0.5)
    assert(rows(2).getAs[Long]("value_u64") == 7L)
  }

  test("fromCsv end-to-end into the engine") {
    val dir = ShmDirs.tempDir("graft_src_")
    val csv = dir.resolve("in.csv")
    java.nio.file.Files.writeString(csv,
      "t,name,v,host\n1704067200,cpu,1.5,a\n1704067260,cpu,2.5,b\n")
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csv.toString)
    val m = MetricSources.toMetrics(raw,
      timestamp_seconds(col("t")), col("name"), col("v"),
      labels = Map("host" -> col("host")))
    val cat = new graft.catalog.ChunkCatalog(dir.resolve("wh"))
    new graft.ingest.ChunkWriter(cat).write(m)
    val eng = new graft.engine.QueryEngine(spark, cat)
    val got = eng.sql(
      """SELECT metric_name, COUNT(*) AS cnt, SUM(value_f64) AS s FROM metrics
        |WHERE timestamp_ns >= 1704067200000000000 AND timestamp_ns <= 1704067260000000000
        |GROUP BY metric_name""".stripMargin).collect()
    assert(got.length == 1)
    assert(got(0).getLong(1) == 2L && got(0).getDouble(2) == 4.0)
  }
}
