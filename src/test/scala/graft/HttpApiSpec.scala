package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.engine.QueryEngine
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.server.HttpApi
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI
import graft.util.ShmDirs

/** HTTP front door roundtrips (reference src/api/mod.rs:53-76 route table):
  * real sockets, real engine, real warehouse — one SQL and one PromQL query
  * end-to-end plus metadata endpoints.
  */
class HttpApiSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z

  private lazy val engine = {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_http_"), cacheTtlMs = 0L)
    val points = for {
      h <- 0 until 2
      m <- Seq("cpu_usage", "mem_usage")
      host <- Seq("server1", "server2")
      i <- 0 until 6
    } yield MetricPoint(t0 + h * hourNs + i * 600L * 1000000000L,
      m, (i % 100) / 100.0 + h, Map("host" -> host))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, points))
    new QueryEngine(spark, cat)
  }

  private lazy val (api, port) = {
    val a = new HttpApi(engine, port = 0).start()
    (a, a.boundPort)
  }

  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())

  test("health + ready") {
    assert(get("/health").body() == "OK")
    assert(get("/ready").body() == "READY") // reference ready_check (api/mod.rs:101-104)
  }

  test("POST /api/v1/sql: JSON {columns,data,stats} roundtrip") {
    val q = s"SELECT metric_name, COUNT(*) AS cnt FROM metrics " +
      s"WHERE timestamp_ns >= $t0 GROUP BY metric_name ORDER BY metric_name"
    val resp = post("/api/v1/sql", s"""{"query":"${q.replace("\"", "\\\"")}"}""")
    assert(resp.statusCode() == 200)
    val j = org.json4s.jackson.JsonMethods.parse(resp.body())
    import org.json4s._
    assert((j \ "columns") == JArray(List(JString("metric_name"), JString("cnt"))))
    val data = (j \ "data").asInstanceOf[JArray].arr
    assert(data == List(
      JArray(List(JString("cpu_usage"), JInt(24))),
      JArray(List(JString("mem_usage"), JInt(24)))))
    assert((j \ "stats" \ "rows_read") == JInt(2))
  }

  test("GET /api/v1/sql: csv format, bad format is a 400") {
    val q = java.net.URLEncoder.encode(
      s"SELECT metric_name, COUNT(*) AS cnt FROM metrics WHERE timestamp_ns >= $t0 " +
        "GROUP BY metric_name ORDER BY metric_name", "UTF-8")
    val csv = get(s"/api/v1/sql?query=$q&format=csv")
    assert(csv.statusCode() == 200)
    assert(csv.body() == "metric_name,cnt\ncpu_usage,24\nmem_usage,24\n")
    assert(get(s"/api/v1/sql?query=$q&format=nope").statusCode() == 400)
    // malformed SQL → 400 with an error payload, not a hung socket
    val bad = post("/api/v1/sql", """{"query":"SELEKT * FROM nope"}""")
    assert(bad.statusCode() == 400 && bad.body().contains("error"))
  }

  test("GET /api/v1/query_range: PromQL → Prometheus matrix payload") {
    val startS = t0 / 1000000000L
    val endS = startS + 7200L
    val q = java.net.URLEncoder.encode("sum by (host) (cpu_usage)", "UTF-8")
    val resp = get(s"/api/v1/query_range?query=$q&start=$startS&end=$endS&step=3600")
    assert(resp.statusCode() == 200)
    val j = org.json4s.jackson.JsonMethods.parse(resp.body())
    import org.json4s._
    assert((j \ "status") == JString("success"))
    assert((j \ "data" \ "resultType") == JString("matrix"))
    val series = (j \ "data" \ "result").asInstanceOf[JArray].arr
    assert(series.size == 2) // one per host
    val hosts = series.map(s => s \ "metric" \ "host").collect { case JString(h) => h }
    assert(hosts.sorted == List("server1", "server2"))
    // each series has one sample per hour bucket
    series.foreach(s => assert((s \ "values").asInstanceOf[JArray].arr.size == 2))
  }

  test("r11 response-byte cache: repeat query_range serves identical cached " +
    "bytes; a catalog commit invalidates") {
    // dedicated warehouse + api: this test INGESTS (to prove invalidation),
    // which must not perturb the shared fixture's row counts
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_bcache_"), cacheTtlMs = 0L)
    val pts0 = for (host <- Seq("server1", "server2"); i <- 0 until 6)
      yield MetricPoint(t0 + i * 600L * 1000000000L, "mem_usage",
        i / 10.0, Map("host" -> host))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts0))
    val a = new HttpApi(new QueryEngine(spark, cat), port = 0).start()
    def getA(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${a.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val startS = t0 / 1000000000L
      val q = java.net.URLEncoder.encode("sum by (host) (mem_usage)", "UTF-8")
      val path = s"/api/v1/query_range?query=$q&start=$startS&end=${startS + 7200L}&step=3600"
      val h0 = graft.engine.Telemetry.httpByteCacheHits.sum()
      val first = getA(path)
      assert(first.statusCode() == 200)
      val second = getA(path)
      assert(second.body() == first.body(), "cached bytes must equal the computed response")
      assert(graft.engine.Telemetry.httpByteCacheHits.sum() > h0,
        "repeat must be a byte-cache hit")
      // a committed write bumps the manifest version → NEW key → fresh compute
      // that sees the new data (no stale bytes across commits)
      val pts = Seq(MetricPoint(t0 + 50L, "mem_usage", 42.0, Map("host" -> "server1")))
      new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts))
      val third = getA(path)
      assert(third.statusCode() == 200)
      assert(third.body() != first.body(),
        "post-commit repeat must recompute (key carries the manifest version)")
    } finally a.stop()
  }

  test("response-byte cache stores only time-fixed requests: repeats hit with " +
    "no sleep; a commit changes the key; /query without time and unbounded SQL never hit") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_bfixed_"), cacheTtlMs = 0L)
    val pts0 = for (host <- Seq("server1", "server2"); i <- 0 until 6)
      yield MetricPoint(t0 + i * 600L * 1000000000L, "mem_usage",
        i / 10.0, Map("host" -> host))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, pts0))
    val a = new HttpApi(new QueryEngine(spark, cat), port = 0).start()
    def getA(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${a.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def hits: Long = graft.engine.Telemetry.httpByteCacheHits.sum()
    /** Compute once, repeat at once: (served as a hit, bodies equal). */
    def repeat(path: String): (Boolean, Boolean) = {
      val first = getA(path)
      assert(first.statusCode() == 200, s"$path: ${first.body()}")
      val h0 = hits
      val second = getA(path)
      assert(second.statusCode() == 200, path)
      (hits > h0, second.body() == first.body())
    }
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    try {
      val startS = t0 / 1000000000L
      val promql = enc("sum by (host) (mem_usage)")
      val range = s"/api/v1/query_range?query=$promql&start=$startS&end=${startS + 3600L}&step=600"
      val bounded = "/api/v1/sql?query=" + enc("SELECT host, COUNT(*) AS c FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND timestamp_ns < ${t0 + hourNs} GROUP BY host ORDER BY host")
      Seq(range, s"/api/v1/query?query=$promql&time=${startS + 3000L}", bounded).foreach { p =>
        assert(repeat(p) == ((true, true)), s"time-fixed request must be a hit: $p")
      }
      // "now" moves between repeats of these: their bytes are never stored
      val unbounded = "/api/v1/sql?query=" + enc("SELECT COUNT(*) AS c FROM metrics")
      Seq(s"/api/v1/query?query=$promql", unbounded).foreach { p =>
        assert(!repeat(p)._1, s"now-relative request must recompute: $p")
      }
      // a committed write bumps the manifest version → new key → recompute
      new ChunkWriter(cat).write(Converters.pointsToDf(spark,
        Seq(MetricPoint(t0 + 50L, "mem_usage", 42.0, Map("host" -> "server3")))))
      val h1 = hits
      val after = getA(bounded)
      assert(hits == h1 && after.body().contains("server3"),
        s"post-commit repeat must recompute: ${after.body()}")
    } finally a.stop()
  }

  test("a now()-relative SQL count through /api/v1/sql is never a byte-cache " +
    "hit and declines as time passes") {
    // one sample per second from 10 s ago to 2 min ahead: a count over the
    // last 10 s loses about one sample per second as the clock moves
    val nowNs = System.currentTimeMillis() * 1000000L
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_bnow_"), cacheTtlMs = 0L)
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, (-10 until 120).map(i =>
      MetricPoint(nowNs + i * 1000000000L, "cpu_usage", 1.0, Map("host" -> "server1")))))
    val a = new HttpApi(new QueryEngine(spark, cat), port = 0).start()
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val recent = "timestamp > now() - INTERVAL '10' SECOND"
    val queries = Seq(s"SELECT COUNT(*) AS c FROM metrics WHERE $recent",
      s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= ${nowNs - hourNs} " +
        s"AND timestamp_ns < ${nowNs + hourNs} AND $recent")
    def count(q: String): Long = {
      val resp = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${a.boundPort}/api/v1/sql?query=${enc(q)}")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      import org.json4s._
      val JArray(List(JArray(List(JInt(c))))) =
        org.json4s.jackson.JsonMethods.parse(resp.body()) \ "data"
      c.toLong
    }
    try {
      val h0 = graft.engine.Telemetry.httpByteCacheHits.sum()
      val rounds = (0 until 4).map { i =>
        if (i > 0) Thread.sleep(2500L)
        queries.map(count)
      }
      queries.indices.foreach { qi =>
        val counts = rounds.map(_(qi))
        assert(counts.zip(counts.tail).forall { case (x, y) => y < x },
          s"a count over the last 10 s must decline on every repeat: $counts (${queries(qi)})")
      }
      assert(graft.engine.Telemetry.httpByteCacheHits.sum() == h0,
        "a now()-relative request must never be served from the byte cache")
    } finally a.stop()
  }

  test("r12 response-byte cache covers labels/label-values/series: repeats " +
    "serve identical bytes and count as hits") {
    val paths = Seq("/api/v1/labels", "/api/v1/label/host/values",
      "/api/v1/series?match%5B%5D=" +
        java.net.URLEncoder.encode("""{host="server1"}""", "UTF-8"))
    paths.foreach { p =>
      val h0 = graft.engine.Telemetry.httpByteCacheHits.sum()
      val first = get(p)
      assert(first.statusCode() == 200, p)
      val second = get(p)
      assert(second.body() == first.body(), s"repeat bytes must match: $p")
      assert(graft.engine.Telemetry.httpByteCacheHits.sum() > h0,
        s"repeat within TTL must be a byte-cache hit: $p")
    }
  }

  test("labels, label values, series endpoints") {
    import org.json4s._
    val labels = org.json4s.jackson.JsonMethods.parse(get("/api/v1/labels").body())
    val names = (labels \ "data").asInstanceOf[JArray].arr.collect { case JString(s) => s }
    assert(names.contains("__name__") && names.contains("host"))
    val vals = org.json4s.jackson.JsonMethods.parse(
      get("/api/v1/label/host/values").body())
    assert((vals \ "data") == JArray(List(JString("server1"), JString("server2"))))
    val series = org.json4s.jackson.JsonMethods.parse(
      get("/api/v1/series?match%5B%5D=" + // URL-encoded `match[]`
        java.net.URLEncoder.encode("""{host="server1"}""", "UTF-8")).body())
    val result = (series \ "data").asInstanceOf[JArray].arr
    assert(result.size == 2) // 2 metrics × host=server1
    result.foreach(s => assert((s \ "host") == JString("server1")))
  }

  test("label values accept match[] and start/end (reference prometheus_api.rs:330-470)") {
    import org.json4s._
    def values(qs: String): JValue =
      org.json4s.jackson.JsonMethods.parse(get(s"/api/v1/label/host/values$qs").body()) \ "data"
    val sel = java.net.URLEncoder.encode("""{__name__="cpu_usage"}""", "UTF-8")
    // matcher present and satisfiable → values survive
    assert(values(s"?match%5B%5D=$sel") ==
      JArray(List(JString("server1"), JString("server2"))))
    // unsatisfiable matcher → empty (proves match[] actually reaches the engine)
    val noSel = java.net.URLEncoder.encode("""{__name__="no_such_metric"}""", "UTF-8")
    assert(values(s"?match%5B%5D=$noSel") == JArray(Nil))
    // time window outside the data → empty (proves start/end reach the engine)
    val farStart = (t0 / 1000000000L) + 30L * 86400L
    assert(values(s"?start=$farStart&end=${farStart + 3600}") == JArray(Nil))
    // window covering the data + matcher → values
    assert(values(s"?match%5B%5D=$sel&start=${t0 / 1000000000L}" +
      s"&end=${t0 / 1000000000L + 7200}") ==
      JArray(List(JString("server1"), JString("server2"))))
  }

  test("POST /api/v1/write: snappy remote-write protobuf ingests through the chunk path") {
    // hand-rolled proto3 encoder (WriteRequest/TimeSeries/Label/Sample wire format)
    val out = new java.io.ByteArrayOutputStream()
    def varint(b: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { b.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      b.write(v.toInt)
    }
    def lenDelim(b: java.io.ByteArrayOutputStream, field: Int, bytes: Array[Byte]): Unit = {
      varint(b, (field << 3) | 2); varint(b, bytes.length.toLong); b.write(bytes)
    }
    def label(name: String, value: String): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      lenDelim(b, 1, name.getBytes("UTF-8")); lenDelim(b, 2, value.getBytes("UTF-8"))
      b.toByteArray
    }
    def sample(tsMs: Long, v: Double): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      varint(b, (1 << 3) | 1) // field 1, fixed64
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => b.write(((bits >>> (8 * i)) & 0xFF).toInt))
      varint(b, (2 << 3) | 0); varint(b, tsMs)
      b.toByteArray
    }
    def series(labels: Seq[Array[Byte]], samples: Seq[Array[Byte]]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      labels.foreach(lenDelim(b, 1, _)); samples.foreach(lenDelim(b, 2, _))
      b.toByteArray
    }
    val baseMs = t0 / 1000000L + 1800L * 1000L // t0 + 30 min, in ms
    lenDelim(out, 1, series(
      Seq(label("__name__", "http_requests"), label("host", "web1")),
      Seq(sample(baseMs, 1.5), sample(baseMs + 1000, 2.5))))
    lenDelim(out, 1, series(
      Seq(label("__name__", "http_requests"), label("host", "web2")),
      Seq(sample(baseMs, 4.25))))
    val compressed = org.xerial.snappy.Snappy.compress(out.toByteArray)

    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(compressed))
        .header("Content-Encoding", "snappy").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 204)

    // read back over HTTP: the write went through ChunkWriter → catalog, so the
    // engine prunes to the new chunk and the values round-trip exactly
    val q = s"SELECT host, COUNT(*) AS cnt, SUM(value_f64) AS sum_v FROM metrics " +
      s"WHERE metric_name = 'http_requests' AND timestamp_ns >= $t0 " +
      s"GROUP BY host ORDER BY host"
    val read = post("/api/v1/sql", s"""{"query":"${q.replace("\"", "\\\"")}"}""")
    assert(read.statusCode() == 200)
    import org.json4s._
    val data = (org.json4s.jackson.JsonMethods.parse(read.body()) \ "data")
      .asInstanceOf[JArray].arr
    assert(data == List(
      JArray(List(JString("web1"), JInt(2), JDouble(4.0))),
      JArray(List(JString("web2"), JInt(1), JDouble(4.25)))))
  }

  test("POST /api/v1/ingest/arrow: Arrow IPC stream round-trips through the chunk path") {
    def postBytes(path: String, body: Array[Byte]): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
        .header("Content-Type", "application/vnd.apache.arrow.stream").build(),
        HttpResponse.BodyHandlers.ofString())
    val ts = t0 + 20 * hourNs
    val pts = Seq(
      MetricPoint(ts, "arrow_metric", 1.5, Map("host" -> "a1")),
      MetricPoint(ts + 1000L, "arrow_metric", 2.5, Map("host" -> "a2")))
    // the wire bytes are EXACTLY what the query side emits for format=arrow
    val wire = graft.engine.ResultFormat.toArrow(
      Converters.pointsToDf(spark, pts)
        .select("metric_name", "timestamp_ns", "host", "value_f64"))
    val resp = postBytes("/api/v1/ingest/arrow", wire)
    assert(resp.statusCode() == 200)
    assert(resp.body().contains("\"rows\":2"))
    val q = s"SELECT host, value_f64 FROM metrics WHERE metric_name = 'arrow_metric' " +
      s"AND timestamp_ns >= $ts ORDER BY host"
    val read = post("/api/v1/sql", s"""{"query":"${q.replace("\"", "\\\"")}"}""")
    import org.json4s._
    val data = (org.json4s.jackson.JsonMethods.parse(read.body()) \ "data")
      .asInstanceOf[JArray].arr
    assert(data == List(
      JArray(List(JString("a1"), JDouble(1.5))),
      JArray(List(JString("a2"), JDouble(2.5)))))
    // non-Arrow garbage and a payload missing timestamp_ns are both 400s
    assert(postBytes("/api/v1/ingest/arrow", Array[Byte](1, 2, 3)).statusCode() == 400)
    val noTs = graft.engine.ResultFormat.toArrow(
      Converters.pointsToDf(spark, pts).select("metric_name", "value_f64"))
    val badResp = postBytes("/api/v1/ingest/arrow", noTs)
    assert(badResp.statusCode() == 400 && badResp.body().contains("timestamp_ns"))
  }

  test("per-tenant scoping: X-Graft-Tenant routes writes and restricts reads") {
    def postArrow(body: Array[Byte], tenant: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/ingest/arrow"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
        .header("Content-Type", "application/vnd.apache.arrow.stream")
        .header("X-Graft-Tenant", tenant).build(),
        HttpResponse.BodyHandlers.ofString())
    def sqlAs(q: String, tenant: Option[String]): List[org.json4s.JValue] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"query":"${q.replace("\"", "\\\"")}"}"""))
        .header("Content-Type", "application/json")
      tenant.foreach(b.header("X-Graft-Tenant", _))
      val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      (org.json4s.jackson.JsonMethods.parse(r.body()) \ "data")
        .asInstanceOf[org.json4s.JArray].arr
    }
    val ts = t0 + 30 * hourNs
    def wire(host: String, vs: Seq[Double]): Array[Byte] =
      graft.engine.ResultFormat.toArrow(
        Converters.pointsToDf(spark, vs.zipWithIndex.map { case (v, i) =>
          MetricPoint(ts + i * 1000L, "tenant_metric", v, Map("host" -> host)) })
          .select("metric_name", "timestamp_ns", "host", "value_f64"))
    assert(postArrow(wire("red1", Seq(1.0, 2.0)), "red").statusCode() == 200)
    assert(postArrow(wire("blue1", Seq(5.0, 6.0, 7.0)), "blue").statusCode() == 200)

    import org.json4s._
    val q = s"SELECT host, COUNT(*) AS cnt FROM metrics " +
      s"WHERE metric_name = 'tenant_metric' AND timestamp_ns >= $ts " +
      s"GROUP BY host ORDER BY host"
    // each tenant sees ONLY its own chunks
    assert(sqlAs(q, Some("red")) == List(JArray(List(JString("red1"), JInt(2)))))
    assert(sqlAs(q, Some("blue")) == List(JArray(List(JString("blue1"), JInt(3)))))
    // a tenant with no data sees an empty (not failing) result
    assert(sqlAs(q, Some("nobody")) == Nil)
    // no header = unscoped: the whole warehouse
    assert(sqlAs(q, None) == List(
      JArray(List(JString("blue1"), JInt(3))),
      JArray(List(JString("red1"), JInt(2)))))
  }

  test("GET /api/v1/stream: SSE data/end frames, incremental batches, error frame") {
    // scoped to the seeded metrics: the remote-write test (runs earlier) adds
    // its own http_requests rows to this warehouse
    val q = java.net.URLEncoder.encode(
      s"SELECT timestamp_ns, metric_name FROM metrics WHERE timestamp_ns >= $t0 " +
        "AND metric_name IN ('cpu_usage', 'mem_usage') " +
        "ORDER BY timestamp_ns, metric_name", "UTF-8")
    val resp = get(s"/api/v1/stream?query=$q&batch=7")
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("") == "text/event-stream")
    import org.json4s._
    val frames = resp.body().split("\n\n").filter(_.startsWith("data: "))
      .map(f => org.json4s.jackson.JsonMethods.parse(f.stripPrefix("data: "))).toList
    val (dataFrames, endFrames) = frames.partition(f => (f \ "type") == JString("data"))
    assert(endFrames.size == 1 && (endFrames.head \ "rows_read") == JInt(48))
    // 48 rows in batches of 7 → 7 frames, last one short
    assert(dataFrames.size == 7)
    val rows = dataFrames.flatMap(f => (f \ "rows").asInstanceOf[JArray].arr)
    assert(rows.size == 48)
    assert(rows.head.asInstanceOf[JArray].arr(1).isInstanceOf[JString])
    // an invalid query yields an error frame, not a broken socket
    val bad = get("/api/v1/stream?query=" + java.net.URLEncoder.encode(
      "SELECT nope_col FROM metrics", "UTF-8"))
    val badFrames = bad.body().split("\n\n").filter(_.startsWith("data: "))
    assert(badFrames.exists(_.contains("\"error\"")) || bad.statusCode() == 400)
  }

  test("WebSocket stream: RFC6455 roundtrip with the JDK client, data/end/error frames") {
    import org.json4s._
    val ws = new graft.server.WsApi(engine, port = 0).start()
    try {
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val listener = new java.net.http.WebSocket.Listener {
        private val sb = new StringBuilder
        override def onText(w: java.net.http.WebSocket, data: CharSequence,
                            last: Boolean): java.util.concurrent.CompletionStage[_] = {
          sb.append(data)
          if (last) { received.add(sb.toString); sb.setLength(0) }
          w.request(1)
          null
        }
      }
      val sock = HttpClient.newHttpClient().newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://127.0.0.1:${ws.boundPort}/"), listener).join()
      def next(): JValue = {
        val s = received.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(s != null, "timed out waiting for ws frame")
        org.json4s.jackson.JsonMethods.parse(s)
      }
      val q = s"SELECT metric_name, COUNT(*) AS cnt FROM metrics " +
        s"WHERE timestamp_ns >= $t0 AND metric_name IN ('cpu_usage', 'mem_usage') " +
        "GROUP BY metric_name ORDER BY metric_name"
      sock.sendText(s"""{"query":"${q.replace("\"", "\\\"")}","batch":1}""", true).join()
      // batch=1 → one data frame per row, then the end frame
      val f1 = next(); val f2 = next(); val f3 = next()
      assert((f1 \ "type") == JString("data") &&
        (f1 \ "rows") == JArray(List(JArray(List(JString("cpu_usage"), JInt(24))))))
      assert((f2 \ "rows") == JArray(List(JArray(List(JString("mem_usage"), JInt(24))))))
      assert((f3 \ "type") == JString("end") && (f3 \ "rows_read") == JInt(2))
      // a second query on the SAME connection (session is not one-shot)
      sock.sendText(s"""{"query":"SELECT 1 AS one"}""", true).join()
      val g1 = next(); val g2 = next()
      assert((g1 \ "rows") == JArray(List(JArray(List(JInt(1))))))
      assert((g2 \ "type") == JString("end"))
      // malformed SQL → error frame, socket stays usable
      sock.sendText("""{"query":"SELEKT nope"}""", true).join()
      assert((next() \ "type") == JString("error"))
      sock.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done").join()
    } finally ws.stop()
  }

  test("/metrics: self-telemetry counters move with queries and ingest") {
    import graft.engine.Telemetry
    val okBefore = Telemetry.queryRequestsOk.sum()
    val rowsBefore = Telemetry.ingestRows.sum()
    // one query through the engine...
    val r = get("/api/v1/sql?query=" + java.net.URLEncoder.encode(
      s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0", "UTF-8"))
    assert(r.statusCode() == 200)
    val body = get("/metrics").body()
    assert(body.contains("graft_query_requests_total{result=\"ok\"}"))
    assert(Telemetry.queryRequestsOk.sum() > okBefore, "query counter must move")
    // ...and ingest counters moved when the fixture warehouse was written
    assert(rowsBefore > 0, "ChunkWriter must have recorded ingested rows")
    assert(body.contains("graft_ingester_rows_total") &&
      body.contains("graft_query_latency_seconds_sum"))
    // exposition parses: every non-comment line is `name[{labels}] value`
    body.split("\n").filterNot(l => l.startsWith("#") || l.isEmpty).foreach { l =>
      // Prometheus name grammar: [a-zA-Z_:][a-zA-Z0-9_:]* (digits legal after
      // the first char — e.g. the l2 cache-tier counters)
      assert(l.matches("""[a-z_][a-z0-9_]*(\{[^}]*\})? [-0-9.eE]+"""), s"bad line: $l")
    }
  }

  test("PromQL instant + range accept POST form bodies (Grafana shape)") {
    // reference e2e prometheus_api_tests.rs:273-379: query endpoints accept
    // application/x-www-form-urlencoded POSTs equivalently to GET params
    def postForm(path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/x-www-form-urlencoded").build(),
        HttpResponse.BodyHandlers.ofString())
    val inst = postForm("/api/v1/query",
      "query=" + java.net.URLEncoder.encode("sum(cpu_usage) by (host)", "UTF-8"))
    assert(inst.statusCode() == 200 && inst.body().contains("\"success\""), inst.body())
    val getInst = get("/api/v1/query?query=" +
      java.net.URLEncoder.encode("sum(cpu_usage) by (host)", "UTF-8"))
    assert(inst.body() == getInst.body(), "POST form result must equal GET result")
    val range = postForm("/api/v1/query_range",
      "query=" + java.net.URLEncoder.encode("rate(cpu_usage[5m])", "UTF-8") +
        s"&start=${t0 / 1000000000L}&end=${t0 / 1000000000L + 7200}&step=600")
    assert(range.statusCode() == 200 && range.body().contains("\"matrix\""), range.body())
  }

  test("over-cap SELECT is clipped at MaxResultRows with stats.truncated (driver-safety cap)") {
    // 48 fixture rows × 3000 = 144 000 > the 100 000 cap; the LIMIT is planned
    // (CollectLimit), so executors stop producing past the cap too
    val q = s"SELECT explode(sequence(1, 3000)) AS n FROM metrics WHERE timestamp_ns >= $t0"
    val resp = post("/api/v1/sql", s"""{"query":"${q.replace("\"", "\\\"")}"}""")
    assert(resp.statusCode() == 200)
    val j = org.json4s.jackson.JsonMethods.parse(resp.body())
    import org.json4s._
    assert((j \ "stats" \ "truncated") == JBool(true))
    assert((j \ "stats" \ "rows_read") == JInt(HttpApi.MaxResultRows))
    assert((j \ "data").asInstanceOf[JArray].arr.size == HttpApi.MaxResultRows)
    // an under-cap result carries no truncated marker
    val small = post("/api/v1/sql",
      s"""{"query":"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0"}""")
    assert((org.json4s.jackson.JsonMethods.parse(small.body()) \ "stats" \ "truncated")
      == JNothing)
  }

  test("oversized POST body is rejected with 413 before buffering") {
    // declare a Content-Length over the 16 MB cap WITHOUT sending the body —
    // the server must reject from the header alone (never tries to read 10 GB)
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      out.write(("POST /api/v1/write HTTP/1.1\r\nHost: x\r\n" +
        s"Content-Length: ${10L * 1024 * 1024 * 1024}\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8")).readLine()
      assert(line != null && line.contains("413"), s"expected 413, got: $line")
    } finally sock.close()
    // sanity: the sql route enforces the same cap
    val sock2 = new java.net.Socket("127.0.0.1", port)
    try {
      val out = sock2.getOutputStream
      out.write(("POST /api/v1/sql HTTP/1.1\r\nHost: x\r\n" +
        s"Content-Length: ${64L * 1024 * 1024}\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock2.getInputStream, "UTF-8")).readLine()
      assert(line != null && line.contains("413"), s"expected 413, got: $line")
    } finally sock2.close()
  }

  test("WebSocket: ping interleaved inside a fragmented message (RFC 6455 §5.4/§5.5)") {
    val ws = new graft.server.WsApi(engine, port = 0).start()
    val sock = new java.net.Socket("127.0.0.1", ws.boundPort)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      // handshake
      out.write(("GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n" +
        "Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("UTF-8"))
      out.flush()
      var prev = 0; var b = in.read(); val hdr = new StringBuilder
      while (b != -1 && !(prev == '\n' && (b == '\r' || b == '\n'))) {
        hdr.append(b.toChar); prev = b; b = in.read()
      }
      if (b == '\r') in.read()
      assert(hdr.toString.startsWith("HTTP/1.1 101"), hdr.toString)

      def sendFrame(fin: Boolean, op: Int, payload: Array[Byte]): Unit = {
        out.write((if (fin) 0x80 else 0) | op)
        assert(payload.length < 126)
        out.write(0x80 | payload.length) // client frames are masked
        val mask = Array[Byte](0x11, 0x22, 0x33, 0x44)
        out.write(mask)
        out.write(payload.zipWithIndex.map { case (p, i) => (p ^ mask(i % 4)).toByte })
        out.flush()
      }
      def readFrame(): (Int, Array[Byte]) = {
        val h0 = in.read(); val h1 = in.read()
        assert(h0 >= 0 && h1 >= 0, "server closed early")
        var len: Long = h1 & 0x7f
        if (len == 126) len = ((in.read() & 0xffL) << 8) | (in.read() & 0xffL)
        else if (len == 127) len = (0 until 8).foldLeft(0L)((a, _) => (a << 8) | (in.read() & 0xffL))
        val buf = new Array[Byte](len.toInt)
        var off = 0
        while (off < len) { val r = in.read(buf, off, len.toInt - off); assert(r > 0); off += r }
        (h0 & 0x0f, buf)
      }

      // a query split across two fragments with a PING in between: the server
      // must pong AND still reassemble + answer the query
      val msg = """{"query":"SELECT 1 AS one"}""".getBytes("UTF-8")
      val (half1, half2) = msg.splitAt(msg.length / 2)
      sendFrame(fin = false, op = 1, half1)
      sendFrame(fin = true, op = 9, "hi".getBytes("UTF-8")) // ping mid-message
      sendFrame(fin = true, op = 0, half2)

      val (op1, pay1) = readFrame()
      assert(op1 == 10 && new String(pay1, "UTF-8") == "hi", "expected pong first")
      val (op2, pay2) = readFrame()
      assert(op2 == 1 && new String(pay2, "UTF-8").contains("\"data\""),
        s"expected data frame, got op=$op2 ${new String(pay2, "UTF-8").take(80)}")
      val (op3, pay3) = readFrame()
      assert(op3 == 1 && new String(pay3, "UTF-8").contains("\"end\""))
      sendFrame(fin = true, op = 8, Array[Byte](0x03, 0xe8.toByte)) // close 1000
      val (op4, _) = readFrame()
      assert(op4 == 8, "expected close echo")
    } finally { sock.close(); ws.stop() }
  }

  test("WebSocket live tail: chunks flushed mid-stream arrive as data frames after the historical phase") {
    import org.json4s._
    // dedicated engine: the tail polls ITS catalog, and we append to it mid-test
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_live_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    writer.write(Converters.pointsToDf(spark,
      (0 until 5).map(i => MetricPoint(t0 + i * 1000L, "cpu_usage", i * 1.0,
        Map("host" -> "h1")))))
    val eng = new QueryEngine(spark, cat)
    val ws = new graft.server.WsApi(eng, port = 0).start()
    try {
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val listener = new java.net.http.WebSocket.Listener {
        private val sb = new StringBuilder
        override def onText(w: java.net.http.WebSocket, data: CharSequence,
                            last: Boolean): java.util.concurrent.CompletionStage[_] = {
          sb.append(data)
          if (last) { received.add(sb.toString); sb.setLength(0) }
          w.request(1)
          null
        }
      }
      val sock = HttpClient.newHttpClient().newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://127.0.0.1:${ws.boundPort}/"), listener).join()
      def next(): JValue = {
        val s = received.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(s != null, "timed out waiting for ws frame")
        org.json4s.jackson.JsonMethods.parse(s)
      }
      val q = s"SELECT metric_name, COUNT(*) AS cnt FROM metrics " +
        s"WHERE timestamp_ns >= $t0 GROUP BY metric_name"
      sock.sendText(s"""{"query":"${q.replace("\"", "\\\"")}","live":true}""", true).join()
      // historical phase: one data frame (cpu_usage, 5), NO end frame yet
      val h = next()
      assert((h \ "type") == JString("data") &&
        (h \ "rows") == JArray(List(JArray(List(JString("cpu_usage"), JInt(5))))))
      assert(received.isEmpty, "end must be deferred in live mode")
      // flush new chunks mid-stream: one batch at/after the merge cutoff (kept)
      // and one entirely BEFORE it (dropped — the reference's dedup boundary)
      val nowNs = System.currentTimeMillis() * 1000000L
      writer.write(Converters.pointsToDf(spark,
        Seq(MetricPoint(nowNs + 3600L * 1000000000L, "mem_usage", 42.0,
          Map("host" -> "h2")))))
      val live = next()
      assert((live \ "type") == JString("data"), s"expected live data frame: $live")
      val cols = (live \ "columns") match {
        case JArray(vs) => vs.collect { case JString(s) => s }
        case _ => fail(s"live frame must carry columns: $live")
      }
      val mnIdx = cols.indexOf("metric_name")
      assert(mnIdx >= 0)
      val JArray(List(JArray(liveRow))) = (live \ "rows")
      assert(liveRow(mnIdx) == JString("mem_usage"))
      // a pre-cutoff flush must NOT produce a frame
      writer.write(Converters.pointsToDf(spark,
        Seq(MetricPoint(t0 + 999L, "stale_metric", 1.0, Map("host" -> "h3")))))
      Thread.sleep(1200) // two poll cycles
      assert(received.isEmpty, s"pre-cutoff rows must be dropped: ${received.peek()}")
      // close ends the live phase: end frame with total rows, then close echo
      sock.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done").join()
      val e = next()
      assert((e \ "type") == JString("end") && (e \ "rows_read") == JInt(2), s"got $e")
    } finally ws.stop()
  }

  test("SSE live tail: duration-bounded tail forwards a mid-stream flush") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_live_sse_"), cacheTtlMs = 0L)
    val writer = new ChunkWriter(cat)
    writer.write(Converters.pointsToDf(spark,
      Seq(MetricPoint(t0, "cpu_usage", 1.0, Map("host" -> "h1")))))
    val eng = new QueryEngine(spark, cat)
    val liveApi = new HttpApi(eng, port = 0).start()
    try {
      val q = java.net.URLEncoder.encode(
        s"SELECT COUNT(*) AS cnt FROM metrics WHERE timestamp_ns >= $t0", "UTF-8")
      // flush a post-cutoff batch ~1 s into the 4 s tail window
      val flusher = new Thread(() => {
        Thread.sleep(1000)
        writer.write(Converters.pointsToDf(spark,
          Seq(MetricPoint(System.currentTimeMillis() * 1000000L + 3600L * 1000000000L,
            "mem_usage", 2.0, Map("host" -> "h2")))))
      })
      flusher.start()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${liveApi.boundPort}/api/v1/stream?query=$q&live=1&duration=4"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      flusher.join()
      val frames = resp.body().split("\n\n").filter(_.startsWith("data: "))
      assert(frames.exists(f => f.contains("\"columns\"") && f.contains("mem_usage")),
        s"expected a live frame with mem_usage, got: ${frames.mkString(" | ")}")
      assert(frames.last.contains("\"end\"") && frames.last.contains("\"rows_read\":2"))
    } finally liveApi.stop()
  }

  test("request guard: NonFatal → 400 response; fatal errors propagate, never a 400") {
    api.contextForTest("/test/nonfatal")(_ =>
      throw new IllegalStateException("benign failure"))
    api.contextForTest("/test/fatal")(_ =>
      // fatal by scala.util.control.NonFatal's definition; must NOT be
      // swallowed into an HTTP error (the JDK server then drops the exchange
      // without a response — the client sees a transport failure, not a 400)
      throw new InterruptedException("executor thread interrupted"))
    val benign = get("/test/nonfatal")
    assert(benign.statusCode() == 400 && benign.body().contains("benign failure"))
    val fatalOutcome =
      try Left(get("/test/fatal").statusCode())
      catch { case e: java.io.IOException => Right(e) }
    fatalOutcome match {
      case Left(code) => assert(code != 400 && code != 200,
        s"fatal error must not be converted into an HTTP $code")
      case Right(_) => () // connection dropped: the error propagated
    }
  }

  test("time travel over HTTP: X-Graft-As-Of-Version pins the chunk set; " +
    "evicted version is a 400, not a 500") {
    val cat = new ChunkCatalog(ShmDirs.tempDir("graft_http_tt_"),
      cacheTtlMs = 0L, manifestRetain = 8)
    val writer = new ChunkWriter(cat)
    def pts(h: Int, n: Int) = Converters.pointsToDf(spark, (0 until n).map(i =>
      MetricPoint(t0 + h * hourNs + i * 60L * 1000000000L, "cpu_usage",
        i.toDouble, Map("host" -> "s1"))))
    writer.write(pts(0, 9))
    val v1 = cat.state.version
    writer.write(pts(1, 4))
    val eng = new QueryEngine(spark, cat)
    val a = new HttpApi(eng, port = 0).start()
    try {
      val q = s"SELECT count(*) AS c FROM metrics WHERE timestamp_ns >= $t0"
      def sqlWith(hdrs: (String, String)*): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${a.boundPort}/api/v1/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":"$q"}"""))
          .header("Content-Type", "application/json")
          .headers(hdrs.flatMap(h => Seq(h._1, h._2)): _*).build(),
          HttpResponse.BodyHandlers.ofString())
      val live = sqlWith("X-Graft-Probe" -> "1")
      assert(live.statusCode() == 200 && live.body().contains("[13]"), live.body())
      val asof = sqlWith("X-Graft-As-Of-Version" -> v1.toString)
      assert(asof.statusCode() == 200 && asof.body().contains("[9]"), asof.body())
      val gone = sqlWith("X-Graft-As-Of-Version" -> "99999")
      assert(gone.statusCode() == 400, s"${gone.statusCode()} ${gone.body()}")
      val junk = sqlWith("X-Graft-As-Of-Version" -> "banana")
      assert(junk.statusCode() == 400)
    } finally a.stop()
  }

  test("shutdown") { api.stop() }
}
