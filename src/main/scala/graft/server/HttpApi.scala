package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame
import graft.engine.{QueryEngine, ResultFormat}
import graft.promql.PromQL

/** Thin HTTP front door over the engine — the entry point every reference user
  * hits first (reference `src/api/mod.rs:53-76` route table,
  * `src/api/query/sql_http.rs:24-132` SQL handler,
  * `src/api/query/prometheus_api.rs` PromQL handlers). JDK-built-in
  * `com.sun.net.httpserver` only: zero new dependencies, and deliberately thin —
  * ALL query semantics live in QueryEngine/PromQL/ResultFormat; this class just
  * parses requests and picks a formatter. Streaming delivery lives next door:
  * SSE on /api/v1/stream below, WebSocket in [[WsApi]]. Remaining
  * serving-scale concerns (CORS, auth, connection fan-out) stay out of scope
  * per SURVEY §7.5.
  *
  * Routes:
  *   GET  /health, /ready                         → "OK"
  *   POST /api/v1/sql       {"query":…,"format":…} → {columns,data,stats} JSON,
  *   GET  /api/v1/sql?query=…[&format=json|arrow|csv]   Arrow IPC stream, or CSV
  *   GET  /api/v1/query?query=<promql>            → Prometheus vector payload
  *   GET  /api/v1/query_range?query=…&start=…&end=…&step=… → matrix payload
  *   GET  /api/v1/labels                          → {"status","data":[labels]}
  *   GET  /api/v1/label/<name>/values             → {"status","data":[values]}
  *   GET  /api/v1/series?match[]=<selector>       → {"status","data":[series]}
  *   POST /api/v1/write     snappy(WriteRequest)  → 204 (remote-write ingest
  *        through the production chunk path: wire parse → value routing →
  *        sorted hour chunks + catalog registration)
  *   GET  /api/v1/stream?query=…[&batch=n][&live=1][&duration=s] → SSE stream
  *        of {type:"data",rows:[…]} frames then {type:"end",rows_read:n}
  *        (the reference's streaming frame protocol, src/api/query/streaming
  *        .rs:27-136, over SSE instead of WebSocket; rows are delivered
  *        incrementally via toLocalIterator — partition-at-a-time, never a
  *        whole-result collect, so arbitrarily large results stream in
  *        bounded driver memory). live=1 tails freshly flushed chunks after
  *        the historical phase (LiveMerge.CatalogTail: merge-timestamp
  *        cutoff fixed at query start, reference live:true semantics) until
  *        the client disconnects or `duration` seconds pass; the WS route in
  *        [[WsApi]] supports the same via {"live":true}.
  */
final class HttpApi(engine: QueryEngine, port: Int = 0,
                    quota: RateLimiter.TenantQuota = RateLimiter.TenantQuota()) {

  /** Per-tenant admission control (reference src/rate_limit.rs — defined there
    * but never wired; here the query routes consume a query-RPS token + a
    * concurrent slot and the ingest routes consume write-RPS + byte tokens,
    * with denials as 429 + Retry-After). Tenant = `X-Graft-Tenant` header,
    * defaulting like the ingest path's tenant does.
    */
  val rateLimiter = new RateLimiter(quota)

  private def tenantOf(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("X-Graft-Tenant")).getOrElse("default")

  private def deny(ex: HttpExchange, d: RateLimiter.Denial): Unit = {
    ex.getResponseHeaders.set("Retry-After",
      math.max(1L, (d.retryAfterMs + 999) / 1000).toString)
    respondJson(ex, 429, s"""{"error":"${d.message}"}""")
  }

  /** Admission wrapper for query routes: RPS token + concurrent slot held for
    * the handler's whole duration (streams hold theirs until the tail ends,
    * which is exactly what a concurrency quota should count).
    */
  private def queryAdmitted(ex: HttpExchange)(body: => Unit): Unit =
    rateLimiter.checkQuery(tenantOf(ex)) match {
      case RateLimiter.Denied(d) => deny(ex, d)
      case RateLimiter.Allowed =>
        try body finally rateLimiter.queryCompleted(tenantOf(ex))
    }

  /** Admission check for ingest routes, sized by the on-the-wire body. */
  private def writeAdmitted(ex: HttpExchange, bytes: Long)(body: => Unit): Unit =
    rateLimiter.checkWrite(tenantOf(ex), bytes) match {
      case RateLimiter.Denied(d) => deny(ex, d)
      case RateLimiter.Allowed => body
    }

  /** Ingest admission + body read, ordered so a denied tenant costs nothing:
    * when the client declares Content-Length (the JDK server bounds the request
    * stream to it, so declared == readable) the rate check runs BEFORE the body
    * is buffered — a 429 consumes neither heap nor read bandwidth. Without the
    * header we must buffer first and check the actual size (the only honest
    * byte count available). Declared-over-cap still 413s before any charge.
    */
  private def ingestAdmitted(ex: HttpExchange)(handle: Array[Byte] => Unit): Unit = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ >= 0L)
    declared match {
      case Some(n) =>
        if (n > HttpApi.MaxBodyBytes)
          throw HttpApi.HttpError(413,
            s"request body $n bytes exceeds ${HttpApi.MaxBodyBytes}")
        writeAdmitted(ex, n)(handle(readBody(ex)))
      case None =>
        val raw = readBody(ex)
        writeAdmitted(ex, raw.length.toLong)(handle(raw))
    }
  }

  // ---- pre-serialized response-byte cache (r11, VERDICT #3) -----------------
  // A REPEATED dashboard request is served the exact bytes of its previous
  // response — zero transpile, zero plan, zero row, zero serialization work;
  // the literal Spark analog of the reference's moka L1 handing back cached
  // bytes (src/query/cached_store.rs). Key = route + canonical request +
  // tenant/as-of scope + the catalog MANIFEST VERSION, so any committed
  // write/compaction/gc changes the key and a stale structural hit is
  // impossible.
  //
  // TTL rule: the TTL bounds staleness only where the answer depends on
  // "now" — `/api/v1/query` without `time`, and SQL the engine has not
  // memoized as time-independent ([[QueryEngine.isTimeFixed]]); their text
  // does not change between repeats while "now" moves. Every other route
  // (query_range, query with `time`, bounded SQL, labels, label values,
  // series) is a function of its key alone and is served until the key
  // changes. Entries are LRU, per-entry ≤ 256 KB (dashboard payloads), ≤ 256
  // entries; TTL 0 disables the tier. Embedded stats (elapsed_ms) are the
  // ORIGINAL compute's — documented cached-response semantics.

  /** TTL for byte-cache hits of now-relative requests; 0 disables the tier. */
  @volatile var responseByteCacheTtlMs: Long = 2000L
  private val byteCacheMaxEntryBytes = 262144
  private val byteCache =
    new java.util.LinkedHashMap[String, HttpApi.CachedResponse](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, HttpApi.CachedResponse]): Boolean = size() > 256
    }

  private def byteCacheKey(ex: HttpExchange, route: String, canonical: String): String = {
    val tenant = Option(ex.getRequestHeaders.getFirst("X-Graft-Tenant")).getOrElse("")
    val asOf = Option(ex.getRequestHeaders.getFirst("X-Graft-As-Of-Version")).getOrElse("")
    s"$route|v${engine.catalog.state.version}|t$tenant|a$asOf|$canonical"
  }

  /** Serve `key` from the byte cache if still valid; else compute the payload
    * via `mk`, respond, and store it. `timeFixed` is evaluated after `mk`
    * (the engine memoizes a query's time-independence while computing it):
    * true exempts the entry from the TTL. NON-200 paths never enter the cache
    * (mk throws → the standard handler guard responds).
    */
  private def respondCached(ex: HttpExchange, key: String, contentType: String,
                            timeFixed: => Boolean)(mk: => Array[Byte]): Unit = {
    val ttl = responseByteCacheTtlMs
    if (ttl > 0) {
      val hit = byteCache.synchronized(Option(byteCache.get(key)))
      hit match {
        case Some(c) if c.timeFixed || System.currentTimeMillis() - c.storedMs <= ttl =>
          graft.engine.Telemetry.httpByteCacheHits.increment()
          respond(ex, 200, c.bytes, c.contentType)
          return
        case Some(_) => byteCache.synchronized { byteCache.remove(key); () }
        case None => ()
      }
    }
    val bytes = mk
    if (ttl > 0 && bytes.length <= byteCacheMaxEntryBytes) {
      val entry = HttpApi.CachedResponse(System.currentTimeMillis(), bytes, contentType,
        timeFixed)
      byteCache.synchronized { byteCache.put(key, entry); () }
    }
    respond(ex, 200, bytes, contentType)
  }

  private val server = HttpServer.create(new java.net.InetSocketAddress(port), 16)
  // daemon handler threads: the pool must never keep a driver JVM alive after
  // main returns (a non-daemon default pool wedged the soak harness on exit)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t })
  server.setExecutor(pool)

  /** Bound port (useful with port=0: pick any free port). */
  def boundPort: Int = server.getAddress.getPort

  def start(): HttpApi = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  /** Test hook: register an extra context through the standard request guard,
    * so the guard's NonFatal-vs-fatal discipline is spec-testable.
    */
  private[graft] def contextForTest(path: String)(f: HttpExchange => Unit): Unit =
    server.createContext(path, handler(f))

  // ---- plumbing -------------------------------------------------------------

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
                      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    // -1 = no body (REQUIRED for 204); 0 would mean chunked-unknown
    ex.sendResponseHeaders(code, if (body.isEmpty) -1L else body.length.toLong)
    val os = ex.getResponseBody
    try { if (body.nonEmpty) os.write(body) } finally os.close()
  }

  private def respondJson(ex: HttpExchange, code: Int, json: String): Unit =
    respond(ex, code, json.getBytes("UTF-8"), "application/json")

  private def error(ex: HttpExchange, code: Int, msg: String): Unit =
    respondJson(ex, code, s"""{"error":${org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(msg)))}}""")

  /** URL-decoded query params; repeated keys (match[]) keep every value.
    * A POSTed `application/x-www-form-urlencoded` body contributes params
    * too (after any URI ones) — the Prometheus API accepts both forms and
    * Grafana POSTs instant/range queries (reference e2e
    * prometheus_api_tests.rs:273-379).
    */
  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    val fromUri = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST" &&
          Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .exists(_.startsWith("application/x-www-form-urlencoded")))
        new String(readBody(ex), "UTF-8")
      else ""
    (fromUri + "&" + fromBody).split("&").filter(_.nonEmpty).toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
  }

  /** The ONE top-level request guard: benign failures become HTTP error
    * responses; fatal errors (OOM, JVM errors) are logged and RETHROWN — a
    * dead executor thread must never silently degrade into a 400.
    */
  private def handler(f: HttpExchange => Unit): HttpHandler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try f(ex)
      catch {
        case HttpApi.HttpError(code, msg) =>
          try error(ex, code, msg)
          catch { case scala.util.control.NonFatal(_) => () }
        case scala.util.control.NonFatal(e) =>
          try error(ex, 400, Option(e.getMessage).getOrElse(e.toString))
          catch { case scala.util.control.NonFatal(_) => () } // response already started
        case e: Throwable =>
          System.err.println(s"[http] FATAL error in request handler: $e")
          throw e
      }
  }

  /** Read a request body with a hard size cap (same 16 MB bound as WsApi's
    * frame limit) — a Content-Length over the cap is rejected with 413 before
    * reading a byte, and a chunked/unlabeled body is cut off at the cap, so an
    * oversized POST can't exhaust the driver heap.
    */
  private def readBody(ex: HttpExchange): Array[Byte] = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    declared.filter(_ > HttpApi.MaxBodyBytes).foreach(n =>
      throw HttpApi.HttpError(413, s"request body $n bytes exceeds ${HttpApi.MaxBodyBytes}"))
    val body = ex.getRequestBody.readNBytes(HttpApi.MaxBodyBytes + 1)
    if (body.length > HttpApi.MaxBodyBytes)
      throw HttpApi.HttpError(413, s"request body exceeds ${HttpApi.MaxBodyBytes} bytes")
    body
  }

  /** Prometheus `start`/`end` accept unix seconds (possibly fractional).
    * Integer seconds multiply exactly in Long — present-day epochs are ~1.7e18
    * ns, past double's 2^53 integer-exact range, so the double path (kept only
    * for fractional inputs) could flip boundary-inclusive ns comparisons.
    */
  private def secToNs(s: String): Long = {
    val trimmed = s.trim
    scala.util.Try(trimmed.toLong) match {
      case scala.util.Success(sec) => sec * 1000000000L
      case _ => (trimmed.toDouble * 1e9).toLong
    }
  }

  private def promListPayload(values: Seq[String]): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      JObject("status" -> JString("success"),
        "data" -> JArray(values.toList.map(JString(_))))))
  }

  /** In-memory CSV for API-sized results (the distributed writeCsv is for sinks). */
  private def toCsvString(df: DataFrame): String = {
    def cell(v: Any): String = v match {
      case null => ""
      case s: String if s.exists(",\"\n\r".contains(_)) =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case other => String.valueOf(other)
    }
    val header = df.schema.fieldNames.mkString(",")
    val rows = df.collect().map(_.toSeq.map(cell).mkString(","))
    (header +: rows).mkString("", "\n", "\n")
  }

  // ---- routes ----------------------------------------------------------------

  server.createContext("/health", handler(ex => respond(ex, 200, "OK".getBytes, "text/plain")))
  // the reference's ready_check returns "READY", not "OK" (src/api/mod.rs:101-104)
  server.createContext("/ready", handler(ex => respond(ex, 200, "READY".getBytes, "text/plain")))

  /** Self-telemetry in Prometheus text exposition — the scrape surface for
    * the counters the reference records through its OTel instruments
    * (src/query/telemetry.rs, src/ingester/telemetry.rs; no OTLP exporter
    * exists offline, so the standard /metrics scrape is the export path).
    */
  server.createContext("/metrics", handler(ex =>
    respond(ex, 200, graft.engine.Telemetry.prometheusText().getBytes("UTF-8"),
      "text/plain; version=0.0.4")))

  server.createContext("/api/v1/sql", handler { ex => queryAdmitted(ex) {
    val (query, format) =
      if (ex.getRequestMethod == "POST") {
        val body = new String(readBody(ex), "UTF-8")
        val j = org.json4s.jackson.JsonMethods.parse(body)
        ((j \ "query"), (j \ "format")) match {
          case (org.json4s.JString(q), org.json4s.JString(f)) => (q, f)
          case (org.json4s.JString(q), _) => (q, "json")
          case _ => throw new IllegalArgumentException("body must be {\"query\": \"...\"}")
        }
      } else {
        val p = params(ex)
        (p.get("query").flatMap(_.headOption)
          .getOrElse(throw new IllegalArgumentException("missing query param")),
          p.get("format").flatMap(_.headOption).getOrElse("json"))
      }
    val t0 = System.nanoTime()
    // Per-tenant scoping (query_for_tenant analog): an EXPLICIT X-Graft-Tenant
    // header restricts the chunk set to that tenant's write paths; absent
    // header = unscoped (single-tenant deployments see the whole warehouse,
    // and rollup routing stays available).
    val tenantScope = Option(ex.getRequestHeaders.getFirst("X-Graft-Tenant"))
    // Time travel: X-Graft-As-Of-Version pins the query to a RETAINED catalog
    // manifest version (engines on manifestRetain>0 warehouses); an evicted or
    // never-committed version is a client error, not a 500.
    val asOf = Option(ex.getRequestHeaders.getFirst("X-Graft-As-Of-Version"))
      .map(v => try v.trim.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad X-Graft-As-Of-Version: $v")
      })
    try format match {
      // Driver-safety cap: the buffered formats collect() — a planned LIMIT
      // bounds both executor work and driver heap, so `SELECT * FROM metrics`
      // over a big warehouse clips (json marks stats.truncated) instead of
      // OOMing the serving process. Unbounded results belong on /api/v1/stream.
      case "json" =>
        // byte-cached (repeat dashboard shape): stats carry the ORIGINAL
        // compute's elapsed_ms — cached-response semantics, documented above
        respondCached(ex, byteCacheKey(ex, "sql", query), "application/json",
          engine.isTimeFixed(query)) {
          engine.execute(query, tenant = tenantScope, asOfVersion = asOf)(df =>
            ResultFormat.toJson(df,
              (System.nanoTime() - t0) / 1000000L, HttpApi.MaxResultRows).getBytes("UTF-8"))
        }
      case "arrow" =>
        engine.execute(query, tenant = tenantScope, asOfVersion = asOf)(df =>
          respond(ex, 200, ResultFormat.toArrow(df.limit(HttpApi.MaxResultRows)),
            "application/vnd.apache.arrow.stream"))
      case "csv" =>
        engine.execute(query, tenant = tenantScope, asOfVersion = asOf)(df =>
          respond(ex, 200, toCsvString(df.limit(HttpApi.MaxResultRows)).getBytes("UTF-8"),
            "text/csv"))
      case other => error(ex, 400, s"Invalid format '$other'. Use: json, arrow, or csv")
    }
    catch {
      case e: java.nio.file.NoSuchFileException =>
        error(ex, 400, s"as-of version not retained (evicted or never committed): ${e.getMessage}")
    }
  }})

  server.createContext("/api/v1/query_range", handler { ex => queryAdmitted(ex) {
    val p = params(ex)
    def req(k: String) = p.get(k).flatMap(_.headOption)
      .getOrElse(throw new IllegalArgumentException(s"missing $k param"))
    val (q, start, end, step) = (req("query"), req("start"), req("end"), req("step"))
    respondCached(ex,
      byteCacheKey(ex, "query_range", s"$q|$start|$end|$step"), "application/json",
      timeFixed = true) {
      val sql = PromQL.transpileRange(q, secToNs(start), secToNs(end), step.toLong)
      // same explicit-header tenant scoping as the SQL route
      engine.execute(sql, tenant = Option(ex.getRequestHeaders.getFirst("X-Graft-Tenant")))(
        df => ResultFormat.toPromMatrix(df).getBytes("UTF-8"))
    }
  }})

  server.createContext("/api/v1/query", handler { ex => queryAdmitted(ex) {
    val p = params(ex)
    val q = p.get("query").flatMap(_.headOption)
      .getOrElse(throw new IllegalArgumentException("missing query param"))
    val time = p.get("time").flatMap(_.headOption)
    respondCached(ex,
      byteCacheKey(ex, "query", s"$q|${time.getOrElse("")}"), "application/json",
      timeFixed = time.isDefined) {
      engine.execute(PromQL.transpileInstant(q, time.map(secToNs)),
        tenant = Option(ex.getRequestHeaders.getFirst("X-Graft-Tenant")))(
        df => ResultFormat.toPromVector(df).getBytes("UTF-8"))
    }
  }})

  // labels/label-values/series ride the same response-byte cache as the
  // query routes (r12, r11 VERDICT "What's wrong #4"): Grafana refreshes its
  // dropdowns on every dashboard load, and the canonical request (raw query
  // string) + manifest version + tenant keys the previous bytes exactly.
  server.createContext("/api/v1/labels", handler { ex =>
    respondCached(ex, byteCacheKey(ex, "labels", ""), "application/json", timeFixed = true) {
      promListPayload(engine.labels()).getBytes("UTF-8")
    }
  })

  // /api/v1/label/<name>/values?match[]=<selector>&start=<s>&end=<s>
  // (reference prometheus_api.rs:330-470: label values are filtered by the
  // optional series matchers and time window — Grafana's dependent dropdowns)
  server.createContext("/api/v1/label", handler { ex =>
    val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    // ("api","v1","label","<name>","values")
    if (path.length == 5 && path(4) == "values") {
      val canonical = path(3) + "|" +
        Option(ex.getRequestURI.getRawQuery).getOrElse("")
      respondCached(ex, byteCacheKey(ex, "label_values", canonical),
          "application/json", timeFixed = true) {
        val p = params(ex)
        val matchers = p.getOrElse("match[]", Nil).flatMap(PromQL.parseMatchers)
        val startNs = p.get("start").flatMap(_.headOption).map(secToNs)
        val endNs = p.get("end").flatMap(_.headOption).map(secToNs)
        val values = engine.labelValues(path(3), matchers, startNs, endNs).collect()
          .map(r => String.valueOf(r.get(0))).toSeq.sorted
        promListPayload(values).getBytes("UTF-8")
      }
    } else error(ex, 404, "not found")
  })

  /** Remote-write ingest (reference src/api/ingest/prometheus.rs:82-354 +
    * mod.rs:76): snappy-framed protobuf WriteRequest → hand-rolled wire parse →
    * value-type routing → the SAME ChunkWriter path batch ingest uses (sorted
    * ZSTD hour chunks, zone maps from footers, catalog registration). Returns
    * 204 like a Prometheus-compatible receiver. Uncompressed bodies are
    * accepted too (the snappy sniff falls through) for curl-ability.
    */
  /** One ChunkWriter per tenant (X-Graft-Tenant, default "default"): writes
    * land under `{root}/{tenant}/data/...`, which is the path prefix
    * per-tenant query scoping keys on.
    */
  private val ingestWriters =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ingest.ChunkWriter]()
  private def ingestWriter(ex: HttpExchange): graft.ingest.ChunkWriter =
    ingestWriters.computeIfAbsent(tenantOf(ex),
      t => new graft.ingest.ChunkWriter(engine.catalog, t))

  server.createContext("/api/v1/write", handler { ex =>
    if (ex.getRequestMethod != "POST") error(ex, 405, "POST only")
    else {
      ingestAdmitted(ex) { raw =>
      // bound the DECOMPRESSED size too before allocating — snappy's header
      // declares it, so a decompression bomb is rejected without inflating
      val proto =
        try {
          if (org.xerial.snappy.Snappy.uncompressedLength(raw) > HttpApi.MaxBodyBytes)
            throw HttpApi.HttpError(413,
              s"decompressed body exceeds ${HttpApi.MaxBodyBytes} bytes")
          org.xerial.snappy.Snappy.uncompress(raw)
        } catch {
          case e: HttpApi.HttpError => throw e
          case scala.util.control.NonFatal(_) => raw // not snappy-framed: raw proto
        }
      val points = graft.ingest.PromWire.toRoutedPoints(proto)
      if (points.nonEmpty) {
        ingestWriter(ex).write(graft.ingest.Converters.routedToDf(engine.spark, points))
        engine.catalog.invalidateCache()
      }
      respond(ex, 204, Array.emptyByteArray, "text/plain")
      }
    }
  })

  /** Arrow-native bulk ingest — the Flight DoPut analog
    * (src/api/ingest/flight_ingest.rs:25-45) over the Arrow IPC STREAM format
    * instead of gRPC framing: the body is exactly what `format=arrow` query
    * responses emit, decoded and appended through the same ChunkWriter path as
    * remote-write. Responds with the accepted row/chunk counts (the DoPut
    * PutResult analog).
    */
  server.createContext("/api/v1/ingest/arrow", handler { ex =>
    if (ex.getRequestMethod != "POST") error(ex, 405, "POST only")
    else {
      ingestAdmitted(ex) { raw =>
      val points =
        try graft.ingest.ArrowIngest.toRoutedPoints(raw)
        catch {
          case e: HttpApi.HttpError => throw e
          case e: IllegalArgumentException => throw HttpApi.HttpError(400, e.getMessage)
          case scala.util.control.NonFatal(e) =>
            throw HttpApi.HttpError(400, s"not an Arrow IPC stream: ${e.getMessage}")
        }
      val chunks =
        if (points.isEmpty) Nil
        else {
          val metas = ingestWriter(ex).write(
            graft.ingest.Converters.routedToDf(engine.spark, points))
          engine.catalog.invalidateCache()
          metas
        }
      respondJson(ex, 200, s"""{"rows":${points.size},"chunks":${chunks.size}}""")
      }
    }
  })

  server.createContext("/api/v1/stream", handler { ex => queryAdmitted(ex) {
    val p = params(ex)
    val query = p.get("query").flatMap(_.headOption)
      .getOrElse(throw new IllegalArgumentException("missing query param"))
    val batchRows = p.get("batch").flatMap(_.headOption).map(_.toInt).getOrElse(256)
    val live = p.get("live").flatMap(_.headOption).exists(v => v == "1" || v == "true")
    // live tails end on client disconnect (the write fails); `duration` (secs)
    // bounds a tail for curl-ability
    val durationMs = p.get("duration").flatMap(_.headOption).map(_.toLong * 1000)
    import org.json4s._
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0L) // chunked
    val os = ex.getResponseBody
    def frame(j: JObject): Unit = {
      os.write(("data: " + org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(j)) + "\n\n").getBytes("UTF-8"))
      os.flush()
    }
    var n = 0L
    def streamRows(df: DataFrame, withColumns: Boolean): Unit = {
      val schema = df.schema
      // partition-at-a-time delivery: toLocalIterator never materializes the
      // whole result on the driver (the reference streams RecordBatches the
      // same way)
      import scala.jdk.CollectionConverters._
      df.toLocalIterator().asScala.grouped(batchRows).foreach { rows =>
        n += rows.size
        val base = List[(String, JValue)](
          "type" -> JString("data"),
          "rows" -> JArray(rows.toList.map(r =>
            JArray(schema.fields.toList.zipWithIndex.map { case (f, i) =>
              ResultFormat.jsonValue(r, i, f.dataType)
            }))))
        frame(JObject(if (withColumns)
          base :+ ("columns" -> (JArray(schema.fieldNames.toList
            .map(JString(_))): JValue))
        else base))
      }
    }
    // subscribe BEFORE the historical phase (no flush can fall in the gap);
    // merge_timestamp fixed at query start, live rows before it are dropped
    val tail = if (live)
      Some(new graft.streaming.LiveMerge.CatalogTail(
        engine.spark, engine.catalog, System.currentTimeMillis() * 1000000L))
    else None
    try {
      engine.execute(query,
        tenant = Option(ex.getRequestHeaders.getFirst("X-Graft-Tenant")))(
        df => streamRows(df, withColumns = false))
      tail.foreach { t =>
        val deadline = durationMs.map(System.currentTimeMillis() + _)
        // SSE comment keepalive: with no new chunks nothing else is ever
        // written, so a dead client would leak this handler thread forever —
        // the ping makes the disconnect surface as a write failure. Pinged
        // only after an IDLE interval (SSE convention is seconds, not per
        // poll tick): data frames already prove liveness when they flow.
        val keepaliveIdleMs = 5000L
        var lastWriteMs = System.currentTimeMillis()
        while (deadline.forall(_ > System.currentTimeMillis())) {
          t.poll().foreach { df =>
            streamRows(df, withColumns = true)
            lastWriteMs = System.currentTimeMillis()
          }
          if (System.currentTimeMillis() - lastWriteMs >= keepaliveIdleMs) {
            os.write(": ping\n\n".getBytes("UTF-8")); os.flush()
            lastWriteMs = System.currentTimeMillis()
          }
          Thread.sleep(250)
        }
      }
      frame(JObject("type" -> JString("end"), "rows_read" -> JLong(n)))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a dead client surfaces as a write failure — nothing to report to
        try frame(JObject("type" -> JString("error"),
          "message" -> JString(Option(e.getMessage).getOrElse(e.toString))))
        catch { case scala.util.control.NonFatal(_) => () }
    } finally os.close()
  }})

  server.createContext("/api/v1/series", handler { ex =>
    val canonical = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    respondCached(ex, byteCacheKey(ex, "series", canonical), "application/json",
        timeFixed = true) {
      val matchers = params(ex).getOrElse("match[]", Nil).flatMap(PromQL.parseMatchers)
      val df = engine.series(matchers)
      val rows = df.collect()
      val schema = df.schema
      import org.json4s._
      val series = rows.toList.map { r =>
        JObject(schema.fieldNames.toList.zipWithIndex.flatMap { case (n, i) =>
          Option(r.get(i)).map { v =>
            (if (n == "metric_name") "__name__" else n) -> (JString(String.valueOf(v)): JValue)
          }
        })
      }
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(JObject(
          "status" -> JString("success"),
          "data" -> JArray(series)))).getBytes("UTF-8")
    }
  })
}

object HttpApi {
  /** Hard cap on request bodies (and their decompressed size) — matches the
    * WsApi 16 MB frame limit; the reference's ingester buffers whole bodies
    * too but axum enforces a default body limit, so this is the parity bound.
    */
  val MaxBodyBytes: Int = 16 << 20

  /** Hard cap on rows any buffered /api/v1/sql response will collect driver-side
    * (json/arrow/csv all materialize before writing — reference sql_http.rs
    * buffers all record batches the same way and has the same exposure). The
    * limit is planned, not post-hoc, so executors stop at the cap too; JSON
    * responses flag the clip via stats.truncated.
    */
  val MaxResultRows: Int = 100000

  /** One byte-cache entry; `timeFixed` entries ignore the TTL. */
  private final case class CachedResponse(storedMs: Long, bytes: Array[Byte],
                                          contentType: String, timeFixed: Boolean)

  /** Thrown by routes to produce a specific HTTP status (e.g. 413). */
  final case class HttpError(code: Int, msg: String) extends RuntimeException(msg)
}
