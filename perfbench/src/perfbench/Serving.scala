package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import graft.catalog.ChunkCatalog
import graft.engine.{QueryEngine, ResultFormat, Telemetry}
import graft.ingest.{ChunkWriter, Converters, PromWire}
import graft.promql.PromQL
import graft.server.HttpApi

/** The serving stack of one warehouse: catalog, interactive engine and HTTP
  * front door, as a deployment runs them.
  */
final class Stack(val spark: SparkSession, val dir: Path) {
  val catalog = new ChunkCatalog(dir)
  val engine: QueryEngine = QueryEngine.interactive(spark, catalog)
  val api: HttpApi = new HttpApi(engine).start()
  val http = new Http(api.boundPort, Stack.TimeoutMs)
  /** Writer for the harness's direct (traced) ingest calls. */
  lazy val writer = new ChunkWriter(catalog)

  /** Up means answering: readiness, then a labels request (which opens the catalog). */
  def awaitUp(): Stack = {
    Seq("/ready", "/api/v1/labels").foreach { path =>
      val (code, body) = http.get(path)
      require(code == 200, s"$path: HTTP $code ${new String(body, "UTF-8").take(200)}")
    }
    this
  }

  def stop(): Unit = { http.close(); api.stop() }
}

object Stack {
  val TimeoutMs = 20000L
}

/** Latencies and counts of one measurement phase of a serving workload. */
final class Phase {
  val warm = new Lat
  val cold = new Lat
  val write = new Lat
  val lag = new Lat
  val readsOk = new AtomicLong
  val writesOk = new AtomicLong
  val ackSamples = new AtomicLong
  val ackSum = new java.util.concurrent.atomic.DoubleAdder
  @volatile var t0Ns = 0L
  @volatile var t1Ns = 0L
  /** Telemetry counters at the start and end of the window. */
  @volatile var c0: Serving.Counters = null
  @volatile var c1: Serving.Counters = null
  def seconds: Double = (t1Ns - t0Ns) / 1e9
  def reads: Array[Double] = warm.values ++ cold.values
  /** (request kind, warm, latency ms, lag ms) of every read, for the record. */
  val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean, Double, Double)]()
}

object Phase {
  /** One phase holding the samples and counts of several windows. */
  def merge(ps: Seq[Phase]): Phase =
    if (ps.size == 1) ps.head
    else {
      val m = new Phase
      ps.foreach { p =>
        p.warm.values.foreach(m.warm.add); p.cold.values.foreach(m.cold.add)
        p.write.values.foreach(m.write.add); p.lag.values.foreach(m.lag.add)
        m.readsOk.addAndGet(p.readsOk.get); m.writesOk.addAndGet(p.writesOk.get)
        m.ackSamples.addAndGet(p.ackSamples.get); m.ackSum.add(p.ackSum.sum)
        p.log.forEach(m.log.add)
      }
      m.t1Ns = ps.map(p => p.t1Ns - p.t0Ns).sum
      m.c0 = Serving.Counters(0, 0, 0, 0)
      m.c1 = ps.map(p => p.c1.minus(p.c0)).reduce(_ plus _)
      m
    }
}

/** Request execution shared by the dashboard workload's reads and its
  * warehouse load.
  * Untraced requests go over HTTP only. In the traced phase every other
  * request instead calls the layers directly, with a span around each call:
  * their sum, subtracted from the HTTP round trip of the requests that went
  * over HTTP, is the server's own overhead.
  */
final class Serving(h: Harness, val stack: Stack) {
  import h.{outcomes, tracer}
  private val spark = stack.spark
  private val sc = spark.sparkContext

  /** Cold requests whose bodies are kept for the answer check: one in `ColdCheckEvery`. */
  val coldChecked = new java.util.concurrent.ConcurrentLinkedQueue[(ReadReq, String)]()
  val ColdCheckEvery = 4

  /** Requests the server's rate limiter refused (HTTP 429). */
  val denied = new AtomicLong
  /** Traced-phase round trips: over HTTP, and through the direct layer calls. */
  val httpReadMs = new Lat
  val directReadMs = new Lat
  val httpWriteMs = new Lat
  val directWriteMs = new Lat
  val chunksSelected = new Lat
  val chunksTotal = new Lat
  val filesRead = new Lat

  def read(req: ReadReq, idx: Long, direct: Boolean, p: Phase, dueNs: Long): Unit = {
    val op = if (req.warm) "read_warm" else "read_cold"
    outcomes.attempt(op)
    val lat = if (req.warm) p.warm else p.cold
    val sendNs = System.nanoTime()
    p.lag.add(Util.ms(sendNs - dueNs))
    try {
      if (direct) {
        tracer.request("read.direct", sc)(_ => readDirect(req))
        val end = System.nanoTime()
        directReadMs.add(Util.ms(end - sendNs))
        lat.add(Util.ms(end - dueNs))
        p.readsOk.incrementAndGet()
      } else {
        val (code, body) = tracer.request("server.http_read", sc)(_ => stack.http.get(req.uri))
        val end = System.nanoTime()
        if (code == 429) denied.incrementAndGet()
        if (code != 200) outcomes.fail(op, s"HTTP $code ${new String(body, "UTF-8").take(200)}")
        else {
          if (tracer.active && !req.warm) httpReadMs.add(Util.ms(end - sendNs))
          lat.add(Util.ms(end - dueNs))
          p.log.add((req.kind, req.warm, Util.ms(end - dueNs), Util.ms(sendNs - dueNs)))
          p.readsOk.incrementAndGet()
          if (!req.warm && idx % ColdCheckEvery == 0)
            coldChecked.add((req, new String(body, "UTF-8")))
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) => outcomes.fail(op, e.toString)
    }
  }

  /** The read path of the HTTP handlers, one public call at a time (cold
    * requests only, so every call does its full work).
    */
  private def readDirect(req: ReadReq): Unit = {
    val engine = stack.engine
    def steps(sql: String, fmt: org.apache.spark.sql.DataFrame => String): Unit = {
      val nowNs = System.currentTimeMillis() * 1000000L
      val (range, preds) = tracer.span("engine.analyze")(engine.analyze(sql, nowNs))
      val paths = tracer.span("engine.prune")(engine.prune(range, preds))
      chunksSelected.add(paths.size.toDouble)
      chunksTotal.add(stack.catalog.state.chunks.size.toDouble)
      filesRead.add(paths.map(p => Serving.parquetFiles(p)).sum.toDouble)
      val df = tracer.span("engine.plan")(engine.sql(sql, nowNs))
      val rows = tracer.span("engine.exec")(df.collect())
      tracer.span("engine.format")(
        fmt(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)))
      ()
    }
    req match {
      case RangeReq(q, s, e, step, _) =>
        steps(tracer.span("promql.transpile")(PromQL.transpileRange(q, s * Gen.Ns, e * Gen.Ns, step)),
          ResultFormat.toPromMatrix)
      case InstantReq(q, t, _) =>
        steps(tracer.span("promql.transpile")(PromQL.transpileInstant(q, Some(t * Gen.Ns))),
          ResultFormat.toPromVector)
      case SqlReq(q, _) => steps(q, df => ResultFormat.toJson(df))
      case LabelsReq(_) => tracer.span("engine.labels")(engine.labels()); ()
    }
  }

  def write(body: WriteBody, direct: Boolean, p: Phase): Unit = {
    outcomes.attempt("write")
    val t0 = System.nanoTime()
    try {
      val ok =
        if (direct) { tracer.request("write.direct", sc)(_ => writeDirect(body)); true }
        else {
          val (code, resp) = tracer.request("server.http_write", sc)(_ =>
            stack.http.post("/api/v1/write", body.snappy, "application/x-protobuf"))
          if (code == 429) denied.incrementAndGet()
          if (code != 204) outcomes.fail("write", s"HTTP $code ${new String(resp, "UTF-8").take(200)}")
          code == 204
        }
      val ms = Util.ms(System.nanoTime() - t0)
      if (ok) {
        if (tracer.active) (if (direct) directWriteMs else httpWriteMs).add(ms)
        p.write.add(ms)
        p.writesOk.incrementAndGet()
        p.ackSamples.addAndGet(body.samples.toLong)
        p.ackSum.add(body.valueSum)
      }
    } catch {
      case scala.util.control.NonFatal(e) => outcomes.fail("write", e.toString)
    }
  }

  /** The remote-write handler's steps, one public call at a time. */
  private def writeDirect(body: WriteBody): Unit = {
    val proto = tracer.span("server.snappy")(org.xerial.snappy.Snappy.uncompress(body.snappy))
    val points = tracer.span("ingest.wire_parse")(PromWire.toRoutedPoints(proto))
    val df = tracer.span("ingest.convert")(Converters.routedToDf(spark, points))
    tracer.span("ingest.chunk_write")(stack.writer.write(df))
    stack.catalog.invalidateCache()
    tracer.span("catalog.state_load")(stack.catalog.state)
    ()
  }

  /** Open loop: `schedule` holds (offset ns, request, index); `clients`
    * threads take requests in order and send each at its due time. A request
    * waiting for a free client is late, and its latency counts from when it
    * was due.
    */
  def openLoop(schedule: IndexedSeq[(Long, ReadReq, Long)], clients: Int, p: Phase,
               traced: Boolean): Seq[Thread] = {
    val next = new AtomicInteger(0)
    val t0 = p.t0Ns
    (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < schedule.size) {
          val (off, req, idx) = schedule(i)
          Util.sleepUntil(t0 + off)
          read(req, idx, traced && !req.warm && idx % 2 == 1, p, t0 + off)
          i = next.getAndIncrement()
        }
      }, s"perfbench-reader-$c")
      t.setDaemon(true)
      t.start()
      t
    }
  }

  /** Fixed-rate schedule over `seconds`: warm panels round-robin at `warmRate`
    * per second, distinct cold requests at `coldRate`, starting at cold index
    * `coldBase`.
    */
  def schedule(seconds: Double, warmRate: Double, coldRate: Double,
               coldBase: Long): IndexedSeq[(Long, ReadReq, Long)] = {
    val panels = h.gen.panels
    val warm = (0 until (seconds * warmRate).toInt).map { k =>
      ((k * 1e9 / warmRate).toLong, panels(k % panels.size), k.toLong)
    }
    val cold = (0 until (seconds * coldRate).toInt).map { k =>
      (((k + 0.5) * 1e9 / coldRate).toLong, h.gen.cold(coldBase + k), coldBase + k)
    }
    (warm ++ cold).sortBy(_._1)
  }

  /** Answer checks: every warm panel and the kept cold sample, against the
    * reference over the current chunk set. Warm panels are re-fetched over
    * HTTP (served from the caches); kept cold bodies are compared as served.
    */
  def checkReads(): Unit = {
    val ref = new Reference(spark, stack.catalog)
    ref.refresh()
    val panels = h.gen.panels
    val colds = coldChecked.asScala.toIndexedSeq
    Warehouse.parallel(panels.size + colds.size, Serving.CheckThreads) { i =>
      if (i < panels.size) {
        val req = panels(i)
        val (code, body) = stack.http.get(req.uri)
        val got = new String(body, "UTF-8")
        outcomes.check("check_warm", code == 200 && Check.sameAnswer(got, ref.expected(req)),
          s"${req.uri}: HTTP $code ${got.take(300)}")
      } else {
        val (req, served) = colds(i - panels.size)
        outcomes.check("check_cold", Check.sameAnswer(served, ref.expected(req)),
          s"${req.uri}: ${served.take(300)}")
      }
    }
  }

  /** Row conservation: engine count(*) and sum(value) over all time equal the
    * seeded rows plus every acknowledged sample.
    */
  def checkConservation(expectRows: Long, expectSum: Double): Unit = {
    stack.catalog.invalidateCache()
    val sql = s"SELECT count(*) AS n, sum(value_f64) AS s FROM metrics " +
      s"WHERE timestamp_ns >= 0 AND timestamp_ns <= ${Long.MaxValue}"
    val r = stack.engine.sql(sql).collect()(0)
    val (n, s) = (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    outcomes.check("check_rows", n == expectRows && s == expectSum,
      s"engine count/sum $n/$s, acknowledged $expectRows/$expectSum")
    val catRows = stack.catalog.state.chunks.values.map(_.rowCount).sum
    outcomes.check("check_catalog_rows", catRows == expectRows,
      s"catalog rows $catRows, acknowledged $expectRows")
  }
}

object Serving {
  val CheckThreads = 3

  def parquetFiles(dir: String): Int = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Telemetry counters, read before and after a measurement window. */
  final case class Counters(l1Hits: Long, l1Misses: Long, l2Hits: Long, byteHits: Long) {
    private def zip(o: Counters, f: (Long, Long) => Long) = Counters(f(l1Hits, o.l1Hits),
      f(l1Misses, o.l1Misses), f(l2Hits, o.l2Hits), f(byteHits, o.byteHits))
    def minus(o: Counters): Counters = zip(o, _ - _)
    def plus(o: Counters): Counters = zip(o, _ + _)
  }
  def counters(): Counters = Counters(Telemetry.cacheHits.sum, Telemetry.cacheMisses.sum,
    Telemetry.l2Hits.sum, Telemetry.httpByteCacheHits.sum)
}
