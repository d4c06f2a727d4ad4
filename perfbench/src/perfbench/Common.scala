package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Thread-safe latency sample store, in milliseconds. */
final class Lat {
  private val buf = ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms; () }
  def values: Array[Double] = synchronized(buf.toArray)
  def n: Int = synchronized(buf.size)
  /** Nearest-rank percentile (p in 0..100); NaN when empty. */
  def pct(p: Double): Double = Lat.pct(values, p)
}

object Lat {
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs.toArray, 50)
  /** Median, or 0 for no samples (a per-layer figure the run did not exercise). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Attempted / failed counts per operation type; every failure keeps its reason. */
final class Outcomes {
  private val attempted = new ConcurrentHashMap[String, AtomicLong]()
  private val failed = new ConcurrentHashMap[String, AtomicLong]()
  private val reasons = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def ctr(m: ConcurrentHashMap[String, AtomicLong], op: String) =
    m.computeIfAbsent(op, _ => new AtomicLong())
  def attempt(op: String): Unit = { ctr(attempted, op).incrementAndGet(); () }
  def fail(op: String, reason: String): Unit = {
    ctr(failed, op).incrementAndGet()
    if (reasons.size < 50) reasons.add(s"$op: $reason")
    System.err.println(s"[perfbench] FAILED $op: ${reason.take(300)}")
  }
  /** A check that is not itself a timed operation still counts as one op. */
  def check(op: String, ok: Boolean, reason: => String): Boolean = {
    attempt(op)
    if (!ok) fail(op, reason)
    ok
  }
  def totalAttempted: Long = attempted.values.asScala.map(_.get).sum
  def totalFailed: Long = failed.values.asScala.map(_.get).sum
  def byOp: Map[String, (Long, Long)] =
    attempted.asScala.map { case (k, v) =>
      k -> (v.get, Option(failed.get(k)).map(_.get).getOrElse(0L))
    }.toMap ++ failed.asScala.collect {
      case (k, v) if !attempted.containsKey(k) => k -> (0L, v.get)
    }
  def failureReasons: Seq[String] = reasons.asScala.toSeq
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def value(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Blocking HTTP/1.1 client shared by the load threads. */
final class Http(port: Int, timeoutMs: Long) {
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
    .build()
  private val base = s"http://127.0.0.1:$port"

  def get(pathAndQuery: String): (Int, Array[Byte]) = send(
    java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + pathAndQuery))
      .timeout(java.time.Duration.ofMillis(timeoutMs)).GET().build())

  def post(path: String, body: Array[Byte], contentType: String): (Int, Array[Byte]) = send(
    java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("Content-Type", contentType)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build())

  private def send(req: java.net.http.HttpRequest): (Int, Array[Byte]) = {
    val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

object Util {
  def urlEncode(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }

  /** Sleep until `deadlineNs` (System.nanoTime scale); returns at once if past. */
  def sleepUntil(deadlineNs: Long): Unit = {
    var left = deadlineNs - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = deadlineNs - System.nanoTime()
    }
  }

  def ms(ns: Long): Double = ns / 1e6
}
