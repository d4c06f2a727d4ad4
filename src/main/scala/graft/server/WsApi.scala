package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import graft.engine.{QueryEngine, ResultFormat}

/** WebSocket streaming result delivery — the reference's streaming frame
  * protocol (`src/api/query/streaming.rs:27-136`: client sends a query message,
  * server answers with a stream of data frames then an end frame) over a
  * minimal RFC 6455 server. JDK-only: the handshake is SHA-1 + Base64
  * (`java.security`/`java.util`), frames are hand-coded — no dependency beyond
  * what ships with the JVM, same zero-deps stance as [[HttpApi]].
  *
  * Protocol (mirrors the SSE route so either transport serves the same shapes):
  *   client → text frame  {"query": "...", "batch": n?, "live": bool?}
  *   server → text frames {"type":"data","rows":[[...],...]} (≤ batch rows each)
  *            then        {"type":"end","rows_read":n}
  *            or          {"type":"error","message":"..."}   then close.
  * With "live":true the end frame is deferred: after the historical phase the
  * server tails freshly flushed chunks (LiveMerge.CatalogTail — the
  * reference's live:true flush-broadcast subscription, src/api/query/
  * streaming.rs:89-125, merge-timestamp cutoff fixed at query start) and
  * forwards them as data frames (self-describing: live frames add "columns")
  * until the client sends close, which elicits end + close-echo.
  *
  * Scale shape: rows are delivered via `toLocalIterator` — partition-at-a-time,
  * bounded driver memory, arbitrarily large results stream (identical delivery
  * path to the SSE route). One handler thread per connection from a fixed pool;
  * this is a protocol demo of the serving surface, not a C10K server —
  * cluster-grade connection fan-out stays out of scope per SURVEY §7.5.
  */
final class WsApi(engine: QueryEngine, port: Int = 0) {

  private val server = new ServerSocket(port)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  @volatile private var running = true

  def boundPort: Int = server.getLocalPort

  def start(): WsApi = {
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          pool.execute(() => try handle(sock) finally sock.close())
        } catch {
          case _: Throwable if !running => () // socket closed during shutdown
          case scala.util.control.NonFatal(_) => () // one bad accept, keep serving
          case e: Throwable => // fatal: log and let the acceptor die loudly
            System.err.println(s"[ws] FATAL error in accept loop: $e"); throw e
        }
      }
    }, "ws-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  def stop(): Unit = { running = false; server.close(); pool.shutdownNow() }

  // ---- RFC 6455 handshake ----------------------------------------------------

  private def handshake(in: InputStream, out: OutputStream): Boolean = {
    // read header lines until the blank line (requests are tiny; no body on GET)
    val sb = new StringBuilder
    var prev = 0
    var b = in.read()
    while (b != -1 && !(prev == '\n' && (b == '\r' || b == '\n'))) {
      sb.append(b.toChar); prev = b; b = in.read()
    }
    if (b == '\r') in.read() // consume the LF of the final CRLF
    val lines = sb.toString.split("\r?\n")
    val key = lines.collectFirst {
      case l if l.toLowerCase.startsWith("sec-websocket-key:") =>
        l.substring(l.indexOf(':') + 1).trim
    }
    key match {
      case Some(k) =>
        val accept = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("SHA-1")
            .digest((k + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
        out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
        out.flush()
        true
      case None =>
        out.write("HTTP/1.1 400 Bad Request\r\n\r\n".getBytes(UTF_8))
        out.flush()
        false
    }
  }

  // ---- RFC 6455 frames -------------------------------------------------------

  private def readExact(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new java.io.EOFException("ws peer closed mid-frame")
      off += r
    }
    buf
  }

  /** One complete data MESSAGE (fragments reassembled). Returns (opcode,
    * payload); opcode 8 = close. Client→server frames must be masked
    * (RFC 6455 §5.1). Control frames (close/ping/pong) interleaved between
    * fragments are handled inline per RFC 6455 §5.4/§5.5 — a ping mid-message
    * is answered with a pong right here and reassembly continues undisturbed;
    * only close aborts the message.
    */
  private def readMessage(in: InputStream, out: OutputStream): (Int, Array[Byte]) = {
    val acc = new java.io.ByteArrayOutputStream()
    var firstOp = -1
    var done = false
    while (!done) {
      val h0 = in.read(); val h1 = in.read()
      if (h0 < 0 || h1 < 0) throw new java.io.EOFException("ws peer closed")
      val fin = (h0 & 0x80) != 0
      val op = h0 & 0x0f
      val masked = (h1 & 0x80) != 0
      var len: Long = h1 & 0x7f
      if (len == 126) {
        val ext = readExact(in, 2)
        len = ((ext(0) & 0xffL) << 8) | (ext(1) & 0xffL)
      } else if (len == 127) {
        val ext = readExact(in, 8)
        len = ext.foldLeft(0L)((a, x) => (a << 8) | (x & 0xffL))
      }
      require(len <= (16L << 20), s"ws frame too large: $len")
      val mask = if (masked) readExact(in, 4) else Array.emptyByteArray
      val payload = readExact(in, len.toInt)
      if (masked) payload.indices.foreach(i =>
        payload(i) = (payload(i) ^ mask(i % 4)).toByte)
      op match {
        case 8 => return (8, payload) // close aborts any in-flight message
        case 9 => writeFrame(out, 10, payload) // ping → pong, keep reassembling
        case 10 => () // unsolicited pong: ignore
        case 0 => // continuation
          if (firstOp == -1) throw new java.io.IOException(
            "ws continuation frame with no message in progress")
          acc.write(payload); done = fin
        case 1 | 2 => // text/binary fragment (or whole message if fin)
          if (firstOp != -1) throw new java.io.IOException(
            "ws new data frame while a fragmented message is in progress")
          firstOp = op; acc.write(payload); done = fin
        case other => throw new java.io.IOException(s"ws unknown opcode $other")
      }
    }
    (firstOp, acc.toByteArray)
  }

  /** Server→client frames are unmasked (RFC 6455 §5.1). */
  private def writeFrame(out: OutputStream, opcode: Int, payload: Array[Byte]): Unit = {
    out.write(0x80 | opcode)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) { out.write(126); out.write(n >> 8); out.write(n & 0xff) }
    else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((n.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.write(payload)
    out.flush()
  }

  private def writeText(out: OutputStream, s: String): Unit =
    writeFrame(out, 1, s.getBytes(UTF_8))

  // ---- session ---------------------------------------------------------------

  private def handle(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    if (!handshake(in, out)) return
    import org.json4s._
    def frame(j: JObject): Unit =
      writeText(out, org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(j)))
    try {
      var open = true
      while (open) {
        val (op, payload) = readMessage(in, out)
        op match {
          case 8 => // close: echo and finish
            writeFrame(out, 8, payload.take(2)); open = false
          case _ =>
            val j = org.json4s.jackson.JsonMethods.parse(new String(payload, UTF_8))
            val query = (j \ "query") match {
              case JString(q) => q
              case _ => throw new IllegalArgumentException(
                "message must be {\"query\": \"...\"}")
            }
            val batchRows = (j \ "batch") match {
              case JInt(n) => n.toInt
              case _ => 256
            }
            val live = (j \ "live") match {
              case JBool(b) => b
              case _ => false
            }
            var n = 0L
            def streamRows(df: org.apache.spark.sql.DataFrame,
                           withColumns: Boolean): Unit =
              n += ResultFormat.streamFrames(df, batchRows, withColumns)(frame)
            // merge_timestamp fixed at query start; subscribe BEFORE the
            // historical phase so no flush falls between snapshot and tail
            // (reference src/api/query/streaming.rs:34-125 order of phases)
            val tail = if (live)
              Some(new graft.streaming.LiveMerge.CatalogTail(
                engine.spark, engine.catalog, System.currentTimeMillis() * 1000000L))
            else None
            try {
              engine.execute(query)(df => streamRows(df, withColumns = false))
              tail.foreach { t =>
                var tailing = true
                while (tailing) {
                  t.poll().foreach(streamRows(_, withColumns = true))
                  // wait for new flushes, watching for client frames (a close
                  // ends the live phase — the reference's select-loop arm)
                  var waitedMs = 0
                  while (tailing && in.available() == 0 && waitedMs < 250) {
                    Thread.sleep(10); waitedMs += 10
                  }
                  if (in.available() > 0) {
                    val (op2, p2) = readMessage(in, out)
                    if (op2 == 8) {
                      frame(JObject("type" -> JString("end"), "rows_read" -> JLong(n)))
                      writeFrame(out, 8, p2.take(2))
                      tailing = false; open = false
                    } // non-close client messages during live are ignored
                  }
                }
              }
              if (open)
                frame(JObject("type" -> JString("end"), "rows_read" -> JLong(n)))
            } catch {
              case scala.util.control.NonFatal(e) =>
                frame(JObject("type" -> JString("error"),
                  "message" -> JString(Option(e.getMessage).getOrElse(e.toString))))
            }
        }
      }
    } catch {
      case _: java.io.EOFException => () // peer went away: normal teardown
    } finally {
      try out.flush() catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
