package perfbench

/** SplitMix64: a tiny, fully specified PRNG, so every input is a pure
  * function of (seed, stream, index) and the same seed gives byte-identical
  * inputs on any JVM.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.size))
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Independent stream `stream` of seed `seed`. */
  def of(seed: Long, stream: Long, index: Long = 0L): Rng =
    new Rng(mix(mix(seed * 0x632BE59BD9B4E019L + stream) + index))
}

/** A series: metric name plus its label set (job, instance, region, pod). */
final case class Series(metric: String, labels: Seq[(String, String)])

/** A read request of the dashboard workload. `warm` requests belong to
  * the fixed panel set; cold ones are all distinct.
  */
sealed trait ReadReq {
  def warm: Boolean
  def uri: String
  def kind: String
}
final case class RangeReq(q: String, startS: Long, endS: Long, stepS: Long, warm: Boolean)
    extends ReadReq {
  def uri: String = s"/api/v1/query_range?query=${Util.urlEncode(q)}&start=$startS&end=$endS&step=$stepS"
  def kind = "query_range"
}
final case class InstantReq(q: String, timeS: Long, warm: Boolean) extends ReadReq {
  def uri: String = s"/api/v1/query?query=${Util.urlEncode(q)}&time=$timeS"
  def kind = "query"
}
final case class SqlReq(sql: String, warm: Boolean) extends ReadReq {
  def uri: String = s"/api/v1/sql?query=${Util.urlEncode(sql)}"
  def kind = "sql"
}
final case class LabelsReq(warm: Boolean) extends ReadReq {
  def uri: String = "/api/v1/labels"
  def kind = "labels"
}

/** One remote-write request: snappy-compressed protobuf body plus the
  * figures the row-conservation check needs (sample count and value sum).
  */
final case class WriteBody(snappy: Array[Byte], samples: Int, valueSum: Double)

/** The curation corpus plus its planted duplicates. */
final case class Corpus(docs: IndexedSeq[(Long, String, String, String)],
                        exactCopies: Int,
                        exactPairs: Set[(Long, Long)],
                        nearPairs: Set[(Long, Long)])

/** Every input of every workload, derived from the seed alone. */
final class Gen(val seed: Long) {
  import Gen._

  // ---- warehouse -------------------------------------------------------------

  /** Warehouse series: metrics × jobs × instances, with seeded pod names. */
  val series: IndexedSeq[Series] = {
    val r = Rng.of(seed, 1)
    for {
      m <- Metrics; j <- Jobs; i <- Instances.indices
    } yield Series(m, Seq("job" -> j, "instance" -> Instances(i),
      "region" -> Regions(i % Regions.size), "pod" -> f"pod-${r.nextInt(1000000)}%06d"))
  }

  /** The warehouse as remote-write requests. History: one request per
    * (virtual hour, instance group), so every hour holds HistoryGroups chunks
    * with narrow instance zone maps. Frontier: FrontierWrites small requests
    * over all series in the last hour, the many-small-chunks shape a live
    * ingest leaves behind for compaction.
    */
  lazy val warehouseBodies: IndexedSeq[WriteBody] = {
    val perHour = 3600 / StepS
    def body(mine: IndexedSeq[(Series, Int)], ts: Range): WriteBody =
      encode(mine.map { case (s, si) =>
        (("__name__" -> s.metric) +: s.labels,
          ts.map(t => ((BaseS + t.toLong * StepS) * 1000L,
            value(Rng.mix(seed ^ Rng.mix(si.toLong * 1000003L + t))))))
      })
    val indexed = series.zipWithIndex
    val history = for (hr <- 0 until HistoryHours; g <- 0 until HistoryGroups) yield {
      val mine = indexed.filter { case (s, _) =>
        Instances.indexOf(s.labels(1)._2) * HistoryGroups / Instances.size == g
      }
      body(mine, hr * perHour until (hr + 1) * perHour)
    }
    val slice = perHour / FrontierWrites
    val frontier = (0 until FrontierWrites).map { f =>
      val t0 = HistoryHours * perHour + f * slice
      body(indexed, t0 until t0 + slice)
    }
    history ++ frontier
  }

  // ---- read requests ---------------------------------------------------------

  /** The warm panel set: 24 fixed requests. Shapes, window lengths and
    * evaluation times are the same for every seed (so the work a run does
    * does not depend on the seed); metrics, matchers and window positions
    * are seeded.
    */
  val panels: IndexedSeq[ReadReq] = {
    val r = Rng.of(seed, 2)
    // an hour starting a quarter past a history hour: always two hour chunks
    def window(): (Long, Long) = {
      val start = BaseS + 3600L * r.nextInt(HistoryHours - 1) + 900L
      (start, start + 3600L)
    }
    val range = (0 until 10).map { i =>
      val (a, b) = window()
      val m = r.pick(Metrics)
      val q = i % 3 match {
        case 0 => s"""sum by (job) (rate($m{region="${r.pick(Regions)}"}[5m]))"""
        case 1 => s"""avg by (instance) ($m{job="${r.pick(Jobs)}"})"""
        case _ => s"""max_over_time($m{instance="${r.pick(Instances)}"}[5m])"""
      }
      RangeReq(q, a, b, 60L, warm = true): ReadReq
    }
    val instant = (0 until 6).map { i =>
      val m = r.pick(Metrics)
      val q = if (i % 2 == 0) s"sum by (job) ($m)" else s"""max by (region) ($m{job="${r.pick(Jobs)}"})"""
      InstantReq(q, EndS - 600L * i, warm = true): ReadReq
    }
    val sql = (0 until 7).map { _ =>
      val (a, b) = window()
      SqlReq(s"SELECT job, count(*) AS n, round(avg(value_f64), 4) AS avg_v, max(value_f64) AS max_v " +
        s"FROM metrics WHERE timestamp_ns >= ${a * Ns} AND timestamp_ns < ${b * Ns} " +
        s"AND metric_name = '${r.pick(Metrics)}' GROUP BY job ORDER BY job", warm = true): ReadReq
    }
    range ++ instant ++ sql :+ LabelsReq(warm = true)
  }

  /** Cold request `i`: a fresh window position and matcher, distinct from
    * every other. The shape rotates with `i` and windows are ColdWindowS
    * long inside one hour, so every seed asks for the same mix of work.
    */
  def cold(i: Long): ReadReq = {
    val r = Rng.of(seed, 3, i)
    // inside one history hour, so every cold window reads the same number of chunks
    val start = BaseS + 3600L * r.nextInt(HistoryHours) + r.nextInt(3600 - ColdWindowS.toInt)
    val m = r.pick(Metrics)
    java.lang.Math.floorMod(i, 4L) match {
      case 0 =>
        RangeReq(s"""sum by (job) (rate($m{instance="${r.pick(Instances)}"}[5m]))""",
          start, start + ColdWindowS, 60L, warm = false)
      case 1 =>
        RangeReq(s"""avg by (instance) ($m{job="${r.pick(Jobs)}"})""",
          start, start + ColdWindowS, 60L, warm = false)
      case 2 =>
        InstantReq(s"""max by (job) ($m{instance="${r.pick(Instances)}"})""",
          EndS - r.nextInt(3600), warm = false)
      case _ =>
        SqlReq(s"SELECT instance, count(*) AS n, sum(value_f64) AS s FROM metrics " +
          s"WHERE timestamp_ns >= ${start * Ns} AND timestamp_ns < ${(start + ColdWindowS) * Ns} " +
          s"AND metric_name = '$m' AND job = '${r.pick(Jobs)}' GROUP BY instance ORDER BY instance",
          warm = false)
    }
  }

  // ---- remote write ------------------------------------------------------------

  /** Snappy-compressed protobuf WriteRequest of the given series and samples. */
  private def encode(ts: Seq[(Seq[(String, String)], Seq[(Long, Double)])]): WriteBody = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    var sum = 0.0
    var n = 0
    ts.foreach { case (labels, samples) =>
      val t = new java.io.ByteArrayOutputStream(256)
      labels.sortBy(_._1).foreach { case (k, v) => label(t, k, v) }
      samples.foreach { case (tsMs, v) =>
        val smp = new java.io.ByteArrayOutputStream(16)
        varint(smp, (1 << 3) | 1); fixed64(smp, java.lang.Double.doubleToLongBits(v))
        varint(smp, (2 << 3) | 0); varint(smp, tsMs)
        field(t, 2, smp.toByteArray)
        sum += v
        n += 1
      }
      field(out, 1, t.toByteArray)
    }
    WriteBody(org.xerial.snappy.Snappy.compress(out.toByteArray), n, sum)
  }

  // ---- curation corpus -----------------------------------------------------------

  /** `n` documents (doc_id, text, lang, source). Every 50th document is an
    * exact copy of an earlier one (case and whitespace varied); every 50th,
    * offset by 25, is a near copy with one word replaced (Jaccard of word
    * 3-shingles >= 0.8).
    */
  def corpus(n: Int): Corpus = {
    val r = Rng.of(seed, 5)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000)
        seen += (0 until 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    val langs = IndexedSeq("en", "en", "en", "de", "fr")
    val sources = IndexedSeq("web", "web", "books", "wiki", "code")
    def words(lang: String): IndexedSeq[String] = {
      val off = lang match { case "en" => 0; case "de" => 1200; case _ => 2400 }
      (0 until 60 + r.nextInt(60)).map(_ => vocab(off + (1600 * math.pow(r.nextDouble(), 1.5)).toInt))
    }
    val docs = new Array[(Long, String, String, String)](n)
    val exact = Set.newBuilder[(Long, Long)]
    val near = Set.newBuilder[(Long, Long)]
    var copies = 0
    var id = 0
    while (id < n) {
      val lang = r.pick(langs)
      val src = r.pick(sources)
      if (id >= 100 && id % 50 == 0) {
        val orig = nextOrig(r, id, docs)
        val text = docs(orig)._2.split(" ").map(w => if (r.nextInt(4) == 0) w.toUpperCase else w)
          .mkString("  ") + " "
        docs(id) = (id.toLong, text, docs(orig)._3, src)
        exact += ((orig.toLong, id.toLong))
        copies += 1
      } else if (id >= 100 && id % 50 == 25) {
        val orig = nextOrig(r, id, docs)
        val ws = docs(orig)._2.split(" ")
        val pos = 5 + r.nextInt(ws.length - 10)
        ws(pos) = s"x${id}q" // never a vocabulary word, so never an exact copy
        docs(id) = (id.toLong, ws.mkString(" "), docs(orig)._3, src)
        near += ((orig.toLong, id.toLong))
      } else docs(id) = (id.toLong, words(lang).mkString(" "), lang, src)
      id += 1
    }
    Corpus(docs.toIndexedSeq, copies, exact.result(), near.result())
  }

  /** A plain (non-planted) earlier document to copy. */
  private def nextOrig(r: Rng, id: Int, docs: Array[(Long, String, String, String)]): Int = {
    var o = r.nextInt(id)
    while (o % 25 == 0) o = r.nextInt(id)
    o
  }
}

object Gen {
  val BaseS = 1704067200L // 2024-01-01T00:00:00Z
  val Ns = 1000000000L
  val HistoryHours = 6
  val HistoryGroups = 2
  val FrontierWrites = 4
  val WarehouseHours: Int = HistoryHours + 1
  val StepS = 30
  val EndS: Long = BaseS + WarehouseHours * 3600L
  val ColdWindowS = 1800L

  val Metrics = IndexedSeq("http_requests_total", "cpu_usage", "mem_bytes", "disk_io",
    "net_rx_bytes", "latency_ms", "queue_depth", "errors_total")
  val Jobs = IndexedSeq("api", "web", "db", "cache", "queue")
  val Instances: IndexedSeq[String] = (0 until 10).map(i => f"i-$i%02d")
  val Regions = IndexedSeq("eu-west", "us-east", "ap-south")

  /** Sample values are odd multiples of 1/8 below 1000: exactly representable,
    * never integral (so remote write routes them all to value_f64), and any
    * sum of them is exact in a double — sums and averages do not depend on
    * summation order.
    */
  def value(bits: Long): Double = 0.125 + 0.25 * java.lang.Long.remainderUnsigned(bits, 4000L)

  private def varint(b: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) { b.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    b.write(v.toInt)
  }
  private def fixed64(b: java.io.ByteArrayOutputStream, v: Long): Unit =
    (0 until 8).foreach(i => b.write(((v >>> (8 * i)) & 0xFF).toInt))
  private def field(b: java.io.ByteArrayOutputStream, num: Int, bytes: Array[Byte]): Unit = {
    varint(b, (num << 3) | 2); varint(b, bytes.length.toLong); b.write(bytes)
  }
  private def label(b: java.io.ByteArrayOutputStream, k: String, v: String): Unit = {
    val l = new java.io.ByteArrayOutputStream(48)
    field(l, 1, k.getBytes("UTF-8")); field(l, 2, v.getBytes("UTF-8"))
    field(b, 1, l.toByteArray)
  }
}
