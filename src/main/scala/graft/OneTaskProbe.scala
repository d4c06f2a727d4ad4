package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.engine.{QueryEngine, ResultFormat}
import graft.ingest.ChunkWriter
import graft.promql.PromQL
import graft.schema.MetricSchema

/** Same-host A/B behind `QueryEngine.OneTaskMaxBytes`: the one-task rule
  * (pruned chunk set read as one partition) against the partitioned scan, as
  * the pruned set grows.
  *
  *   sbt "runMain graft.OneTaskProbe [instances,...] [reps]"
  *
  * For each instance count the probe writes a warehouse of 3 hours × 2
  * chunks per hour (8 metrics × 5 jobs × instances series, 30 s step), then
  * runs cold dashboard reads inside one hour (2 chunks selected) on two
  * interactive engines over that catalog: one with the cut-off at
  * Long.MaxValue, one at 0. Reads rotate through the dashboard workload's
  * four cold shapes (range rate, range avg, instant max, bounded SQL), each
  * with a fresh window, and run on both engines in alternating order with
  * the result cache off. Answers must agree. Per instance count it prints
  * the median selected bytes, the median and IQR latency of each side, and
  * how many pairs the one-task side won.
  */
object OneTaskProbe {
  private val BaseS = 1704067200L
  private val Ns = 1000000000L
  private val Hours = 3
  private val Groups = 2
  private val StepsPerHour = 120
  private val Metrics = IndexedSeq("http_requests_total", "cpu_usage", "mem_bytes",
    "disk_io", "net_rx", "net_tx", "gc_pause", "queue_depth")
  private val Jobs = IndexedSeq("api", "web", "db", "cache", "queue")

  /** CPU calibration: SHA-256 MB/s over a fixed buffer. */
  private def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    (0 until 16).foreach(_ => md.update(buf))
    val t0 = System.nanoTime()
    (0 until 64).foreach(_ => md.update(buf))
    md.digest()
    64.0 / ((System.nanoTime() - t0) / 1e9)
  }

  /** One hour of one instance group: every series of the group, every step. */
  private def hourOfGroup(spark: SparkSession, h: Int, g: Int, instances: Int): DataFrame = {
    val per = instances / Groups
    val id = col("id")
    val s = (id / StepsPerHour).cast("long")
    val inst = ((s / (Metrics.size * Jobs.size)).cast("long") + g * per).cast("int")
    val tsNs = (lit(BaseS + h * 3600L) + (id % StepsPerHour) * 30L) * Ns
    val df = spark.range(Metrics.size.toLong * Jobs.size * per * StepsPerHour).select(
      timestamp_seconds((tsNs / Ns).cast("long")).as("timestamp"),
      tsNs.cast("long").as("timestamp_ns"),
      element_at(array(Metrics.map(lit): _*), (s % Metrics.size).cast("int") + 1).as("metric_name"),
      format_string("i-%03d", inst).as("instance"),
      element_at(array(Jobs.map(lit): _*),
        ((s / Metrics.size).cast("long") % Jobs.size).cast("int") + 1).as("job"),
      format_string("pod-%06d", pmod(hash(inst), lit(1000000))).as("pod"),
      format_string("r-%d", inst % 3).as("region"),
      (lit(0.125) + lit(0.25) * pmod(xxhash64(id, lit(h), lit(g)), lit(4000L))).as("value_f64"),
      lit(null).cast("long").as("value_i64"),
      lit(null).cast("long").as("value_u64"))
    spark.createDataFrame(df.rdd, MetricSchema.build(Seq("instance", "job", "pod", "region")))
  }

  /** Cold read `k % 4` at repetition `r` over hour `h`: query text and formatter. */
  private def coldRead(k: Int, r: Int, h: Int, instances: Int)
      : (String, DataFrame => String) = {
    val rnd = new scala.util.Random(k * 1000003L + r * 31L + h)
    val start = BaseS + 3600L * h + rnd.nextInt(1800)
    val m = Metrics(rnd.nextInt(Metrics.size))
    val in = f"i-${rnd.nextInt(instances)}%03d"
    val j = Jobs(rnd.nextInt(Jobs.size))
    k % 4 match {
      case 0 => (PromQL.transpileRange(s"""sum by (job) (rate($m{instance="$in"}[5m]))""",
          start * Ns, (start + 1800) * Ns, 60L), ResultFormat.toPromMatrix(_))
      case 1 => (PromQL.transpileRange(s"""avg by (instance) ($m{job="$j"})""",
          start * Ns, (start + 1800) * Ns, 60L), ResultFormat.toPromMatrix(_))
      // ordered by value: tied values may come in either order, so compare sorted
      case 2 => (PromQL.transpileInstant(s"""max by (job) ($m{instance="$in"})""",
          Some((start + 1500) * Ns)), df => ResultFormat.toPromVector(df).sorted)
      case _ => (s"SELECT instance, count(*) AS n, sum(value_f64) AS s FROM metrics " +
          s"WHERE timestamp_ns >= ${start * Ns} AND timestamp_ns < ${(start + 1800) * Ns} " +
          s"AND metric_name = '$m' AND job = '$j' GROUP BY instance ORDER BY instance",
          df => ResultFormat.toJson(df, 0L, 100000).replaceAll("\"elapsed_ms\":[0-9]+", ""))
    }
  }

  def main(args: Array[String]): Unit = {
    val instanceCounts = args.headOption.getOrElse("40,130,260,520,1040")
      .split(",").map(_.toInt).toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val dir = java.nio.file.Files.createTempDirectory("graft_onetask_")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"[onetask] cpus=$cpus cal_sha256_mb_per_s=${calibrate()}%.0f")
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(((s.size - 1) * p).round.toInt)
    }
    try instanceCounts.foreach { instances =>
      val cat = new ChunkCatalog(dir.resolve(s"w$instances"))
      val writer = new ChunkWriter(cat)
      for (h <- 0 until Hours; g <- 0 until Groups)
        writer.write(hourOfGroup(spark, h, g, instances))
      val oneTask = QueryEngine.interactive(spark, cat)
      val partitioned = QueryEngine.interactive(spark, cat)
      oneTask.oneTaskMaxBytes = Long.MaxValue
      partitioned.oneTaskMaxBytes = 0L
      Seq(oneTask, partitioned).foreach(_.resultCacheEnabled = false)
      def timed(e: QueryEngine, q: (String, DataFrame => String)): (Double, String) = {
        val t0 = System.nanoTime()
        val out = e.execute(q._1)(q._2)
        ((System.nanoTime() - t0) / 1e6, out)
      }
      for (k <- 0 until 4; h <- 0 until Hours) { // warm-up, not timed
        val q = coldRead(k, -1, h, instances)
        timed(oneTask, q); timed(partitioned, q)
      }
      val one, part = Seq.newBuilder[Double]
      val bytes = Seq.newBuilder[Long]
      var wins = 0
      for (r <- 0 until reps; k <- 0 until 4) {
        val q = coldRead(k, r, (r + k) % Hours, instances)
        val (a, b) =
          if ((r + k) % 2 == 0) { val a = timed(oneTask, q); (a, timed(partitioned, q)) }
          else { val b = timed(partitioned, q); (timed(oneTask, q), b) }
        require(a._2 == b._2, s"answers differ for ${q._1}")
        one += a._1; part += b._1
        if (a._1 < b._1) wins += 1
        bytes += oneTask.serve(q._1).paths.flatMap(cat.state.chunks.get).map(_.sizeBytes).sum
      }
      val (o, p, bs) = (one.result(), part.result(), bytes.result().sorted)
      println(f"[onetask] instances=$instances selected_kb=${bs(bs.size / 2) / 1024.0}%.0f " +
        f"one_task_ms=${pct(o, .5)}%.1f (IQR ${pct(o, .25)}%.1f-${pct(o, .75)}%.1f) " +
        f"partitioned_ms=${pct(p, .5)}%.1f (IQR ${pct(p, .25)}%.1f-${pct(p, .75)}%.1f) " +
        f"one_task_wins=$wins/${o.size} cal_sha256_mb_per_s=${calibrate()}%.0f")
    } finally {
      spark.stop()
      graft.ingest.ChunkStats.deleteDir(dir)
    }
    ()
  }
}
