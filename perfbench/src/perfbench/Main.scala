package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: Path, records: Path, sourceSha: String, gitCommit: String)

/** Everything one run shares: options, Spark, inputs, outcome counts, tracing
  * and the metrics it reports.
  */
final class Harness(val opts: Opts, val spark: SparkSession, val sparkStartS: Double) {
  val gen = new Gen(opts.seed)
  val outcomes = new Outcomes
  val tracer = new Tracer
  val meter = new SparkMeter
  spark.sparkContext.addSparkListener(meter)

  /** End-to-end metrics (untraced run) and per-layer metrics (traced run). */
  val e2e = LinkedHashMap.empty[String, (Double, String)]
  val layer = LinkedHashMap.empty[String, (Double, String)]
  /** Record-only facts: input sizes, sample counts, per-class figures. */
  val info = LinkedHashMap.empty[String, Any]

  private val gcPauses = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val gi = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          // concurrent-cycle notifications are not pauses
          if (!gi.getGcName.contains("Concurrent")) gcPauses.add(gi.getGcInfo.getDuration)
        }
      }, null, null)
    case _ => ()
  }

  def workDir(name: String): Path = {
    val p = opts.workDir.resolve(name)
    Util.deleteTree(p)
    Files.createDirectories(p)
    p
  }

  /** Set-up in two parts: `load` stores the workload's data once, then
    * `open` brings the system up over it `SetupReps` times (all but the last
    * instance are closed again). `setup_s` is JVM and Spark start-up plus the
    * load plus the median open time.
    */
  def setup[T](load: => Unit)(open: Int => T)(close: T => Unit): T = {
    val l0 = System.nanoTime()
    load
    val loadS = (System.nanoTime() - l0) / 1e9
    val times = ArrayBuffer.empty[Double]
    var kept: Option[T] = None
    (0 until Harness.SetupReps).foreach { i =>
      val t0 = System.nanoTime()
      val x = open(i)
      times += (System.nanoTime() - t0) / 1e9
      if (i < Harness.SetupReps - 1) close(x) else kept = Some(x)
    }
    e2e("setup_s") = (sparkStartS + loadS + Lat.median(times.toSeq), "s")
    info("setup") = Map("spark_start_s" -> sparkStartS, "load_s" -> loadS, "open_s" -> times.toSeq)
    kept.get
  }

  /** Reset GC pauses at the start of a measurement window. */
  def startWindow(): Unit = gcPauses.clear()

  /** Heap still in use after a full collection: what the workload retains
    * (caches, catalog state, buffers) rather than where a GC happened to run.
    */
  def liveHeapMb(): Double = {
    // the second collection reclaims what Spark's ContextCleaner released
    // in reaction to the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcPauseMaxMs: Double =
    gcPauses.asScala.map(_.toDouble).foldLeft(0.0)(math.max)

  /** Wait until the Spark listener has seen every event posted so far. */
  def drainListener(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Untraced runs measure one window of `--seconds`. Traced runs alternate
    * untraced and traced quarters (U T U T), so drift over the run (JIT,
    * caches) falls on both sides of the tracing-overhead comparison.
    * `body(traced, seconds)` runs one window; returns (untraced, traced).
    */
  def windows[T](body: (Boolean, Double) => T): (Seq[T], Seq[T]) =
    if (!opts.trace) (Seq(body(false, opts.seconds.toDouble)), Nil)
    else {
      val quarters = (0 until 4).map { i =>
        tracer.active = i % 2 == 1
        try body(tracer.active, opts.seconds / 4.0)
        finally tracer.active = false
      }
      (Seq(quarters(0), quarters(2)), Seq(quarters(1), quarters(3)))
    }

  /** ok_pct and the failure accounting every workload reports. */
  def finishOutcomes(): Unit = {
    val a = outcomes.totalAttempted
    val f = outcomes.totalFailed
    e2e("ok_pct") = (if (a == 0) 0.0 else 100.0 * (a - f) / a, "%")
    layer("error_pct") = (if (a == 0) 100.0 else 100.0 * f / a, "%")
  }
}

object Harness {
  val SetupReps = 3
}

object Main {
  val Workloads = Seq("dashboard", "curation")

  /** Per-layer metrics every traced run prints, in order; a metric the
    * workload does not exercise reads 0. Kept in step with BENCHMARK.json.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "read.warm_p50_ms" -> "ms", "read.warm_p99_ms" -> "ms", "read.cold_p50_ms" -> "ms",
    "read.cold_p90_ms" -> "ms", "write.p50_ms" -> "ms", "write.p90_ms" -> "ms",
    "write.samples_per_s" -> "1/s", "storage.bytes_per_sample" -> "B",
    "curate.docs_per_s" -> "1/s", "error_pct" -> "%",
    "server.byte_cache_hit_pct" -> "%", "server.overhead_ms" -> "ms",
    "server.write_overhead_ms" -> "ms",
    "server.snappy_ms" -> "ms", "server.denied" -> "count",
    "promql.transpile_ms" -> "ms",
    "engine.analyze_ms" -> "ms", "engine.prune_ms" -> "ms", "engine.plan_ms" -> "ms",
    "engine.exec_ms" -> "ms", "engine.format_ms" -> "ms", "engine.chunks_selected" -> "count",
    "engine.chunks_total" -> "count", "engine.prune_kept_pct" -> "%",
    "engine.l1_hit_pct" -> "%", "engine.l2_hits" -> "count", "engine.warm_recomputes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "storage.bytes_read" -> "B", "storage.files_read" -> "count",
    "storage.chunks_per_write" -> "count", "storage.write_amp" -> "ratio",
    "ingest.wire_parse_ms" -> "ms", "ingest.convert_ms" -> "ms",
    "ingest.chunk_write_ms" -> "ms", "ingest.commit_tail_ms" -> "ms",
    "catalog.state_load_ms" -> "ms", "catalog.version_bumps" -> "count",
    "catalog.chunks_end" -> "count",
    "compact.run_ms" -> "ms", "compact.chunks_merged" -> "count",
    "compact.bytes_rewritten" -> "B", "compact.l0_backlog_max" -> "count") ++
    Curation.Ops.flatMap(op => Seq(
      s"curate.${op}_s" -> "s", s"curate.$op.jobs" -> "count",
      s"curate.$op.executor_cpu_ms" -> "ms", s"curate.$op.driver_gap_ms" -> "ms",
      s"curate.$op.shuffle_write_bytes" -> "B")) ++ Seq(
    "gen.lag_p99_ms" -> "ms", "jvm.gc_pause_max_ms" -> "ms",
    "trace.overhead_p50_pct" -> "%", "trace.overhead_work_pct" -> "%")

  val E2eMetrics = Seq("setup_s", "latency_ms", "work_per_s", "heap_live_mb", "ok_pct")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Opts(w, req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work-dir")).toAbsolutePath, Paths.get(req("records")).toAbsolutePath,
      m.getOrElse("source-sha256", ""), m.getOrElse("git-commit", "unknown"))
  }

  /** CPU calibration independent of the library: SHA-256 over a fixed buffer. */
  private def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    (0 until 16).foreach(_ => md.update(buf)) // warm the JIT
    val t0 = System.nanoTime()
    (0 until 64).foreach(_ => md.update(buf))
    md.digest()
    64.0 / ((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val startedAt = java.time.Instant.now().toString
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(opts.workDir)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", opts.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.workDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sparkStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val h = new Harness(opts, spark, sparkStartS)
    val cal = calibrate()

    val ok =
      try {
        opts.workload match {
          case "dashboard" => Dashboard.run(h)
          case "curation" => Curation.run(h)
        }
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          h.outcomes.fail("run", e.toString)
          false
      }
    h.finishOutcomes()
    val attempted = math.max(1L, h.outcomes.totalAttempted)
    val failed = h.outcomes.totalFailed
    val correct = ok && failed == 0

    val metrics: Seq[(String, Any)] =
      if (!opts.trace) E2eMetrics.map { k =>
        val (v, u) = h.e2e.getOrElse(k, (Double.NaN, ""))
        k -> Map("value" -> v, "unit" -> u)
      }
      else LayerMetrics.map { case (k, u) =>
        k -> Map("value" -> h.layer.get(k).map(_._1).getOrElse(0.0), "unit" -> u)
      }
    val result = Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))

    val stamp = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}-" +
      startedAt.replaceAll("[^0-9TZ]", "")
    Files.createDirectories(opts.records)
    if (opts.trace) h.tracer.writeJsonl(opts.records.resolve(s"$stamp.spans.jsonl"))
    val record = Json.obj(Seq(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "started_at" -> startedAt,
      "provenance" -> Map(
        "nproc" -> cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "git_commit" -> opts.gitCommit,
        "source_sha256" -> opts.sourceSha, "storage" -> opts.workDir.toString,
        "flush_policy" -> ("one ChunkWriter flush per remote-write request; compaction L0 " +
          s"threshold ${Warehouse.L0Threshold}"),
        "cal_sha256_mb_per_s" -> cal),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "outcomes" -> h.outcomes.byOp.map { case (k, (a, f)) => k -> Map("attempted" -> a, "failed" -> f) },
      "failures" -> h.outcomes.failureReasons,
      "end_to_end" -> h.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> h.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> h.info))
    Files.write(opts.records.resolve(s"$stamp.json"), record.getBytes("UTF-8"))
    System.err.println(s"[perfbench] record ${opts.records.resolve(s"$stamp.json")}")
    println(result)
    System.out.flush()
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}
