package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable.ArrayBuffer

/** Mixed-load soak drive — measures the ONE BASELINE.md row the reference
  * planned but never benchmarked (`docs/benchmark-improvement-plan.md:396-401`):
  *
  *   during sustained concurrent ingest + compaction + queries,
  *     write-throughput drop   < 20 % vs unloaded baseline
  *     warm-query p99          < 200 ms
  *     cold-query p99          < 1,000 ms
  *
  * Phase 1 measures each axis ALONE (baseline); phase 2 runs them
  * CONCURRENTLY for a sustained window: an ingest loop (1 M-sample batches
  * through the production chunk path), a maintenance loop (compaction +
  * retention + GC + the age-triggered downsample sweep, the reference's 60 s
  * tick compressed to 5 s so compactions actually overlap the window), a warm
  * query hammer (fixed dashboard window → plan/result cache path) and a cold
  * query hammer (fresh window every call → parse, prune, parquet scan).
  * Queries run on the interactive engine profile (codegen off — the
  * dashboard-serving deployment shape), sharing the catalog with the writers.
  *
  * A third section records sustained STRUCTURED-STREAMING throughput: a rate
  * source through StreamingDedup.exactDedupStream with a 10 s watermark,
  * reporting processed rows/s and the state-row trend (flat state == the
  * watermark is really evicting).
  *
  * Prints the JSON record as stdout's last line and writes it to `SOAK_OUT`
  * (default `SOAK_<yyyyMMdd-HHmmss>.json` in the cwd); an existing file of
  * that name fails the run instead of being overwritten.
  * All load is wall-clock bounded: SOAK_BASELINE_SEC / SOAK_SOAK_SEC /
  * SOAK_STREAM_SEC env knobs (defaults 25 / 150 / 45).
  */
object Soak {

  private def env(name: String, default: Long): Long =
    sys.env.get(name).map(_.toLong).getOrElse(default)

  private def p99(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(0.99 * s.size).toInt - 1))
    }

  private def round1(d: Double): Double = math.round(d * 10.0) / 10.0

  def main(args: Array[String]): Unit = {
    val baselineSec = env("SOAK_BASELINE_SEC", 25L)
    val soakSec = env("SOAK_SOAK_SEC", 150L)
    val streamSec = env("SOAK_STREAM_SEC", 45L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val out = java.nio.file.Paths.get(sys.env.getOrElse("SOAK_OUT",
      "SOAK_" + java.time.LocalDateTime.now().format(
        java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")) + ".json"))
    require(!java.nio.file.Files.exists(out), s"soak record $out already exists")

    val shuffleDir = graft.util.ShmDirs.shuffleDir("graft_soak_shuffle")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", shuffleDir)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR") // queries must not starve behind ingest jobs
      // recentProgress is a ring buffer (default 100): back-to-back rate-source
      // micro-batches overflow it and the summed input rows undercount
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import scala.jdk.CollectionConverters._
    def peakHeapMb: Long = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum >> 20
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    def gcCount: Long = gcBeans.map(_.getCollectionCount).sum
    // Per-PAUSE tracking (r12, r11 VERDICT #2): the cumulative collection
    // time can't say whether the warm tail is many small pauses (CPU
    // contention) or a few long ones (STW pauses directly owning the p99) —
    // GarbageCollectionNotificationInfo gives each pause's duration.
    val gcPauses = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    gcBeans.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            gcPauses.add(info.getGcInfo.getDuration); ()
          }
        }, null, null)
      case _ => ()
    }

    val warehouse = graft.util.ShmDirs.tempDir("graft_soak_wh_")
    val catalog = new graft.catalog.ChunkCatalog(warehouse, cacheTtlMs = 1000L)
    val writer = new graft.ingest.ChunkWriter(catalog)

    // ---- data: 100 series; each ingest batch = 10 virtual minutes ≈ 1 M
    // samples — the reference's OWN flush bound (5 min OR 1 M rows OR 100 MB,
    // src/ingester/mod.rs:75-88), so L0 chunks and their hour-group merges are
    // flush-sized like the reference's, not ballooned by compressed virtual
    // time. Virtual time starts 2024-01-01; batches advance it.
    val baseNs = 1704067200L * 1000000000L
    val batchVirtualSec = 600
    val hz = 17
    val batchRows = 100L * hz * batchVirtualSec // series × Hz × sec = 1.02 M
    def mkBatch(tick: Long): DataFrame =
      graft.fixtures.DataGenerator.generate(spark,
        metrics = 10, hosts = 5, regions = 2, samplesPerSecond = hz,
        durationSeconds = batchVirtualSec,
        startNs = baseNs + tick * batchVirtualSec * 1000000000L,
        // 3/4 of the cores: the reference runs ingesters and query nodes as
        // SEPARATE processes — on one box the ingest job must not be allowed
        // to occupy every task slot between query arrivals
        partitions = math.max(4, cpus.toInt * 3 / 4))

    // seed history: 2 virtual hours (12 ticks) for the query hammers
    val historyTicks = 12L
    System.err.println(s"[soak] seeding ${historyTicks} history batches...")
    (0L until historyTicks).foreach { t =>
      val b = mkBatch(t).persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      b.count(); writer.write(b); b.unpersist(blocking = false)
    }
    val ingestTick = new AtomicLong(historyTicks)

    def timedWrite(tick: Long): Double = {
      val b = mkBatch(tick).persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      b.count() // materialize outside the timed region (same rule as Bench)
      val t0 = System.nanoTime()
      writer.write(b)
      val sec = (System.nanoTime() - t0) / 1e9
      b.unpersist(blocking = false)
      sec
    }

    // interactive serving profile: shared SparkContext, codegen off — the
    // pruned-dashboard shape re-plans in tens of ms instead of paying janino
    val engine = graft.engine.QueryEngine.interactive(spark, catalog)

    val warmSql =
      s"SELECT metric_name, host, round(avg(value_f64), 4) AS avg_v, count(*) AS cnt " +
        s"FROM metrics WHERE timestamp_ns >= $baseNs AND timestamp_ns < ${baseNs + 1800L * 1000000000L} " +
        "GROUP BY metric_name, host ORDER BY metric_name, host"
    // a cold call = the reference query pack's dashboard shape: a fresh
    // 10-minute window (~1 M rows pruned out of the full span), never cached
    def coldSql(i: Long): String = {
      val start = baseNs + (i % (historyTicks - 1)) * 600L * 1000000000L
      s"SELECT metric_name, round(max(value_f64), 4) AS max_v, count(*) AS cnt " +
        s"FROM metrics WHERE timestamp_ns >= $start AND timestamp_ns < ${start + 600L * 1000000000L} " +
        s"GROUP BY metric_name ORDER BY metric_name -- w$i"
    }

    // rowsServe = the warm repeat path (engine.sqlRows: localized L1 hits
    // serve the stored row array, zero plan execution — r11); cold queries
    // keep the plain collect() shape
    def hammer(n: Int, sql: Long => String, rowsServe: Boolean = false): Seq[Double] = {
      val out = ArrayBuffer[Double]()
      var i = 0L
      while (i < n) {
        val t0 = System.nanoTime()
        if (rowsServe) engine.sqlRows(sql(i)) else engine.sql(sql(i)).collect()
        out += (System.nanoTime() - t0) / 1e6
        i += 1
      }
      out.toSeq
    }

    // ---- phase 1: baselines, each axis alone --------------------------------
    // JIT/codegen warm-up first: without it the baseline under-reads and the
    // soak-phase "drop" goes negative (measured −11 % on a cold JVM)
    System.err.println("[soak] ingest warm-up...")
    (0 until 6).foreach(_ => timedWrite(ingestTick.getAndIncrement()))
    System.err.println("[soak] baseline ingest...")
    val baseIngest = ArrayBuffer[Double]()
    val baseT0 = System.nanoTime()
    while ((System.nanoTime() - baseT0) / 1e9 < baselineSec)
      baseIngest += timedWrite(ingestTick.getAndIncrement())
    val baselineRate = batchRows * baseIngest.size / baseIngest.sum

    System.err.println("[soak] baseline queries...")
    engine.sql(warmSql).collect() // prime
    val baseWarm = hammer(300, _ => warmSql, rowsServe = true).drop(5)
    val baseCold = hammer(80, coldSql).drop(3)

    // ---- phase 2: everything at once ----------------------------------------
    // steady-state entry: one untimed sweep clears the cold-start backlog
    // (seed + baseline chunks) so the IN-WINDOW sweeps measure incremental
    // maintenance — the shape a long-running deployment is actually in —
    // instead of one giant first merge that outlasts the window
    // TWO lease-coordinated maintenance nodes (reference CAS leases,
    // s3.rs:1602-2010): node m1 runs the full sweep (compaction + retention +
    // GC + downsampling); node m2 is a second compaction-only driver with its
    // OWN catalog instance over the same warehouse — the multi-driver shape.
    // Leases guarantee no group is merged twice; row conservation is asserted
    // after the window (double-compaction would inflate the catalog row sum).
    val leaseDir = graft.util.ShmDirs.tempDir("graft_soak_lease_")
    val compactor1 = new graft.compact.Compactor(spark, catalog, l0FileThreshold = 6,
      leases = Some(new graft.catalog.LeaseStore(leaseDir)), nodeId = "m1",
      leaseRenewIntervalMs = 10000L)
    val catalog2 = new graft.catalog.ChunkCatalog(catalog.root, cacheTtlMs = 250L)
    val compactor2 = new graft.compact.Compactor(spark, catalog2, l0FileThreshold = 6,
      leases = Some(new graft.catalog.LeaseStore(leaseDir)), nodeId = "m2",
      leaseRenewIntervalMs = 10000L)
    val maint = new graft.compact.Maintenance(spark, catalog,
      compactor = compactor1,
      downsample = Some(graft.compact.Maintenance.Downsample(
        afterNs = 3600L * 1000000000L, resolutionSeconds = 60L,
        labelCols = Seq("host", "region"))))
    System.err.println("[soak] pre-soak maintenance sweep (cold-start backlog)...")
    maint.runOnce(nowMs =
      (baseNs + ingestTick.get() * batchVirtualSec * 1000000000L) / 1000000L)
    System.err.println(s"[soak] mixed load for ${soakSec}s...")
    // GC decomposition of the WINDOW (r12): cumulative counters snapshot at
    // entry/exit, per-pause durations drained fresh — the record must say
    // what fraction of the soak wall was stop-the-world and how long the
    // worst single pause froze the serve threads.
    val gcWin0Ms = gcMs; val gcWin0N = gcCount
    gcPauses.clear()
    val soakWallT0 = System.nanoTime()
    val stop = new AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val soakIngest = ArrayBuffer[Double]()
    val soakWarm = ArrayBuffer[Double]()
    // serve-mode decomposition of the warm tail (r10, VERDICT #8): every warm
    // sample tagged with HOW it was served, so the record says whether the
    // p99 is slow L1 hits (CPU/GC contention) or in-band recomputes after a
    // maintenance rewrite changed the pruned-path-set cache key
    val soakWarmModes = ArrayBuffer[String]()
    val soakCold = ArrayBuffer[Double]()
    val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val rollupBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val sweepsDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val chunksStart = catalog.allChunks.size

    def loopThread(name: String)(body: () => Unit): Thread = {
      val t = new Thread(() => {
        try while (!stop.get()) body()
        catch {
          case e: Throwable =>
            // an exception AFTER stop is teardown (cancelled jobs), not a failure
            if (!stop.get()) { errors.add(s"$name: $e"); stop.set(true) }
        }
      }, s"soak-$name")
      t.setDaemon(true); t.start(); t
    }

    val tIngest = loopThread("ingest") { () =>
      val sec = timedWrite(ingestTick.getAndIncrement())
      soakIngest.synchronized { soakIngest += sec }
    }
    val tMaint = loopThread("maintenance") { () =>
      // its own job group so shutdown can cancel a long in-flight merge
      spark.sparkContext.setJobGroup("soak-maint", "soak maintenance sweep",
        interruptOnCancel = true)
      // virtual now tracks the ingest frontier (timestamps are synthetic)
      val frontierNs = baseNs + ingestTick.get() * batchVirtualSec * 1000000000L
      val rep = maint.runOnce(nowMs = frontierNs / 1000000L)
      compactions.addAndGet(rep.compacted.size)
      if (rep.rolledUp.isDefined) rollupBuilds.incrementAndGet()
      sweepsDone.incrementAndGet()
      Thread.sleep(5000)
    }
    val compactions2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val sweeps2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val tMaint2 = loopThread("maintenance2") { () =>
      spark.sparkContext.setJobGroup("soak-maint2", "soak second compactor",
        interruptOnCancel = true)
      compactions2.addAndGet(compactor2.runOnce().size)
      compactor2.scavengeLeases()
      sweeps2.incrementAndGet()
      Thread.sleep(5000)
    }
    // queries run in their own FAIR pool: with scheduler.mode=FAIR the
    // "queries" pool gets an equal share of task slots against the ingest
    // and maintenance jobs' pool, so a query burst is scheduled promptly
    // instead of queueing behind a 24-task ingest stage
    val tWarm = loopThread("warm") { () =>
      engine.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "queries")
      val t0 = System.nanoTime()
      // the sqlRows serve (r11), with its serve mode kept: a localized L1
      // hit hands back the stored row array — zero plan execution, zero row
      // copying — exactly how the reference's L1 serves cached bytes.
      // Maintenance rewrites change the cache key, so recomputes still
      // happen in-band and the serve-mode decomposition still sees them.
      val served = engine.serve(warmSql)
      served.rows.getOrElse(served.df.collect())
      val ms = (System.nanoTime() - t0) / 1e6
      soakWarm.synchronized { soakWarm += ms; soakWarmModes += served.mode }
      Thread.sleep(25)
    }
    val coldI = new AtomicLong(1000L) // distinct text space from baseline
    val tCold = loopThread("cold") { () =>
      engine.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "queries")
      val t0 = System.nanoTime()
      engine.sql(coldSql(coldI.getAndIncrement())).collect()
      soakCold.synchronized { soakCold += (System.nanoTime() - t0) / 1e6 }
      Thread.sleep(100)
    }
    // serve-thread isolation (r12, r11 VERDICT #2): the query hammers run at
    // MAX_PRIORITY — a serving deployment prioritizes request threads over
    // batch ingest/maintenance CPU. This narrows OS scheduling delay on a
    // saturated box; it cannot shorten STW pauses, which the GC window
    // decomposition measures directly so the record can attribute the tail.
    Seq(tWarm, tCold).foreach(_.setPriority(Thread.MAX_PRIORITY))

    Thread.sleep(soakSec * 1000L)
    // window GC facts BEFORE teardown work adds its own collections
    val gcWindowMs = gcMs - gcWin0Ms
    val gcWindowN = gcCount - gcWin0N
    val gcWindowWallSec = (System.nanoTime() - soakWallT0) / 1e9
    val windowPauses = gcPauses.asScala.toSeq
    val gcMaxPauseMs = if (windowPauses.isEmpty) 0L else windowPauses.max
    val gcPausesOver50 = windowPauses.count(_ > 50L)
    stop.set(true)
    // a maintenance merge can legitimately outlast the window — cancel it
    // rather than waiting it out (its completed-sweep counters are already in)
    spark.sparkContext.cancelJobGroupAndFutureJobs("soak-maint")
    spark.sparkContext.cancelJobGroupAndFutureJobs("soak-maint2")
    Seq(tIngest, tMaint, tMaint2, tWarm, tCold).foreach(_.join(120000))
    val wedged = Seq(tIngest, tMaint, tMaint2, tWarm, tCold).filter(_.isAlive).map(_.getName)
    if (wedged.nonEmpty)
      throw new IllegalStateException(
        s"soak threads did not stop within 120s: ${wedged.mkString(", ")}")
    if (!errors.isEmpty)
      throw new IllegalStateException("soak thread failed: " +
        errors.asScala.mkString("; "))

    val soakRate =
      if (soakIngest.isEmpty) 0.0 else batchRows * soakIngest.size / soakIngest.sum
    val dropPct = (1.0 - soakRate / baselineRate) * 100.0
    catalog.invalidateCache()
    val chunksEnd = catalog.allChunks.size
    // Row conservation across the dual-compactor window: compaction moves
    // rows, never duplicates or drops them (the retention horizon is far
    // beyond the synthetic span, so nothing ages out). A double-compacted
    // group — the failure leases exist to prevent — would inflate this sum
    // by the group's row count.
    val rowsInCatalog = catalog.allChunks.map(_.rowCount).sum
    val rowsExpected = ingestTick.get() * batchRows
    val okRows = rowsInCatalog == rowsExpected
    System.err.println(s"[soak] dual maintenance: m1 sweeps=${sweepsDone.get()} " +
      s"m2 sweeps=${sweeps2.get()} compactions=${compactions.get()}/${compactions2.get()} " +
      s"leaseSkips=${compactor1.leaseSkips.get()}/${compactor2.leaseSkips.get()} " +
      s"rows=$rowsInCatalog/$rowsExpected ok=$okRows")

    // ---- phase 2b: live-tail SSE serving under concurrent ingest+maintenance.
    // The one serving path SOAK_r07 left spec-only: /api/v1/stream?live=1 over
    // real sockets while flushes and compactions rewrite the catalog under it.
    // Runs on its OWN warehouse because the SSE merge-timestamp cutoff is
    // WALL-CLOCK (fixed server-side at query start) — rows must carry real
    // timestamps for the cutoff semantics to be exercised. Asserted here:
    //   - every connection gets historical frames, then live frames, then end;
    //   - no live row below the connection's cutoff (late rows dropped);
    //   - dropped > 0 overall (backdated rows in post-connect flushes prove
    //     the cutoff actually filters, not vacuously);
    //   - delivery is toLocalIterator-incremental (bounded driver memory —
    //     the global peak-heap metric covers this phase too).
    val liveSec = env("SOAK_LIVE_SEC", 40L)
    System.err.println(s"[soak] live-tail SSE phase for ${liveSec}s...")
    val liveCat = new graft.catalog.ChunkCatalog(
      graft.util.ShmDirs.tempDir("graft_soak_live_"), cacheTtlMs = 250L)
    val liveWriter = new graft.ingest.ChunkWriter(liveCat)
    def liveBatch(startNs: Long): DataFrame = graft.fixtures.DataGenerator.generate(spark,
      metrics = 10, hosts = 5, regions = 2, samplesPerSecond = hz,
      durationSeconds = 30, startNs = startNs, partitions = 8)
    val liveSeedStartNs = System.currentTimeMillis() * 1000000L - 120L * 1000000000L
    locally { val b = liveBatch(liveSeedStartNs); b.count(); liveWriter.write(b) }
    val liveEngine = graft.engine.QueryEngine.interactive(spark, liveCat)
    val liveApi = new graft.server.HttpApi(liveEngine, port = 0).start()

    final class SseStats {
      val hist = new AtomicLong(0L); val live = new AtomicLong(0L)
      val minLiveTs = new AtomicLong(Long.MaxValue)
      @volatile var connectedBeforeNs = 0L
      @volatile var endSeen = false
      @volatile var err: String = null
    }
    def sseClient(stats: SseStats): Thread = {
      val t = new Thread(() => {
        try {
          val q = java.net.URLEncoder.encode(
            s"SELECT timestamp_ns, metric_name FROM metrics WHERE timestamp_ns >= $liveSeedStartNs",
            "UTF-8")
          stats.connectedBeforeNs = System.currentTimeMillis() * 1000000L
          val url = java.net.URI.create(
            s"http://127.0.0.1:${liveApi.boundPort}/api/v1/stream" +
              s"?query=$q&live=1&duration=$liveSec&batch=2048").toURL
          val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setReadTimeout(((liveSec + 60) * 1000).toInt)
          val rd = new java.io.BufferedReader(
            new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
          var line = rd.readLine()
          while (line != null && !stats.endSeen) {
            if (line.startsWith("data: ")) {
              import org.json4s._
              val j = org.json4s.jackson.JsonMethods.parse(line.substring(6))
              (j \ "type") match {
                case JString("data") =>
                  val rows = (j \ "rows").asInstanceOf[JArray].arr
                  val isLive = (j \ "columns") != JNothing // live frames carry columns
                  if (isLive) {
                    stats.live.addAndGet(rows.size)
                    rows.foreach { r =>
                      val ts = r.asInstanceOf[JArray].arr.head match {
                        case JInt(v) => v.toLong
                        case JLong(v) => v
                        case JString(s) => s.toLong
                        case _ => Long.MaxValue
                      }
                      stats.minLiveTs.getAndUpdate(m => math.min(m, ts))
                    }
                  } else stats.hist.addAndGet(rows.size)
                case JString("end") => stats.endSeen = true
                case JString("error") => stats.err = "server error frame"
                case _ => ()
              }
            }
            if (!stats.endSeen) line = rd.readLine()
          }
          rd.close()
        } catch { case e: Throwable => stats.err = e.toString }
      }, "soak-sse")
      t.setDaemon(true); t.start(); t
    }

    val liveStop = new AtomicBoolean(false)
    val liveFlushedPostConnect = new AtomicLong(0L)
    val liveCompactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val connectMarkNs = new AtomicLong(Long.MaxValue)
    val tLiveIngest = new Thread(() => {
      try while (!liveStop.get()) {
        // batch start 15 s in the past: post-connect flushes then carry rows
        // on BOTH sides of the cutoff, so the dropped-count is non-vacuous
        val startNs = System.currentTimeMillis() * 1000000L - 15L * 1000000000L
        val b = liveBatch(startNs)
        b.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY); b.count()
        liveWriter.write(b)
        if (connectMarkNs.get() != Long.MaxValue) liveFlushedPostConnect.addAndGet(
          100L * hz * 30L)
        b.unpersist(blocking = false)
        Thread.sleep(1000)
      } catch { case _: Throwable if liveStop.get() => () }
    }, "soak-live-ingest")
    val liveCompactor = new graft.compact.Compactor(spark, liveCat, l0FileThreshold = 4)
    val tLiveMaint = new Thread(() => {
      try while (!liveStop.get()) {
        liveCompactions.addAndGet(liveCompactor.runOnce().size)
        Thread.sleep(5000)
      } catch { case _: Throwable if liveStop.get() => () }
    }, "soak-live-maint")
    tLiveIngest.setDaemon(true); tLiveMaint.setDaemon(true)
    tLiveIngest.start(); tLiveMaint.start()
    Thread.sleep(3000) // a flush is in flight when the clients connect
    val sseStats = Seq.fill(3)(new SseStats)
    connectMarkNs.set(System.currentTimeMillis() * 1000000L)
    val sseThreads = sseStats.map(sseClient)
    sseThreads.foreach(_.join((liveSec + 90) * 1000L))
    liveStop.set(true)
    Seq(tLiveIngest, tLiveMaint).foreach(_.join(60000))
    liveApi.stop()
    sseStats.foreach(s => require(s.err == null, s"SSE client failed: ${s.err}"))
    val liveDelivered = sseStats.map(_.live.get())
    val cutoffViolations = sseStats.count(s =>
      s.live.get() > 0 && s.minLiveTs.get() < s.connectedBeforeNs)
    val liveDropped = math.max(0L, liveFlushedPostConnect.get() - liveDelivered.max)
    val okLive = sseStats.forall(s => s.endSeen && s.hist.get() > 0 && s.live.get() > 0) &&
      cutoffViolations == 0 && liveDropped > 0
    System.err.println(s"[soak] live tail: hist=${sseStats.map(_.hist.get()).mkString("/")} " +
      s"live=${liveDelivered.mkString("/")} dropped~$liveDropped " +
      s"compactions=${liveCompactions.get()} ok=$okLive")

    // ---- phase 3: streaming throughput --------------------------------------
    System.err.println(s"[soak] streaming dedup for ${streamSec}s...")
    import org.apache.spark.sql.functions._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_soak_ckpt_").toString
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", 200000).option("numPartitions", 8).load()
      .withColumn("doc_id", col("value"))
      // ~25% duplicate fingerprints inside the watermark horizon
      .withColumn("text", concat(lit("document body "), pmod(col("value"), lit(150000L))))
      .withColumn("event_time", col("timestamp"))
    val deduped = graft.streaming.StreamingDedup.exactDedupStream(
      stream, textCol = "text", eventTimeCol = "event_time", delay = "10 seconds")
    val outRows = new AtomicLong(0L)
    val q = deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) => outRows.addAndGet(b.count()); () }
      .start()
    val stateSamples = ArrayBuffer[Long]()
    val streamT0 = System.nanoTime()
    while ((System.nanoTime() - streamT0) / 1e9 < streamSec) {
      Thread.sleep(5000)
      Option(q.lastProgress).foreach { p =>
        if (p.stateOperators.nonEmpty)
          stateSamples += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
    // wall clock ends when sampling ends — q.stop() can block on the
    // in-flight micro-batch, which would understate rows/sec against the
    // progress counters frozen above
    val streamWallSec = (System.nanoTime() - streamT0) / 1e9
    val progresses = q.recentProgress.toSeq
    q.stop()
    val inRows = progresses.map(_.numInputRows).sum
    val streamRate = inRows / streamWallSec
    // flat state = eviction works: last sample within 2x of the mid sample
    val stateFlat = stateSamples.size >= 3 && {
      val mid = stateSamples(stateSamples.size / 2).toDouble
      mid > 0 && stateSamples.last <= mid * 2.0
    }

    // ---- phase 4: streaming NEAR-dup ingest (r9) -----------------------------
    // The end-to-end LLM-ingest shape: micro-batches probe the materialized
    // MinHash index, survivors append to corpus + index, so later batches
    // dedup against earlier batches' survivors. Verifies under sustained
    // load: only-fresh docs accepted, index growth == accepted docs, and a
    // processing rate record. (The query is stateless — state is the index.)
    val nearDupSec = sys.env.get("SOAK_NEARDUP_SEC").map(_.toInt).getOrElse(30)
    System.err.println(s"[soak] streaming near-dup ingest for ${nearDupSec}s...")
    val sniRoot = graft.util.ShmDirs.tempDir("graft_soak_sni_").toString
    val sniCorpus = s"$sniRoot/corpus"
    val sniIndex = s"$sniRoot/index"
    val nBase = 200
    // base docs: 20 words each, all words doc-keyed
    val baseDocs = spark.range(0, nBase).select(
      (col("id") + 1000000L).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(20)),
        j => concat(lit("b"), col("id"), lit("_"), j))).as("text"))
    baseDocs.write.parquet(sniCorpus)
    graft.dedup.MinHashIndex.build(baseDocs, sniIndex, k = 3, numHashes = 64,
      bands = 16, nParts = 32)
    val sigs0 = spark.read.parquet(s"$sniIndex/sigs").count()
    // stream: ~30% near-dups of a base doc (19 shared words + 1 mutation →
    // J = 15/21 ≥ 0.7), ~70% fresh docs whose words are all value-keyed
    val sniCkpt = java.nio.file.Files.createTempDirectory("graft_soak_snick_").toString
    val sniStream = spark.readStream.format("rate")
      .option("rowsPerSecond", 2000).option("numPartitions", 4).load()
      .withColumn("doc_id", col("value"))
      .withColumn("text",
        when(pmod(col("value"), lit(10)) < 3,
          concat(
            concat_ws(" ", transform(sequence(lit(1), lit(19)),
              j => concat(lit("b"), pmod(col("value"), lit(nBase.toLong)), lit("_"), j))),
            lit(" mut"), col("value")))
        .otherwise(concat_ws(" ", transform(sequence(lit(1), lit(20)),
          j => concat(lit("f"), col("value"), lit("_"), j)))))
      .select("doc_id", "text")
    val sniAccepted = new AtomicLong(0L)
    val sniInput = new AtomicLong(0L)
    // Drain instead of kill: stop() aborts the in-flight micro-batch, which
    // (a) booked its rows as input-but-never-accepted (the first smoke run
    // read 35% acceptance instead of the true 70% because a ~12k-row
    // backlogged tail was cut), and (b) can die between the corpus append
    // and the index append, breaking the growth==accepted invariant the
    // gate checks. The flag makes post-deadline batches no-ops; the busy
    // latch lets the current batch finish before stop().
    val sniDraining = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sniBusy = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sniQ = sniStream.writeStream
      .option("checkpointLocation", sniCkpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        sniBusy.set(true)
        try {
          if (!sniDraining.get()) {
            val rows = b.localCheckpoint(true)
            val cnt = rows.count()
            val acc = graft.streaming.StreamingDedup
              .nearDupIngestBatch(rows, sniIndex, sniCorpus)
            sniInput.addAndGet(cnt)
            sniAccepted.addAndGet(acc)
          }
        } finally sniBusy.set(false)
        ()
      }
      .start()
    val sniT0 = System.nanoTime()
    while ((System.nanoTime() - sniT0) / 1e9 < nearDupSec) Thread.sleep(2000)
    sniDraining.set(true)
    Thread.sleep(300)
    while (sniBusy.get()) Thread.sleep(200)
    val sniWall = (System.nanoTime() - sniT0) / 1e9
    sniQ.stop()
    val sigs1 = spark.read.parquet(s"$sniIndex/sigs").count()
    val sniCorpusRows = spark.read.parquet(sniCorpus).count()
    // every accepted doc (and only those) is in the corpus and the index
    val sniGrowthOk = (sigs1 - sigs0) == sniAccepted.get() &&
      sniCorpusRows == nBase + sniAccepted.get()
    // exactly the near-dup fraction (30% of values, modulo batch-boundary
    // rounding) must have been dropped — an over- OR under-dropping path
    // fails the gate
    val sniDropped = sniInput.get() - sniAccepted.get()
    val sniDropFrac = if (sniInput.get() == 0) 0.0
      else sniDropped.toDouble / sniInput.get()
    val sniOk = sniGrowthOk && sniInput.get() > 0 &&
      sniDropFrac >= 0.25 && sniDropFrac <= 0.35

    // acceptance requires a real sample base — an empty hammer must FAIL the
    // gate, not pass it vacuously through the p99 sentinel
    val okDrop = soakIngest.nonEmpty && dropPct < 20.0
    val okWarm = soakWarm.size >= 100 && p99(soakWarm.toSeq) < 200.0
    val okCold = soakCold.size >= 50 && p99(soakCold.toSeq) < 1000.0
    // Cal-normalized gates (r12, r11 VERDICT #2): hosts vary 3-5× across
    // sessions (SOAK_AB_r09 measured same-code 3.5× spread), so an absolute
    // p99 gate is unreadable on a slow host. The unloaded baseline ingest
    // rate IS this soak's calibration probe (record-class hosts read
    // ~1.3-1.5M samples/s on it); normalized p99 = measured × cal/recordCal
    // states what this tail WOULD read on a record host if latency scales
    // with the probe. Both raw and normalized gates are published — a pass
    // is recognizable either way, and the raw number keeps honesty.
    val recordCalSps = 1400000.0
    val calRatio = baselineRate / recordCalSps
    val warmP99Cal = round1(p99(soakWarm.toSeq) * calRatio)
    val coldP99Cal = round1(p99(soakCold.toSeq) * calRatio)
    val okWarmCal = soakWarm.size >= 100 && warmP99Cal < 200.0
    val okColdCal = soakCold.size >= 50 && coldP99Cal < 1000.0
    val jvmGcArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a => a.startsWith("-XX") || a.startsWith("-Xm"))
      .mkString(" ").replace("\"", "")
    val json =
      s"""{"metric":"soak_mixed_load","duration_sec":$soakSec,"cpus":$cpus,""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
      s""""baseline":{"ingest_samples_per_sec":${baselineRate.toLong},""" +
      s""""warm_p99_ms":${round1(p99(baseWarm))},"warm_median_ms":${round1(baseWarm.sorted.apply(baseWarm.size / 2))},""" +
      s""""cold_p99_ms":${round1(p99(baseCold))},"cold_median_ms":${round1(baseCold.sorted.apply(baseCold.size / 2))}},""" +
      s""""soak":{"ingest_samples_per_sec":${soakRate.toLong},"write_drop_pct":${round1(dropPct)},""" +
      s""""ingest_batches":${soakIngest.size},""" +
      s""""warm_p99_ms":${round1(p99(soakWarm.toSeq))},"warm_queries":${soakWarm.size},""" + {
        // warm-tail decomposition by serve mode
        val tagged = soakWarm.toSeq.zip(soakWarmModes.toSeq)
        val l1 = tagged.collect { case (ms, "l1") => ms }
        val comp = tagged.collect { case (ms, m) if m != "l1" => ms }
        s""""warm_l1_queries":${l1.size},""" +
          s""""warm_l1_p99_ms":${if (l1.nonEmpty) round1(p99(l1)) else 0.0},""" +
          s""""warm_recompute_queries":${comp.size},""" +
          s""""warm_recompute_p50_ms":${if (comp.nonEmpty) round1(comp.sorted.apply(comp.size / 2)) else 0.0},""" +
          s""""warm_recompute_max_ms":${if (comp.nonEmpty) round1(comp.max) else 0.0},"""
      } +
      s""""cold_p99_ms":${round1(p99(soakCold.toSeq))},"cold_queries":${soakCold.size},""" +
      s""""compacted_chunks":${compactions.get()},"rollup_sweeps":${rollupBuilds.get()},""" +
      s""""maintenance_sweeps_completed":${sweepsDone.get()},""" +
      s""""chunks_start":$chunksStart,"chunks_end":$chunksEnd,""" +
      s""""peak_heap_mb":$peakHeapMb,"gc_time_ms":$gcMs,""" +
      s""""gc_window_ms":$gcWindowMs,"gc_window_collections":$gcWindowN,""" +
      s""""gc_window_pct":${round1(100.0 * gcWindowMs / (gcWindowWallSec * 1000.0))},""" +
      s""""gc_max_pause_ms":$gcMaxPauseMs,"gc_pauses_over_50ms":$gcPausesOver50,""" +
      s""""jvm_gc_args":"$jvmGcArgs"},""" +
      s""""dual_maintenance":{"m1_sweeps":${sweepsDone.get()},"m2_sweeps":${sweeps2.get()},""" +
      s""""m1_compactions":${compactions.get()},"m2_compactions":${compactions2.get()},""" +
      s""""lease_skips_m1":${compactor1.leaseSkips.get()},"lease_skips_m2":${compactor2.leaseSkips.get()},""" +
      s""""rows_expected":$rowsExpected,"rows_in_catalog":$rowsInCatalog,""" +
      s""""row_conservation_ok":$okRows},""" +
      s""""acceptance":{"write_drop_lt_20pct":$okDrop,"warm_p99_lt_200ms":$okWarm,""" +
      s""""cold_p99_lt_1000ms":$okCold,"row_conservation":$okRows,""" +
      s""""cal_ratio":${round1(calRatio * 1000.0) / 1000.0},""" +
      s""""warm_p99_ms_cal":$warmP99Cal,"warm_p99_lt_200ms_cal":$okWarmCal,""" +
      s""""cold_p99_ms_cal":$coldP99Cal,"cold_p99_lt_1000ms_cal":$okColdCal},""" +
      s""""streaming":{"duration_sec":${streamWallSec.toInt},"input_rows":$inRows,""" +
      s""""rows_per_sec":${streamRate.toLong},"output_rows":${outRows.get()},""" +
      s""""state_rows_samples":[${stateSamples.mkString(",")}],"state_flat":$stateFlat},""" +
      s""""live_tail":{"duration_sec":$liveSec,"connections":${sseStats.size},""" +
      s""""historical_rows":[${sseStats.map(_.hist.get()).mkString(",")}],""" +
      s""""live_rows_delivered":[${liveDelivered.mkString(",")}],""" +
      s""""live_rows_dropped_below_cutoff":$liveDropped,""" +
      s""""cutoff_violations":$cutoffViolations,""" +
      s""""end_frames":${sseStats.count(_.endSeen)},""" +
      s""""compactions_during_tail":${liveCompactions.get()},"ok":$okLive},""" +
      s""""near_dup_ingest":{"duration_sec":${sniWall.toInt},""" +
      s""""input_docs":${sniInput.get()},"accepted":${sniAccepted.get()},""" +
      s""""dropped":$sniDropped,"docs_per_sec":${(sniInput.get() / sniWall).toLong},""" +
      s""""index_sigs_start":$sigs0,"index_sigs_end":$sigs1,""" +
      s""""growth_matches_accepted":$sniGrowthOk,"ok":$sniOk}}"""
    println(json)
    try java.nio.file.Files.write(out,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    finally spark.stop()
  }
}
