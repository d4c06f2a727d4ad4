package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import graft.engine.Telemetry

/** Per-layer figures of the dashboard workload. */
object ServingReport {
  private def med(xs: Seq[Double]): Double = Lat.medianOr0(xs)
  private def nz(d: Double): Double = if (d.isNaN) 0.0 else d

  /** Read-class latencies of one untraced window. */
  def reads(h: Harness, p: Phase): Unit = {
    h.layer("read.warm_p50_ms") = (nz(p.warm.pct(50)), "ms")
    h.layer("read.warm_p99_ms") = (nz(p.warm.pct(99)), "ms")
    h.layer("read.cold_p50_ms") = (nz(p.cold.pct(50)), "ms")
    h.layer("read.cold_p90_ms") = (nz(p.cold.pct(90)), "ms")
    h.layer("gen.lag_p99_ms") = (nz(p.lag.pct(99)), "ms")
    h.info("samples") = Map("warm" -> p.warm.n, "cold" -> p.cold.n, "window_s" -> p.seconds)
    h.info("read_log") = p.log.asScala.toSeq.map { case (k, w, l, g) => Seq(k, w, l, g) }
  }

  /** Telemetry-counter figures over an untraced read window. */
  def counters(h: Harness, p: Phase): Unit = {
    val (a, b) = (p.c0, p.c1)
    val hits = b.l1Hits - a.l1Hits
    val misses = b.l1Misses - a.l1Misses
    val reads = p.warm.n + p.cold.n
    h.layer("server.byte_cache_hit_pct") =
      (if (reads == 0) 0.0 else 100.0 * (b.byteHits - a.byteHits) / reads, "%")
    h.layer("engine.l1_hit_pct") = (if (hits + misses == 0) 0.0 else 100.0 * hits / (hits + misses), "%")
    h.layer("engine.l2_hits") = ((b.l2Hits - a.l2Hits).toDouble, "count")
    h.layer("engine.warm_recomputes") = (math.max(0L, misses - p.cold.n).toDouble, "count")
  }

  /** Span-based figures: read steps of the traced window, write steps of the
    * traced load.
    */
  def spans(h: Harness, reads: Serving, writes: Serving): Unit = {
    h.drainListener()
    val t = h.tracer
    Seq("promql.transpile", "engine.analyze", "engine.prune", "engine.plan", "engine.exec",
      "engine.format", "server.snappy", "ingest.wire_parse", "ingest.convert",
      "ingest.chunk_write", "catalog.state_load").foreach { n =>
      h.layer(s"${n}_ms") = (med(t.durationsMs(n)), "ms")
    }
    h.layer("server.denied") = ((reads.denied.get + writes.denied.get).toDouble, "count")
    // direct time = the layer calls only (the harness's own bookkeeping in
    // a direct request, such as counting files, is not a layer's work)
    def layerMs(root: String, skip: Set[String]) = {
      val kids = t.all.filter(s => s.parent != 0L && !skip(s.name)).groupBy(_.parent)
      t.all.filter(s => s.parent == 0L && s.name == root)
        .map(r => kids.getOrElse(r.id, Nil).map(_.durNs).sum / 1e6)
    }
    h.layer("server.overhead_ms") = (med(reads.httpReadMs.values.toSeq) -
      med(layerMs("read.direct", Set.empty)), "ms")
    h.layer("server.write_overhead_ms") = (med(writes.httpWriteMs.values.toSeq) -
      med(layerMs("write.direct", Set("catalog.state_load"))), "ms")
    val sel = reads.chunksSelected.values.toSeq
    val tot = reads.chunksTotal.values.toSeq
    h.layer("engine.chunks_selected") = (med(sel), "count")
    h.layer("engine.chunks_total") = (med(tot), "count")
    h.layer("engine.prune_kept_pct") = (if (tot.sum == 0) 0.0 else 100.0 * sel.sum / tot.sum, "%")
    h.layer("storage.files_read") = (med(reads.filesRead.values.toSeq), "count")

    val roots = t.all.filter(s => s.parent == 0L && s.name == "read.direct")
    val stats = roots.map(r => SparkMeter.opStats(h.meter, r))
    sparkLayer(h, "spark", stats)
    h.layer("storage.bytes_read") = (med(stats.map(_.inputBytes.toDouble)), "B")
    val tails = t.all.filter(_.name == "ingest.chunk_write").flatMap { w =>
      h.meter.get(w.rid).flatMap { a =>
        val ends = a.jobIntervalsMs.asScala.map(_._2)
        if (ends.isEmpty) None else Some((SparkMeter.toWallMs(w.endNs) - ends.max).toDouble)
      }
    }
    h.layer("ingest.commit_tail_ms") = (med(tails), "ms")
    h.info("trace_spans") = spanSummary(t)
  }

  def spanSummary(t: Tracer): Map[String, Map[String, Any]] =
    t.summary.map { case (n, (c, tot, self, m)) =>
      n -> Map("count" -> c, "total_ms" -> tot, "self_ms" -> self, "median_ms" -> m)
    }

  def sparkLayer(h: Harness, prefix: String, stats: Seq[SparkMeter.OpStats]): Unit = {
    def m(f: SparkMeter.OpStats => Double) = med(stats.map(f))
    h.layer(s"$prefix.jobs") = (m(_.jobs.toDouble), "count")
    h.layer(s"$prefix.stages") = (m(_.stages.toDouble), "count")
    h.layer(s"$prefix.tasks") = (m(_.tasks.toDouble), "count")
    h.layer(s"$prefix.executor_cpu_ms") = (m(_.executorCpuMs), "ms")
    h.layer(s"$prefix.driver_gap_ms") = (m(_.driverGapMs), "ms")
    h.layer(s"$prefix.shuffle_read_bytes") = (m(_.shuffleReadBytes.toDouble), "B")
    h.layer(s"$prefix.shuffle_write_bytes") = (m(_.shuffleWriteBytes.toDouble), "B")
    h.layer(s"$prefix.spill_bytes") = (m(_.spillBytes.toDouble), "B")
  }

  /** Tracing overhead: traced window against the untraced one, in percent. */
  def overhead(h: Harness, p50U: Double, p50T: Double, workU: Double, workT: Double): Unit = {
    h.layer("trace.overhead_p50_pct") = (if (p50U > 0) 100.0 * (p50T - p50U) / p50U else 0.0, "%")
    h.layer("trace.overhead_work_pct") = (if (workU > 0) 100.0 * (workU - workT) / workU else 0.0, "%")
  }
}

/** The dashboard's warehouse: loaded through remote write, then compacted. */
object Warehouse {
  val Senders = 4
  val L0Threshold = 4

  /** Run `f(0 until n)` on `threads` threads; the first failure is rethrown. */
  def parallel(n: Int, threads: Int)(f: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until math.min(n, threads)).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && err.get == null) {
          try f(i) catch { case e: Throwable => err.compareAndSet(null, e) }
          i = next.getAndIncrement()
        }
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }

  /** Load: Senders closed-loop remote-write clients post every warehouse
    * request, then one compaction sweep merges the frontier hour (the only
    * hour with L0Threshold chunks; history hours hold HistoryGroups). In traced runs every other request calls
    * the write layers directly. Returns the load's writes and the serving
    * instance that sent them (for the per-layer report).
    */
  def load(h: Harness, dir: Path): (Phase, Serving) = {
    val stack = new Stack(h.spark, dir)
    val sv = new Serving(h, stack)
    val bodies = h.gen.warehouseBodies
    val p = new Phase
    val v0 = stack.catalog.state.version
    h.tracer.active = h.opts.trace
    try {
      p.t0Ns = System.nanoTime()
      parallel(bodies.size, Senders)(i => sv.write(bodies(i), h.tracer.active && i % 2 == 1, p))
      p.t1Ns = System.nanoTime()
      val before = stack.catalog.state.chunks
      h.layer("compact.l0_backlog_max") = (before.values.count(_.level == 0).toDouble, "count")
      val c = new graft.compact.Compactor(h.spark, stack.catalog, l0FileThreshold = L0Threshold)
      h.outcomes.attempt("compact")
      val t0 = System.nanoTime()
      val out = h.tracer.request("compact.run", h.spark.sparkContext)(_ => c.runOnce())
      h.layer("compact.run_ms") = (Util.ms(System.nanoTime() - t0), "ms")
      val after = stack.catalog.state.chunks
      h.layer("compact.chunks_merged") = (before.keySet.diff(after.keySet).size.toDouble, "count")
      h.layer("compact.bytes_rewritten") = (out.map(_.sizeBytes).sum.toDouble, "B")
      val written = Telemetry.ingestBytes.sum
      h.info("load") = Map("requests" -> bodies.size, "seconds" -> p.seconds,
        "chunks_before_compaction" -> before.size, "chunks" -> after.size)
      h.layer("catalog.version_bumps") = ((stack.catalog.state.version - v0).toDouble, "count")
      h.layer("storage.write_amp") = (if (written == 0) 0.0
        else (written + out.map(_.sizeBytes).sum).toDouble / written, "ratio")
    } finally {
      h.tracer.active = false
      stack.stop()
    }
    h.layer("write.p50_ms") = (p.write.pct(50), "ms")
    h.layer("write.p90_ms") = (p.write.pct(90), "ms")
    h.layer("write.samples_per_s") = (p.ackSamples.get / p.seconds, "1/s")
    h.layer("storage.chunks_per_write") =
      (Telemetry.ingestChunks.sum.toDouble / math.max(1L, p.writesOk.get), "count")
    (p, sv)
  }

  /** Untimed ramp before the first window: every panel once and a few cold
    * requests from a reserved index range, so the caches and the JIT are in
    * their working state.
    */
  def warmUp(h: Harness, stack: Stack, clients: Int): Unit = {
    val reqs = h.gen.panels ++ (0 until 4).map(i => h.gen.cold(Dashboard.WarmupColdBase + i))
    parallel(reqs.size, clients) { i =>
      h.outcomes.attempt("warmup")
      val (code, body) = stack.http.get(reqs(i).uri)
      if (code != 200) h.outcomes.fail("warmup", s"HTTP $code ${new String(body, "UTF-8").take(200)}")
    }
  }

  /** Mean read latency from due time, warm and cold as scheduled: a cache
    * that stops hitting or a slower cold path both move it.
    */
  def readMean(p: Phase): Double = p.reads.sum / p.reads.length
}

/** Dashboard traffic, open loop at a fixed rate, over a warehouse the set-up
  * loads through remote write and compaction.
  */
object Dashboard {
  val WarmRate = 10.0
  val ColdRate = 2.0
  val Clients = 4
  val SettleS = 5.0
  /** Cold request index ranges; every range is distinct, so no cold request repeats. */
  val WarmupColdBase = 100000000L
  val SettleColdBase = 200000000L

  def run(h: Harness): Unit = {
    val bodies = h.gen.warehouseBodies
    h.info("inputs") = Map("series" -> h.gen.series.size,
      "samples" -> bodies.map(_.samples.toLong).sum, "virtual_hours" -> Gen.WarehouseHours,
      "remote_write_requests" -> bodies.size, "request_bytes" -> bodies.map(_.snappy.length.toLong).sum,
      "panels" -> h.gen.panels.size, "warm_rate_per_s" -> WarmRate,
      "cold_rate_per_s" -> ColdRate, "clients" -> Clients,
      "input_sha256" -> Util.sha256Hex(bodies.flatMap(_.snappy).toArray ++
        h.gen.panels.map(_.uri).mkString("\n").getBytes("UTF-8")))
    val dir = h.workDir("dashboard")
    var loaded: (Phase, Serving) = null
    val stack = h.setup { loaded = Warehouse.load(h, dir) }(
      _ => new Stack(h.spark, dir).awaitUp())(_.stop())
    val (load, writer) = loaded
    val w0 = System.nanoTime()
    Warehouse.warmUp(h, stack, Clients)
    val sv = new Serving(h, stack)
    // untimed settle: the schedule itself, until the JIT and the warm panels'
    // cache entries reach their working state (the first seconds after the
    // ramp read ~4x slower for warm requests)
    val settle = new Phase
    settle.t0Ns = System.nanoTime() + 20000000L
    sv.openLoop(sv.schedule(SettleS, WarmRate, ColdRate, SettleColdBase), Clients, settle,
      traced = false)
      .foreach(_.join())
    h.info("warmup_s") = (System.nanoTime() - w0) / 1e9
    h.startWindow()
    var coldBase = 0L
    val (us, ts) = h.windows { (traced, seconds) =>
      val p = new Phase
      p.c0 = Serving.counters()
      coldBase += 1000000L
      val sched = sv.schedule(seconds, WarmRate, ColdRate, coldBase)
      p.t0Ns = System.nanoTime() + 20000000L
      sv.openLoop(sched, Clients, p, traced).foreach(_.join())
      p.t1Ns = System.nanoTime()
      p.c1 = Serving.counters()
      p
    }
    val pu = Phase.merge(us)
    h.e2e("latency_ms") = (Warehouse.readMean(pu), "ms")
    h.e2e("work_per_s") = (pu.readsOk.get / pu.seconds, "1/s")
    ServingReport.reads(h, pu)
    ServingReport.counters(h, pu)
    if (ts.nonEmpty) {
      val pt = Phase.merge(ts)
      ServingReport.spans(h, sv, writer)
      ServingReport.overhead(h, Warehouse.readMean(pu), Warehouse.readMean(pt),
        pu.readsOk.get / pu.seconds, pt.readsOk.get / pt.seconds)
    }
    h.layer("jvm.gc_pause_max_ms") = (h.gcPauseMaxMs, "ms")
    h.e2e("heap_live_mb") = (h.liveHeapMb(), "MB")
    stack.catalog.invalidateCache()
    val st = stack.catalog.state
    h.layer("catalog.chunks_end") = (st.chunks.size.toDouble, "count")
    val rows = st.chunks.values.map(_.rowCount).sum
    h.layer("storage.bytes_per_sample") =
      (if (rows == 0) 0.0 else st.chunks.values.map(_.sizeBytes).sum.toDouble / rows, "B")
    sv.checkConservation(load.ackSamples.get, load.ackSum.sum)
    sv.checkReads()
    stack.stop()
  }
}

/** Batch curation of a seeded corpus with planted exact and near duplicates. */
object Curation {
  val Ops = Seq("exact_dedup", "minhash_neardup", "simhash_neardup", "bpe_encode",
    "dsir_select", "quality_classifier")
  val Docs = 4000

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col

  /** Run one operator to completion; returns its output digest and, for the
    * pair operators, the collected (id_a, id_b) pairs.
    */
  def runOp(op: String, docs: DataFrame): (String, Set[(Long, Long)]) = {
    def pairs(df: DataFrame): (String, Set[(Long, Long)]) = {
      val ps = df.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (Util.sha256Hex(ps.toSeq.sorted.mkString(";").getBytes("UTF-8")).take(16), ps)
    }
    op match {
      case "exact_dedup" => (Check.digest(graft.dedup.Dedup.exact(docs)), Set.empty)
      case "minhash_neardup" =>
        pairs(graft.dedup.Dedup.minhashNearDupPairs(docs, threshold = 0.5, numHashes = 32, bands = 16))
      case "simhash_neardup" => pairs(graft.dedup.Dedup.simhashNearDupPairsExact(docs, maxHamming = 3))
      case "bpe_encode" => (Check.digest(graft.text.TextFunctions.bpeEncode(docs, numMerges = 8)), Set.empty)
      case "dsir_select" =>
        (Check.digest(graft.pipeline.Pipeline.dsirSelect(docs, col("source") === "wiki", selectK = 200)),
          Set.empty)
      case "quality_classifier" =>
        (Check.digest(graft.pipeline.Pipeline.qualityClassifierTrain(docs, col("lang") === "en", iters = 3)),
          Set.empty)
    }
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val corpus = h.gen.corpus(Docs)
    h.info("inputs") = Map("docs" -> Docs, "exact_copies" -> corpus.exactCopies,
      "near_pairs" -> corpus.nearPairs.size,
      "words" -> corpus.docs.map(_._2.split("\\s+").length.toLong).sum,
      "input_sha256" -> Util.sha256Hex(corpus.docs.mkString("\n").getBytes("UTF-8")))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING")
    val rows = corpus.docs.map { case (i, t, l, s) => org.apache.spark.sql.Row(i, t, l, s) }
    val cpus = spark.sparkContext.defaultParallelism
    val dir = h.workDir("curation").resolve("documents").toString
    val docs = h.setup {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, cpus), schema)
        .write.mode("overwrite").parquet(dir)
    }(_ => { val d = spark.read.parquet(dir); d.count(); d })(_ => ())

    val digests = scala.collection.mutable.Map.empty[String, String]
    def pass(): Unit = Ops.foreach { op =>
      h.outcomes.attempt(op)
      try {
        val (d, ps) = h.tracer.request(s"curate.$op", spark.sparkContext)(_ => runOp(op, docs))
        digests.get(op) match {
          case None =>
            digests(op) = d
            op match {
              case "exact_dedup" =>
                val kept = d.takeWhile(_ != ':').toLong
                h.outcomes.check("check_exact_dedup", kept == Docs - corpus.exactCopies,
                  s"kept $kept, expected ${Docs - corpus.exactCopies}")
              case "minhash_neardup" =>
                val missed = (corpus.nearPairs ++ corpus.exactPairs).diff(ps)
                h.outcomes.check("check_minhash_recall", missed.isEmpty,
                  s"${missed.size} planted pairs missed, e.g. ${missed.take(3)}")
              case "simhash_neardup" =>
                val missed = corpus.exactPairs.diff(ps)
                h.outcomes.check("check_simhash_recall", missed.isEmpty,
                  s"${missed.size} planted exact pairs missed, e.g. ${missed.take(3)}")
              case _ => ()
            }
          case Some(first) =>
            h.outcomes.check("check_digest", first == d, s"$op digest $d differs from $first")
        }
      } catch {
        case scala.util.control.NonFatal(e) => h.outcomes.fail(op, e.toString)
      }
    }

    // untimed ramp: the first pass JIT-compiles every operator's code path
    // and fixes the digests the timed passes must reproduce
    val w0 = System.nanoTime()
    pass()
    h.info("warmup_s") = (System.nanoTime() - w0) / 1e9
    h.startWindow()
    val (us, ts) = h.windows { (traced, seconds) =>
      val passMs = new Lat
      val t0 = System.nanoTime()
      val until = t0 + (seconds * 1e9).toLong
      do {
        val p0 = System.nanoTime()
        pass()
        passMs.add(Util.ms(System.nanoTime() - p0))
      } while (System.nanoTime() < until)
      passMs
    }
    def merged(ls: Seq[Lat]) = { val m = new Lat; ls.foreach(_.values.foreach(m.add)); m }
    val u = merged(us)
    val t = if (ts.isEmpty) None else Some(merged(ts))
    def docsPerS(l: Lat) = Docs * l.n / (l.values.sum / 1000.0)
    h.e2e("latency_ms") = (u.values.sum / u.n, "ms")
    h.e2e("work_per_s") = (docsPerS(u), "1/s")
    h.layer("curate.docs_per_s") = (docsPerS(u), "1/s")
    h.info("passes") = Map("untraced" -> u.n) ++ t.map(l => "traced" -> l.n)
    h.info("digests") = digests.toMap
    t.foreach { tl =>
      h.drainListener()
      val roots = h.tracer.all.filter(_.parent == 0L)
      ServingReport.sparkLayer(h, "spark", roots.map(r => SparkMeter.opStats(h.meter, r)))
      Ops.foreach { op =>
        val mine = roots.filter(_.name == s"curate.$op")
        val stats = mine.map(r => SparkMeter.opStats(h.meter, r))
        def med(f: SparkMeter.OpStats => Double) = Lat.medianOr0(stats.map(f))
        h.layer(s"curate.${op}_s") = (Lat.medianOr0(mine.map(_.durNs / 1e9)), "s")
        h.layer(s"curate.$op.jobs") = (med(_.jobs.toDouble), "count")
        h.layer(s"curate.$op.executor_cpu_ms") = (med(_.executorCpuMs), "ms")
        h.layer(s"curate.$op.driver_gap_ms") = (med(_.driverGapMs), "ms")
        h.layer(s"curate.$op.shuffle_write_bytes") = (med(_.shuffleWriteBytes.toDouble), "B")
      }
      ServingReport.overhead(h, u.values.sum / u.n, tl.values.sum / tl.n, docsPerS(u), docsPerS(tl))
      h.info("trace_spans") = ServingReport.spanSummary(h.tracer)
    }
    h.layer("jvm.gc_pause_max_ms") = (h.gcPauseMaxMs, "ms")
    h.e2e("heap_live_mb") = (h.liveHeapMb(), "MB")
  }
}
