package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{ChunkCatalog, ChunkMeta, ColumnStats}
import java.nio.file.Files

class CatalogSpec extends AnyFunSuite {

  private def freshCatalog() =
    new ChunkCatalog(Files.createTempDirectory("graft_cat_"), cacheTtlMs = 0L)

  private val hourNs = 3600L * 1000000000L

  /** Number of live versioned manifest files (manifest.<n>.json). */
  private def manifestCount(dir: java.nio.file.Path): Long = {
    val s = Files.list(dir)
    try s.filter(p => p.getFileName.toString.matches("manifest\\.\\d+\\.json")).count()
    finally s.close()
  }

  private def chunk(path: String, minH: Long, maxH: Long, level: Int = 0) =
    ChunkMeta(path, minH * hourNs, maxH * hourNs + hourNs - 1, 1000, 1 << 20, level,
      columnStats = Map("metric_name" -> ColumnStats.ofString("cpu", "mem")))

  test("register + JSON roundtrip preserves chunks, stats, index") {
    val cat = freshCatalog()
    cat.register(chunk("a", 0, 0))
    cat.register(chunk("b", 1, 2))
    cat.invalidateCache()
    val st = cat.state
    assert(st.chunks.keySet == Set("a", "b"))
    assert(st.chunks("a").columnStats("metric_name").minString.contains("cpu"))
    // b spans hours 1-2 → indexed under both buckets
    assert(st.timeIndex(1L).contains("b") && st.timeIndex(2L).contains("b"))
  }

  test("error paths ported from the reference (tests/error_path_tests.rs:425-750)") {
    val cat = freshCatalog()
    // zero-timestamp, zero-row chunk registers and is retrievable (rs:425-454)
    cat.register(ChunkMeta("zero_ts.parquet", 0L, 0L, 0L, 0L))
    assert(cat.allChunks.exists(c => c.path == "zero_ts.parquet" &&
      c.minTimestampNs == 0L && c.rowCount == 0L))
    // duplicate path: second registration OVERWRITES (rs:457-499)
    cat.register(ChunkMeta("same.parquet", 0L, 1000L, 100L, 1024L))
    cat.register(ChunkMeta("same.parquet", 2000L, 3000L, 200L, 2048L))
    cat.invalidateCache()
    val same = cat.state.chunks("same.parquet")
    assert(same.minTimestampNs == 2000L && same.rowCount == 200L)
    // the overwritten (old-range) metadata no longer matches old-range queries
    assert(!cat.chunksInRange(500L, 900L).exists(_.path == "same.parquet"))
    assert(cat.chunksInRange(2500L, 2600L).exists(_.path == "same.parquet"))
    // single-source compaction swap: source removed, target remains (rs:599-648)
    cat.register(ChunkMeta("single_source.parquet", 0L, 1000L, 100L, 1024L))
    cat.replaceChunks(Seq("single_source.parquet"),
      Seq(ChunkMeta("target.parquet", 0L, 1000L, 100L, 1024L, level = 1)))
    cat.invalidateCache()
    assert(!cat.state.chunks.contains("single_source.parquet"))
    assert(cat.state.chunks.contains("target.parquet"))
    // removing a nonexistent path is a no-op (rs:409-422)
    val before = cat.allChunks.map(_.path).toSet
    cat.remove(Seq("never_existed.parquet"))
    cat.invalidateCache()
    assert(cat.allChunks.map(_.path).toSet == before)
    // empty/inverted time range yields no chunks (rs:277-308)
    assert(cat.chunksInRange(5000000L, 4000000L).isEmpty)
    // negative timestamps index and retrieve correctly (rs:121-128:
    // TimeRange supports negative ns; hourBucket floorDiv is negative-safe)
    cat.register(ChunkMeta("neg.parquet", -7200L * 1000000000L, -3600L * 1000000000L, 10L, 64L))
    assert(cat.chunksInRange(-7000L * 1000000000L, -6000L * 1000000000L)
      .exists(_.path == "neg.parquet"))
    assert(cat.chunksInRange(0L, 1000L).forall(_.path != "neg.parquet"))
  }

  test("chunksInRange: hour-bucket scan + overlap filter") {
    val cat = freshCatalog()
    cat.registerAll(Seq(chunk("h0", 0, 0), chunk("h5", 5, 5), chunk("h10", 10, 10)))
    assert(cat.chunksInRange(5 * hourNs, 6 * hourNs - 1).map(_.path) == Seq("h5"))
    assert(cat.chunksInRange(0, 11 * hourNs).map(_.path).toSet == Set("h0", "h5", "h10"))
    assert(cat.chunksInRange(2 * hourNs, 3 * hourNs).isEmpty)
  }

  test("replaceChunks is atomic: sources removed, target added, index updated") {
    val cat = freshCatalog()
    cat.registerAll(Seq(chunk("s1", 3, 3), chunk("s2", 3, 3)))
    cat.replaceChunks(Seq("s1", "s2"), Seq(chunk("merged", 3, 3, level = 1)))
    cat.invalidateCache()
    val st = cat.state
    assert(st.chunks.keySet == Set("merged"))
    assert(st.chunks("merged").level == 1)
    assert(st.timeIndex(3L) == List("merged"))
  }

  test("GC: grace period respected, ripe files deleted") {
    val cat = freshCatalog()
    val f = cat.root.resolve("dead.parquet")
    Files.write(f, Array[Byte](1, 2, 3))
    cat.deferDelete(Seq(f.toString), nowMs = 1000L, graceMs = 300000L)
    assert(cat.gc(nowMs = 2000L).isEmpty) // not ripe
    assert(Files.exists(f))
    assert(cat.gc(nowMs = 302000L) == Seq(f.toString)) // ripe
    assert(!Files.exists(f))
  }

  test("active splits flag drives dedup decision") {
    val cat = freshCatalog()
    assert(!cat.hasActiveSplit)
    cat.setActiveSplits(Seq("shard-1"))
    cat.invalidateCache()
    assert(cat.hasActiveSplit)
  }

  test("hour bucket arithmetic") {
    assert(ChunkCatalog.hourBucket(0L) == 0L)
    assert(ChunkCatalog.hourBucket(hourNs - 1) == 0L)
    assert(ChunkCatalog.hourBucket(hourNs) == 1L)
  }

  test("schema DDL roundtrips through the catalog; mergedSchema unions and bails on conflict") {
    val cat = freshCatalog()
    val ddlA = "ts BIGINT,metric_name STRING,host STRING"
    val ddlB = "ts BIGINT,metric_name STRING,region STRING"
    cat.register(ChunkMeta("a", 0, 1, 1, 1, schemaDdl = Some(ddlA)))
    cat.register(ChunkMeta("b", 0, 1, 1, 1, schemaDdl = Some(ddlB)))
    cat.invalidateCache()
    val st = cat.state
    assert(st.chunks("a").schemaDdl.contains(ddlA))
    // union keeps first-seen order, adds new columns, all nullable
    val merged = ChunkCatalog.mergedSchema(Seq(st.chunks("a"), st.chunks("b"))).get
    assert(merged.fieldNames.toSeq == Seq("ts", "metric_name", "host", "region"))
    assert(merged.fields.forall(_.nullable))
    // a chunk without stored schema → None (caller must footer-infer)
    assert(ChunkCatalog.mergedSchema(Seq(st.chunks("a"), ChunkMeta("c", 0, 1, 1, 1))).isEmpty)
    // type conflict → None, never a silent wrong schema
    val conflict = ChunkMeta("d", 0, 1, 1, 1, schemaDdl = Some("ts STRING"))
    assert(ChunkCatalog.mergedSchema(Seq(st.chunks("a"), conflict)).isEmpty)
  }

  test("rollup invalidation covers the [coverage, buildCutoff) gap — late backfill drops it") {
    import graft.catalog.RollupMeta
    val cat = freshCatalog()
    // aged rollup: coverage clamped at hour 20 by a live chunk with an old
    // minTs, but everything below the hour-25 age cutoff was folded in
    cat.register(chunk("live", 20, 48))
    cat.registerRollup(RollupMeta("/r/a", 3600L, Seq("h"),
      minBucketNs = Long.MinValue, maxCoveredNsExclusive = 20 * hourNs,
      rowCount = 10L, buildCutoffNs = 25 * hourNs))
    // ingest at recent timestamps (beyond the cutoff): rollup survives
    cat.register(chunk("recent", 50, 50))
    cat.invalidateCache()
    assert(cat.rollups.nonEmpty)
    // backfill landing INSIDE the gap [coverage end, build cutoff): such a
    // chunk is already "aged" by the extension's maxTs predicate, so it can
    // never be picked up as newly aged — registration must drop the rollup
    cat.register(chunk("backfill", 21, 23))
    cat.invalidateCache()
    assert(cat.rollups.isEmpty,
      "gap backfill must invalidate, else extended coverage undercounts")
  }

  test("sharded layout: commit writes shards under a manifest, readable by a fresh instance") {
    val dir = Files.createTempDirectory("graft_cat_")
    val cat = new ChunkCatalog(dir, cacheTtlMs = 0L, shardSpanHours = 24)
    // hours 0 and 1000 land in different 24-h shards
    cat.registerAll(Seq(chunk("a", 0, 0), chunk("b", 1000, 1000)))
    cat.setTableStat("stat", 7L)
    assert(manifestCount(dir) == 1, "exactly one live versioned manifest")
    assert(!Files.exists(dir.resolve("catalog.json")), "sharded layout has no legacy doc")
    val shardFiles = { val s = Files.list(dir.resolve("shards")); try s.count() finally s.close() }
    assert(shardFiles == 2, s"expected one file per touched 24-h shard, got $shardFiles")
    // a fresh instance reassembles the identical state from manifest + shards
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    assert(fresh.allChunks.map(_.path) == Seq("a", "b"))
    assert(fresh.tableStat("stat").contains(7L))
    assert(fresh.chunksInRange(1000 * hourNs, 1001 * hourNs).map(_.path) == Seq("b"))
  }

  test("sharded layout: legacy catalog.json is read and migrated on first mutation") {
    val dir = Files.createTempDirectory("graft_cat_")
    // hand-write a legacy single-document catalog (the pre-shard format)
    val legacy = ChunkCatalog.CatalogState(1L,
      Map("old1" -> chunk("old1", 0, 0), "old2" -> chunk("old2", 30, 30)),
      scala.collection.immutable.TreeMap(0L -> List("old1"), 30L -> List("old2")),
      Nil, Nil)
    Files.write(dir.resolve("catalog.json"),
      ChunkCatalog.render(legacy).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val cat = new ChunkCatalog(dir, cacheTtlMs = 0L)
    // read path works before any mutation
    assert(cat.allChunks.map(_.path) == Seq("old1", "old2"))
    // first mutation migrates: shards + manifest written, legacy doc removed
    cat.register(chunk("new", 50, 50))
    assert(manifestCount(dir) == 1)
    assert(!Files.exists(dir.resolve("catalog.json")))
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    assert(fresh.allChunks.map(_.path) == Seq("new", "old1", "old2"))
    assert(fresh.chunksInRange(30 * hourNs, 31 * hourNs).map(_.path) == Seq("old2"))
  }

  test("sharded layout: manifest rename is the commit point — orphan shard files are never read") {
    val dir = Files.createTempDirectory("graft_cat_")
    val cat = new ChunkCatalog(dir, cacheTtlMs = 0L)
    cat.register(chunk("committed", 0, 0))
    // simulate a crash AFTER shard writes but BEFORE the manifest rename:
    // a newer-version shard file exists that no manifest references
    Files.write(dir.resolve("shards").resolve("chunks-0.999.json"),
      ChunkCatalog.renderShard(Map("phantom" -> chunk("phantom", 0, 0)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(dir.resolve("shards").resolve("chunks-42.999.json"),
      ChunkCatalog.renderShard(Map("phantom2" -> chunk("phantom2", 1008, 1008)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    assert(fresh.allChunks.map(_.path) == Seq("committed"),
      "loads must resolve files strictly through the manifest")
  }

  test("sharded layout: re-registering a path in a different hour moves it across shards") {
    val dir = Files.createTempDirectory("graft_cat_")
    val cat = new ChunkCatalog(dir, cacheTtlMs = 0L, shardSpanHours = 24)
    cat.register(chunk("mover", 0, 0))
    cat.register(chunk("mover", 1000, 1000)) // same path, different shard
    assert(cat.allChunks.map(_.path) == Seq("mover"))
    assert(cat.chunksInRange(0, hourNs - 1).isEmpty, "old-shard copy must be gone")
    assert(cat.chunksInRange(1000 * hourNs, 1001 * hourNs).map(_.path) == Seq("mover"))
    // fresh reload must agree — a stale copy left in the old shard would make
    // assembly order-dependent
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    assert(fresh.allChunks.map(_.path) == Seq("mover"))
    assert(fresh.chunksInRange(0, hourNs - 1).isEmpty)
    // the emptied shard's file is dropped from disk and manifest
    val files = { val s = Files.list(dir.resolve("shards")); try s.count() finally s.close() }
    assert(files == 1)
  }

  test("sharded layout: a foreign writer's commit is visible after cache revalidation") {
    val dir = Files.createTempDirectory("graft_cat_")
    val writer = new ChunkCatalog(dir, cacheTtlMs = 0L)
    val reader = new ChunkCatalog(dir, cacheTtlMs = 0L)
    writer.register(chunk("w1", 0, 0))
    assert(reader.allChunks.map(_.path) == Seq("w1"))
    writer.register(chunk("w2", 48, 48))
    writer.deferDelete(Seq("/gone"), nowMs = 0L)
    assert(reader.allChunks.map(_.path) == Seq("w1", "w2"))
    assert(reader.state.pendingDeletes.map(_._1) == List("/gone"))
    // and a reader-side mutation starts from the freshest on-disk state
    reader.register(chunk("r1", 72, 72))
    writer.invalidateCache()
    assert(writer.allChunks.map(_.path) == Seq("r1", "w1", "w2"))
  }

  test("manifest CAS: concurrent writers on separate instances lose no updates") {
    // The reference commits its document by ETag CAS (s3.rs:181-339); the
    // sharded layout commits by hard-linking manifest.<N+1>.json. N writers —
    // each its own instance, nothing shared in memory — race registrations
    // into the SAME 24-h shard (max filename contention) and into distinct
    // shards; every chunk must survive. groupCommit = false: this test pins
    // the RAW cross-process CAS protocol (the r10 group committer would
    // coalesce same-JVM writers — covered by its own test below).
    val dir = Files.createTempDirectory("graft_cat_cas_")
    val n = 8
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        val cat = new ChunkCatalog(dir, cacheTtlMs = 0L, groupCommit = false)
        start.await()
        try {
          cat.register(chunk(s"same-shard-$i", 0, 0))
          cat.register(chunk(s"own-shard-$i", (i + 1) * 100L, (i + 1) * 100L))
          cat.deferDelete(Seq(s"/pending-$i"), nowMs = 0L, graceMs = 3600000L)
        } catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(60000))
    assert(errors.isEmpty, s"CAS retries must absorb all conflicts: $errors")
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    val paths = fresh.allChunks.map(_.path).toSet
    assert(paths == (0 until n).flatMap(i =>
      Seq(s"same-shard-$i", s"own-shard-$i")).toSet, "no commit may be lost")
    assert(fresh.state.pendingDeletes.map(_._1).toSet ==
      (0 until n).map(i => s"/pending-$i").toSet)
    assert(fresh.state.version >= 3L * n, "every mutation advanced the version")
    assert(manifestCount(dir) == 1, "superseded manifests cleaned up")
    // shard content must match the assembled view when re-read cold
    assert(fresh.chunksInRange(0, hourNs - 1).map(_.path).toSet ==
      (0 until n).map(i => s"same-shard-$i").toSet)
  }

  test("group commit: same-JVM herd coalesces into few CAS links, every " +
    "mutation's effect and result survive, caches stay coherent") {
    // r10 (VERDICT "Next round #7"): 8 threads × 25 registrations through
    // DIFFERENT instances on one root — the fan-in of one ingester node's
    // flush threads. The per-root GroupCommitter must lose nothing and keep
    // every participant's cache coherent. How far a barrier-released round
    // coalesces depends on thread wake-up timing (130-176 commits for 200
    // mutations were read under load), so the amount of coalescing is pinned
    // in graft.catalog.GroupCommitSpec instead, which holds the first leader
    // until the round's other ops are queued: exactly 2 commits per round.
    val dir = Files.createTempDirectory("graft_cat_group_")
    val seed = new ChunkCatalog(dir, cacheTtlMs = 0L)
    seed.register(chunk("seed", 0, 0))
    val v0 = seed.state.version
    val n = 8
    val rounds = 25
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val cats = (0 until n).map(_ => new ChunkCatalog(dir, cacheTtlMs = 0L))
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        try (0 until rounds).foreach { j =>
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          cats(i).register(chunk(s"grp-$i-$j", (i * rounds + j).toLong, (i * rounds + j).toLong))
        } catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"group commit must absorb all contention: $errors")
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    val paths = fresh.allChunks.map(_.path).filter(_.startsWith("grp-")).toSet
    assert(paths.size == n * rounds, s"lost updates: ${n * rounds - paths.size}")
    val commits = fresh.state.version - v0
    assert(commits >= rounds && commits <= n.toLong * rounds,
      s"version must advance once per GROUP: $commits")
    // every participant's cache already reflects a committed store that
    // contains its own writes (no stale read-your-writes)
    (0 until n).foreach { i =>
      assert(cats(i).state.chunks.contains(s"grp-$i-${rounds - 1}"),
        s"instance $i cache missing its own last write")
    }
    // the committer stays usable after the herd drains
    seed.register(chunk("post-group", 5000, 5000))
    assert(new ChunkCatalog(dir, cacheTtlMs = 0L).state.chunks.contains("post-group"))
  }

  test("group commit, two instances on one root: after a write returns, the " +
    "writing instance's state.version is at least its commit's version") {
    // A pin, not a reproducer: it passes on the older plain-assignment
    // handoff too, because the race window sits inside offerCached.
    // A follower's op is committed by the OTHER instance's leader, which hands
    // the committed store to the follower's cache through the version guard,
    // so neither a racing reload on the follower (readers below keep reloading
    // both instances) nor an invalidation may leave the follower serving its
    // pre-commit state. The long TTL makes `state` a pure cache read, so any
    // pre-commit store left behind would show.
    val dir = Files.createTempDirectory("graft_cat_follow_")
    val cats = Seq.fill(2)(new ChunkCatalog(dir, cacheTtlMs = 3600000L))
    val rounds = 20
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reloaders = cats.map(cat => new Thread(() =>
      while (!stop.get()) { cat.invalidateCache(); cat.state; Thread.`yield`() }))
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val writers = (0 until 4).map { w =>
      val cat = cats(w % 2)
      new Thread(() => {
        try (0 until rounds).foreach { j =>
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          val before = cat.state.version
          val c = chunk(s"follow-$w-$j", (w * rounds + j).toLong, (w * rounds + j).toLong)
          cat.register(c)
          // the commit is at a version > before; the chunk is in it and in
          // every later version (nothing removes it)
          val st = cat.state
          if (st.version < before + 1 || !st.chunks.contains(c.path))
            errors.add(s"writer $w round $j: read version ${st.version} (before $before) " +
              s"without its own commit")
        } catch { case e: Throwable => errors.add(s"writer $w: $e") }
      })
    }
    (reloaders ++ writers).foreach(_.start())
    writers.foreach(_.join(120000))
    stop.set(true)
    reloaders.foreach(_.join(10000))
    assert(errors.isEmpty, errors.toString)
    val fresh = new ChunkCatalog(dir, cacheTtlMs = 0L)
    assert(fresh.allChunks.count(_.path.startsWith("follow-")) == 4 * rounds)
    cats.foreach(_.invalidateCache())
    assert(cats.forall(_.state.version == fresh.state.version))
  }

  test("replaceChunks flags a rollup stale when a rewrite crosses its age boundary") {
    import graft.catalog.RollupMeta
    val cat = freshCatalog()
    val rolled = chunk("old", 0, 2)        // maxTs < cutoff: folded into the rollup
    val live = chunk("new", 40, 48)        // maxTs >= cutoff: not rolled
    cat.registerAll(Seq(rolled, live))
    cat.registerRollup(RollupMeta("/r/b", 3600L, Seq("h"),
      minBucketNs = Long.MinValue, maxCoveredNsExclusive = 25 * hourNs,
      rowCount = 3L, buildCutoffNs = 25 * hourNs))
    // a rewrite of SAME-side chunks keeps the rollup extendable
    cat.replaceChunks(Seq("new"), Seq(chunk("new2", 40, 48, level = 1)))
    cat.invalidateCache()
    assert(!cat.rollups.head.staleForExtension)
    // a merge folding a rolled chunk and an unrolled chunk into one output
    // poisons the maxTs-vs-cutoff classification → flagged, never dropped
    // (serving stays exact; only incremental extension must rebuild)
    cat.replaceChunks(Seq("old", "new2"), Seq(chunk("merged", 0, 48, level = 2)))
    cat.invalidateCache()
    assert(cat.rollups.head.staleForExtension)
    // the flag also survives a JSON round-trip
    val reparsed = ChunkCatalog.parse(ChunkCatalog.render(cat.state))
    assert(reparsed.rollups.head.staleForExtension)
    // splitting a live chunk BELOW the cutoff also flags: the aged-looking
    // half carries never-rolled rows that would otherwise escape extension
    val cat2 = freshCatalog()
    cat2.register(chunk("span", 10, 48))
    cat2.registerRollup(RollupMeta("/r/c", 3600L, Seq("h"),
      minBucketNs = Long.MinValue, maxCoveredNsExclusive = 10 * hourNs,
      rowCount = 3L, buildCutoffNs = 25 * hourNs))
    cat2.replaceChunks(Seq("span"),
      Seq(chunk("lo", 10, 20, level = 1), chunk("hi", 26, 48, level = 1)))
    cat2.invalidateCache()
    assert(cat2.rollups.head.staleForExtension)
  }

  test("incremental diff assembly == cold load after every mutation kind") {
    val dir = Files.createTempDirectory("graft_cat_diff_")
    val writer = new ChunkCatalog(dir, cacheTtlMs = 0L)
    // reader with a long TTL BUT explicit revalidation via the writer's own
    // mutations is what exercises the diff path (ttl=0 re-diffs every read)
    val reader = new ChunkCatalog(dir, cacheTtlMs = 0L)
    def check(): Unit = {
      val cold = new ChunkCatalog(dir, cacheTtlMs = 0L).state // fresh: full assemble
      val inc = reader.state // diff from reader's prior cached store
      assert(inc.version == cold.version)
      assert(inc.chunks == cold.chunks, "chunks diverge from cold load")
      assert(inc.timeIndex.keySet == cold.timeIndex.keySet, "hour keys diverge")
      inc.timeIndex.foreach { case (h, paths) =>
        assert(paths.toSet == cold.timeIndex(h).toSet, s"hour $h members diverge")
      }
      assert(inc.pendingDeletes.toSet == cold.pendingDeletes.toSet)
      assert(inc.rollups == cold.rollups)
    }
    writer.register(chunk("w_a", 0, 0)); check()
    writer.registerAll(Seq(chunk("w_b", 1, 2), chunk("w_c", 50, 52))); check()
    // multi-hour spanning chunk in a far shard
    writer.register(chunk("w_span", 100, 130)); check()
    // replace across shards (compaction shape)
    writer.replaceChunks(Seq("w_a", "w_b"), Seq(chunk("w_m", 0, 2, level = 1))); check()
    writer.deferDelete(Seq("w_a", "w_b"), nowMs = 0L, graceMs = 0L); check()
    writer.gc(nowMs = 1L); check()
    writer.remove(Seq("w_span")); check()
    // re-register same path in a DIFFERENT hour (cross-shard move)
    writer.register(chunk("w_c", 200, 201)); check()
  }

  test("time travel: manifestRetain keeps a window of versions, stateAt " +
    "reassembles each exactly, eviction past the window, shard files survive " +
    "while referenced") {
    val root = Files.createTempDirectory("graft_tt_")
    val cat = new ChunkCatalog(root, cacheTtlMs = 0L, manifestRetain = 3)
    val seen = scala.collection.mutable.Map[Long, Set[String]]()
    (0 until 6).foreach { i =>
      cat.register(chunk(s"tt_$i", i * 2L, i * 2L + 1))
      seen(cat.state.version) = cat.state.chunks.keySet.toSet
    }
    val versions = cat.versionsAvailable
    assert(versions.size == 4, s"retain 3 + current, got $versions") // window
    // each retained version reassembles to exactly the chunk set it committed
    versions.foreach { v =>
      assert(cat.stateAt(v).chunks.keySet == seen(v), s"version $v drifted")
      assert(cat.stateAt(v).version == v)
    }
    // a pre-window version is gone (NoSuchFile), not served stale
    val evicted = seen.keys.min
    assert(!versions.contains(evicted))
    intercept[java.nio.file.NoSuchFileException](cat.stateAt(evicted))
    // a remove is also time-travelable: the old version still sees the chunk
    val before = cat.state.version
    cat.remove(Seq("tt_5"))
    assert(!cat.state.chunks.contains("tt_5"))
    assert(cat.stateAt(before).chunks.contains("tt_5"))
    // retention off (default) keeps today's single-manifest behavior
    val plain = freshCatalog()
    plain.register(chunk("p_a", 0, 1))
    plain.register(chunk("p_b", 2, 3))
    assert(plain.versionsAvailable.size == 1)
  }
}
