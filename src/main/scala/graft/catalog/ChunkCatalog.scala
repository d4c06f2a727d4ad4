package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Column zone-map stats: min/max as strings with a type tag, mirroring the reference's
  * ColumnStatistics (src/metadata/s3.rs:84-127). Values are stored as JSON scalars
  * (string / long / double) — we keep them as typed options.
  */
final case class ColumnStats(
    minString: Option[String] = None,
    maxString: Option[String] = None,
    minLong: Option[Long] = None,
    maxLong: Option[Long] = None,
    minDouble: Option[Double] = None,
    maxDouble: Option[Double] = None,
    hasNulls: Boolean = false)

object ColumnStats {
  def ofString(min: String, max: String, hasNulls: Boolean = false): ColumnStats =
    ColumnStats(minString = Some(min), maxString = Some(max), hasNulls = hasNulls)
  def ofLong(min: Long, max: Long, hasNulls: Boolean = false): ColumnStats =
    ColumnStats(minLong = Some(min), maxLong = Some(max), hasNulls = hasNulls)
  def ofDouble(min: Double, max: Double, hasNulls: Boolean = false): ColumnStats =
    ColumnStats(minDouble = Some(min), maxDouble = Some(max), hasNulls = hasNulls)
}

/** Extended chunk metadata, mirroring ChunkMetadataExtended
  * (reference src/ingester/mod.rs:834-842 + src/metadata/s3.rs:84-127):
  * base fields + per-column zone maps + compaction level + optional shard id.
  * Timestamps are raw nanoseconds (the reference's unit).
  */
final case class ChunkMeta(
    path: String,
    minTimestampNs: Long,
    maxTimestampNs: Long,
    rowCount: Long,
    sizeBytes: Long,
    level: Int = 0,
    shardId: Option[String] = None,
    columnStats: Map[String, ColumnStats] = Map.empty,
    schemaDdl: Option[String] = None,
    // Level-0 flush provenance of a REWRITTEN chunk (compaction merge, shard-split
    // half): the original flush paths whose rows this chunk now carries,
    // flattened transitively so it always names L0 flushes. Empty for original
    // flushes. Lets a live tail (LiveMerge.CatalogTail) tell which flushes a
    // rewrite subsumed, so a flush that was compacted away between polls is
    // still delivered exactly once. Bounded: compaction groups within an hour
    // partition, so a chunk's provenance is that partition's flush count.
    sourcePaths: Seq[String] = Nil) {

  def overlaps(startNs: Long, endNs: Long): Boolean =
    minTimestampNs <= endNs && maxTimestampNs >= startNs
}

/** A materialized mergeable rollup registered in the catalog (the engine-side
  * completion of the reference's configured-but-unimplemented
  * `downsample_after_days`, src/compactor/mod.rs:70-91): a parquet table of
  * (time_bucket, metric_name, labels..., sum/min/max/sample_count/value_count)
  * at `resolutionSeconds`, covering raw timestamps in
  * [minBucketNs, maxCoveredNsExclusive). QueryEngine routes bucketed
  * aggregates whose step is a whole multiple of the resolution (and whose
  * range/columns the rollup covers) to this table instead of raw chunks.
  * Consistency invariant: registering any NEW raw chunk overlapping the
  * covered range drops the rollup (write-invalidation) — rewrites of existing
  * rows (compaction, splits, promotion) keep it, they move rows, not data.
  */
final case class RollupMeta(
    path: String,
    resolutionSeconds: Long,
    labelCols: Seq[String],
    minBucketNs: Long,
    maxCoveredNsExclusive: Long,
    rowCount: Long,
    // chunks with maxTimestampNs < buildCutoffNs are folded in — the boundary
    // an incremental extension merges FROM. MaxValue = "built over everything"
    // (the whole-warehouse rollup, and records persisted before this field).
    buildCutoffNs: Long = Long.MaxValue,
    // Set when a chunk rewrite (compaction/split) merged rows from BOTH sides
    // of buildCutoffNs into one chunk: the "newly aged since buildCutoffNs"
    // timestamp predicate can no longer distinguish already-rolled rows from
    // new ones, so the next coverage extension must be a FULL rebuild over all
    // aged chunks (incremental merge would double-count the rolled side).
    // Serving stays exact — rewrites move rows, not data — only the
    // incremental-extension shortcut is poisoned.
    staleForExtension: Boolean = false)

/** The catalog: {version, chunks, time_index} semantics of the reference's
  * unified document (src/metadata/s3.rs:104-116), persisted SHARDED.
  *
  * The reference keeps one JSON document committed by ETag compare-and-swap
  * (s3.rs:181-339). That design rewrites the whole document on every flush:
  * self-measured at 10⁶ chunks (100 TB ÷ ~100-500 MB chunks) a single
  * registration rewrote ~780 MB in ~30 s — the metadata write path became the
  * bottleneck of every flush/compaction/retention sweep. Here the chunk set is
  * split into hour-range shards (key = hourBucket(minTimestamp) / spanHours)
  * under a small versioned manifest:
  *
  *   manifest.<ver>.json            — commit point: shard list {key, ver, file,
  *                                    count} + the small fields (active splits,
  *                                    pending deletes, rollups, table stats)
  *   shards/chunks-<key>.<ver>-<nonce>.json — the chunks owned by one hour range
  *
  * A mutation writes only the touched shard files (under NEW uniquely-named
  * versions) and then COMPARE-AND-SWAP commits the manifest: the writer that
  * loaded version N hard-links its fully-written temp manifest to
  * `manifest.<N+1>.json` — link creation is atomic and fails with EEXIST if
  * any other writer committed N+1 first, in which case the mutation is
  * recomputed against the fresh state and retried with backoff. This is the
  * reference's ETag-CAS commit loop (s3.rs:181-339) on a filesystem: safe for
  * MULTIPLE writer processes sharing the directory (multi-driver maintenance),
  * all-or-nothing per mutation. Every mutation takes the same path: the
  * JVM-wide per-root [[ChunkCatalog.GroupCommitter]] chains the mutations
  * queued in this JVM and lands them as one CAS link ([[commitGroup]]); other
  * processes contend with it through the link alone. A crash after shard
  * writes but before the manifest link leaves unreferenced orphan files and a
  * fully consistent old catalog. Superseded manifest/shard files are deleted
  * after the commit (best-effort; orphans are never read because loads
  * resolve files strictly through the newest manifest, and a reader that
  * races the cleanup re-lists).
  *
  * The global hour-bucket time_index is derived in memory from the chunk set
  * (it is no longer persisted — it cannot diverge). Reads go through a TTL
  * cache (reference uses 60 s, s3.rs:427-450); revalidation compares the
  * manifest version and re-parses only shards whose version changed, so a
  * foreign writer costs proportional-to-delta, not proportional-to-catalog.
  */
final class ChunkCatalog(val root: Path, cacheTtlMs: Long = 60000L,
    // Time travel (Delta/Iceberg AS OF analog, flagged extension): keep this
    // many SUPERSEDED manifests on disk besides the current one; [[stateAt]]
    // reassembles any retained version. 0 (default) = today's delete-on-
    // supersede behavior, zero extra cost on the commit path. Data files are
    // covered separately by the GC grace window — an AS OF read older than
    // the grace may reference deleted parquet (documented bound).
    // EVERY writer instance on a warehouse must share this setting: a
    // retain=0 writer's post-commit cleanup deletes the manifests a
    // retain=N writer is keeping (the setting is a warehouse policy, not a
    // per-process preference).
    val manifestRetain: Int = 0) {

  import ChunkCatalog._

  private val shardDir = root.resolve("shards")
  // spent-version ledger: proof a version number was used, so GC'd manifests
  // can't be resurrected (see tryCommit). Kept bounded by SpentVersions floor
  // compaction — a floor file subsumes every marker at or below it.
  private val versionMarkers = root.resolve(".versions")
  private val lock = new Object
  // r13 (serve-tail audit): reader revalidation must NEVER wait behind a
  // writer's commit — commitGroup holds `lock` through delta evaluation,
  // shard/manifest writes AND the jittered CAS-retry sleeps (up to 128 ms
  // each), and the soak measured warm-serve p99 inheriting exactly those
  // stalls (zero-work L1 hits tailing at ~400 ms with idle cores and GC < 4%,
  // because their catalog TTL refresh queued behind commits).
  // Loads are read-only against atomically-committed manifests (readers
  // already tolerate racing deletions via the loadOrDiff spin), so they only
  // need to serialize against EACH OTHER (single-flight), not against
  // writers: a dedicated loadLock. `cached` updates go through a
  // version-guarded CAS so a reader's just-loaded older snapshot can never
  // overwrite a writer's newer post-commit one (the ordering the shared lock
  // used to provide).
  private val loadLock = new Object
  private val cacheGuard = new Object
  private def offerCached(ts: Long, st: Store): Unit = cacheGuard.synchronized {
    if (cached.forall(_._2.assembled.version <= st.assembled.version))
      cached = Some((ts, st))
  }

  // Store / Plan live in the companion (private[catalog]) so a group-commit
  // leader can evaluate deltas enqueued by OTHER instances on the same root.
  @volatile private[catalog] var cached: Option[(Long, Store)] = None

  Files.createDirectories(root)
  Files.createDirectories(shardDir)
  Files.createDirectories(versionMarkers)

  // --- reads ---------------------------------------------------------------

  def state: CatalogState = {
    val now = System.currentTimeMillis()
    cached match {
      case Some((ts, st)) if now - ts < cacheTtlMs => st.assembled
      case _ => revalidate().assembled
    }
  }

  def allChunks: Seq[ChunkMeta] = state.chunks.values.toSeq.sortBy(_.path)

  /** Hour-bucket range scan + [min,max] overlap — the "eliminates 99%+ of data" time
    * pruning (reference src/metadata/s3.rs:1083-1103).
    */
  def chunksInRange(startNs: Long, endNs: Long): Seq[ChunkMeta] =
    ChunkCatalog.chunksInRangeOf(state, startNs, endNs)

  /** True if any shard split is in a phase requiring query-time dedup
    * (reference has_active_split, src/metadata/client.rs:182-188).
    */
  def hasActiveSplit: Boolean = state.activeSplits.nonEmpty

  // --- writes (all through [[mutate]], manifest-link committed) -----------

  def register(chunk: ChunkMeta): Unit = registerAll(Seq(chunk))

  def registerAll(chunks: Seq[ChunkMeta]): Unit =
    // Write-invalidation: NEW raw data overlapping a rollup's covered range
    // makes it stale — drop it (re-materialize later). Chunk REWRITES
    // (compaction/split/promotion) go through replaceChunks and keep rollups.
    // The range checked extends to buildCutoffNs, not just the coverage end: a
    // late-arriving chunk landing in the gap [maxCoveredNsExclusive,
    // buildCutoffNs) is already "aged" by the extension's timestamp predicate
    // (maxTs < buildCutoffNs) so it would NEVER be picked up as newly aged —
    // when coverage later advances past it, the rollup would silently
    // undercount those buckets. Dropping forces a full rebuild that sees it.
    mutate(_ => Plan(Nil, chunks, st =>
      st.copy(rollups = st.rollups.filterNot(r =>
        chunks.exists(c =>
          c.minTimestampNs < math.max(r.maxCoveredNsExclusive, r.buildCutoffNs) &&
          c.maxTimestampNs >= r.minBucketNs))), ()))

  def rollups: Seq[RollupMeta] = state.rollups

  /** Register a materialized rollup (replaces any previous one at the same path). */
  def registerRollup(r: RollupMeta): Unit =
    mutate(_ => Plan(Nil, Nil, st =>
      st.copy(rollups = st.rollups.filterNot(_.path == r.path) :+ r), ()))

  def dropRollup(path: String): Unit =
    mutate(_ => Plan(Nil, Nil, st =>
      st.copy(rollups = st.rollups.filterNot(_.path == path)), ()))

  /** Atomically remove source chunks and add the compacted chunk — mirrors the
    * reference's single-CAS compaction swap (src/metadata/s3.rs:1277-1332).
    */
  def replaceChunks(removePaths: Seq[String], add: Seq[ChunkMeta]): Unit = mutate { s =>
    val removed = removePaths.toSet
    // Rewrites keep rollups (rows move, data doesn't) — but they can poison
    // the INCREMENTAL extension, which classifies chunks purely by
    // `maxTimestampNs` against the rollup's buildCutoffNs boundary:
    //  (b) a merge folding an already-rolled chunk (maxTs < cutoff) into an
    //      output with maxTs >= cutoff makes the rolled rows look "newly
    //      aged" when the output later ages → double-counted sums;
    //  (a) a rewrite moving never-rolled rows (source maxTs >= cutoff) into
    //      an output with maxTs < cutoff makes them look already-rolled →
    //      silently missing when coverage advances (e.g. splitting a live
    //      chunk below the cutoff).
    // Flag such rollups stale-for-extension: serving stays exact, but the
    // next coverage extension must be a full rebuild over all aged chunks.
    // The test is conservative (chunk bounds, not row provenance); a false
    // positive costs one full rebuild, never correctness.
    val removedMetas = s.assembled.chunks.view.filterKeys(removed).values.toList
    Plan(removePaths, add, st => st.copy(rollups = st.rollups.map { r =>
      val cut = r.buildCutoffNs
      def stale: Boolean = {
        val (rolledSrc, unrolledSrc) = removedMetas.partition(_.maxTimestampNs < cut)
        (unrolledSrc.nonEmpty && add.exists(_.maxTimestampNs < cut)) ||
          (rolledSrc.nonEmpty && add.exists(_.maxTimestampNs >= cut))
      }
      if (cut != Long.MaxValue && !r.staleForExtension && stale)
        r.copy(staleForExtension = true)
      else r
    }), ())
  }

  /** Remove chunks (retention/GC path). Unlike compaction/split rewrites this
    * DELETES rows, so any rollup whose coverage overlaps a removed chunk is
    * dropped — it would otherwise keep serving the deleted data.
    */
  def remove(paths: Seq[String]): Unit = mutate { s =>
    // ONE atomic commit, and the removed metas come from the freshly-validated
    // state the commit is CAS'd against — a stale snapshot could miss a chunk
    // another writer registered, leaving a rollup serving deleted rows; and a
    // crash between two separate mutations must not strand the catalog with
    // chunks gone but the overlapping rollup kept.
    val removed = paths.toSet
    val removedMetas = s.assembled.chunks.view.filterKeys(removed).values.toList
    Plan(paths, Nil, st =>
      st.copy(rollups = st.rollups.filterNot(r =>
        removedMetas.exists(c => c.minTimestampNs < r.maxCoveredNsExclusive &&
          c.maxTimestampNs >= r.minBucketNs))), ())
  }

  def setActiveSplits(splits: Seq[String]): Unit =
    mutate(_ => Plan(Nil, Nil, _.copy(activeSplits = splits.toList), ()))

  /** Named numeric table statistics (e.g. the range-join median interval
    * length, derived once at write/compact time instead of per-query — see
    * Operators.rangeJoinAuto). Stats are advisory: a stale value can only
    * change performance, never results, so writes are cheap overwrite.
    */
  def setTableStat(name: String, value: Long): Unit =
    mutate(_ => Plan(Nil, Nil, st =>
      st.copy(tableStats = st.tableStats + (name -> value)), ()))

  def tableStat(name: String): Option[Long] = state.tableStats.get(name)

  /** Deletions deferred by a grace period (reference 5 min GC grace,
    * src/compactor/mod.rs:816-918). Entries are (path, deletableAfterMs).
    */
  def deferDelete(paths: Seq[String], nowMs: Long, graceMs: Long = 300000L): Unit =
    mutate(_ => Plan(Nil, Nil, st =>
      st.copy(pendingDeletes = st.pendingDeletes ++ paths.map(p => p -> (nowMs + graceMs))), ()))

  /** Physically delete files whose grace period elapsed; returns deleted paths.
    * Manifest-only mutation: the pending list lives in the manifest, so GC cost
    * no longer scales with catalog size.
    *
    * Two phases (r11, closes the r10 ADVICE stall): physical deletion runs
    * FIRST, outside every lock — the r10 form deleted inside the mutation,
    * holding this instance's `lock` for the seconds a recursive
    * parquet-directory delete can take, and a group-commit leader
    * synchronizing on that same lock while holding the JVM-wide per-root
    * leaderLock stalled every grouped flush on the root. The manifest
    * mutation that follows is pending-list-only (microseconds under the
    * lock) and routes through the same group commit as every mutation.
    * Safety: deletion is exists-checked idempotent, so a concurrent gc
    * double-delete is harmless, and a failed/crashed commit leaves the paths
    * pending for a later retry against already-deleted files. The mutation
    * drops only entries whose path THIS call deleted (matched by path +
    * ripe deadline), so a deferDelete racing between the phases is never
    * dropped undeleted.
    */
  def gc(nowMs: Long): Seq[String] = {
    // Revalidated read for the ripe-list snapshot: `state` may be up to
    // cacheTtlMs stale, and in a multi-instance deployment deletion
    // decisions acting on a stale pending list would be visible side
    // effects of old manifest state. Deletes stay safe regardless (paths
    // are UUID-unique, deletion is exists-checked idempotent), but the
    // fresh read keeps phase-1 anchored to the manifest as-committed.
    invalidateCache()
    val ripe = state.pendingDeletes.filter(_._2 <= nowMs).map(_._1)
    if (ripe.isEmpty) return Nil
    ripe.foreach { p =>
      val f = Paths.get(p)
      // chunks and rollups are parquet DIRECTORIES — delete recursively,
      // children first
      if (Files.exists(f)) {
        val walk = Files.walk(f)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(x => Files.deleteIfExists(x))
        finally walk.close()
      }
    }
    val ripeSet = ripe.toSet
    mutate { _ =>
      Plan(Nil, Nil, st => st.copy(pendingDeletes =
        st.pendingDeletes.filterNot { case (p, due) =>
          due <= nowMs && ripeSet(p)
        }), ())
    }
    ripe
  }

  /** Force the next read to revalidate against disk. The in-memory store is
    * kept so revalidation stays proportional to what actually changed.
    */
  def invalidateCache(): Unit = cacheGuard.synchronized {
    // MinValue/2, not MinValue: `now - ts` must not overflow back into "fresh".
    // Under cacheGuard: an unguarded read-modify-write racing offerCached
    // could put back the older store it read.
    cached = cached.map { case (_, st) => (Long.MinValue / 2, st) }
  }

  // --- internals -----------------------------------------------------------

  private def shardKeyOf(span: Int, c: ChunkMeta): Long =
    Math.floorDiv(hourBucket(c.minTimestampNs), span.toLong)

  /** Load-mutate-commit, always through the JVM-wide per-root
    * [[ChunkCatalog.GroupCommitter]]: whatever mutations are queued when a
    * leader takes over are chained (each delta evaluated against the previous
    * one's PROJECTED state — identical semantics to back-to-back commits) and
    * land as ONE manifest version / ONE CAS link ([[commitGroup]]).
    */
  private def mutate[A](delta: Store => Plan[A]): A =
    ChunkCatalog.committerFor(root)
      .run(this, delta.asInstanceOf[Store => Plan[Any]]).asInstanceOf[A]

  /** Leader body of a group commit: evaluate every queued delta against the
    * PREVIOUS delta's projected state (identical semantics to back-to-back
    * commits — a delta that inspects the store sees its predecessors'
    * effects), then CAS-commit the whole chain as one manifest version. On a
    * lost CAS the entire group re-evaluates against fresh state — the
    * reference's atomic-update loop (s3.rs:30-60,181-339), so a conflicting
    * foreign commit can never be clobbered. A delta that throws fails only ITS
    * caller (completed with the error, excluded from the chain). After a
    * successful commit every participating instance's cache gets the
    * committed store.
    */
  private[catalog] def commitGroup(ops: Seq[ChunkCatalog.PendingOp]): Unit =
    lock.synchronized {
      var active: Seq[ChunkCatalog.PendingOp] = ops
      var attempt = 0
      try {
        while (active.nonEmpty) {
          val s0 = freshStore()
          var s = s0
          val evaluated =
            scala.collection.mutable.ArrayBuffer[(ChunkCatalog.PendingOp, Plan[Any])]()
          active.foreach { op =>
            try {
              val plan = op.delta(s)
              s = foldPlan(s, plan)._1
              evaluated += ((op, plan))
            } catch { case scala.util.control.NonFatal(e) =>
              op.error = e; op.done.countDown() }
          }
          active = evaluated.map(_._1).toSeq
          if (active.isEmpty) return
          if (tryCommit(s0, evaluated.map(_._2).toSeq)) {
            evaluated.foreach { case (op, plan) =>
              // version-guarded: a plain assignment could race a follower
              // reader's offerCached and leave its pre-commit store behind
              if (op.cat ne this)
                this.cached.foreach { case (ts, st) => op.cat.offerCached(ts, st) }
              op.result = plan.result
              op.done.countDown()
            }
            return
          }
          // Lost the CAS to another writer. Do NOT invalidate the cache: the
          // next freshStore() diffs from the cached store, so the retry reads
          // the new manifest plus only the shards the winner touched (a full
          // cold reload per retry costs ~1.6 s at 10⁶ chunks). Our orphaned
          // shard files are invisible — loads only read what a manifest lists.
          attempt += 1
          if (attempt >= CasMaxRetries)
            throw new IllegalStateException(
              s"catalog commit: too many CAS conflicts ($attempt)")
          // FULL-jitter backoff: deterministic sleeps keep a herd of losers in
          // lockstep, re-colliding every round (the reference's S3 round-trip
          // latency jitters for free; a local FS needs it explicitly). The
          // window is sized to the ~8 ms critical section, capped at 128 ms.
          Thread.sleep(1L + java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(8L * (1L << math.min(attempt, 4))))
        }
      } catch { case e: Throwable =>
        // complete EVERY queued latch on ANY throwable — an InterruptedException
        // escaping here (backoff sleep, test-framework kill) would otherwise
        // leave followers blocked in op.done.await() forever; fatals are
        // re-thrown after the latches are released
        active.foreach { op =>
          if (op.done.getCount > 0) { op.error = e; op.done.countDown() }
        }
        if (!scala.util.control.NonFatal(e)) throw e
      }
    }

  /** Freshest store for a mutation: always consults the on-disk manifest (the
    * single-doc design reloaded the whole document here; the sharded design
    * pays one small manifest read plus changed shards only).
    */
  private def freshStore(): Store = {
    val st = loadOrDiff(cached.map(_._2))
    offerCached(System.currentTimeMillis(), st)
    st
  }

  // loadLock, NOT `lock`: see the declaration comment — readers single-flight
  // among themselves but never queue behind an in-flight commit.
  private def revalidate(): Store = loadLock.synchronized {
    val now = System.currentTimeMillis()
    cached match {
      case Some((ts, st)) if now - ts < cacheTtlMs => st
      case prior =>
        val st = loadOrDiff(prior.map(_._2))
        offerCached(now, st)
        st
    }
  }

  /** Newest committed manifest version on disk, 0 when none. */
  private def currentManifestVersion(): Long = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .flatMap(p => manifestVersionOf(p.getFileName.toString))
        .foldLeft(0L)(math.max)
    } finally s.close()
  }

  private def loadOrDiff(prior: Option[Store]): Store = {
    // A reader can race the post-commit cleanup: the manifest (or a shard
    // file) it resolved may be superseded and deleted before it reads it.
    // Deletion only ever happens AFTER a newer manifest committed, so
    // re-listing always converges on a fully-present newer version.
    var spins = 0
    while (true) {
      try return loadOnce(prior)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          spins += 1
          if (spins > 100) throw new IllegalStateException("catalog manifest unreadable")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def loadOnce(prior: Option[Store]): Store = {
    val ver = currentManifestVersion()
    if (ver == 0L) Store(ShardSpanHours, Map.empty, Map.empty, Map.empty, CatalogState.empty)
    else {
      val m = parseManifest(readUtf8(root.resolve(manifestFileName(ver))))
      prior match {
        case Some(s) if s.assembled.version == m.version => s
        case p => loadFromManifest(m, p)
      }
    }
  }

  private def loadFromManifest(m: Manifest, prior: Option[Store]): Store = {
    val reusable: Map[Long, Map[String, ChunkMeta]] = prior match {
      case Some(s) => m.shards.collect {
        case e if s.shardVers.get(e.key).contains(e.ver) && s.shards.contains(e.key) =>
          e.key -> s.shards(e.key)
      }.toMap
      case None => Map.empty
    }
    val toLoad = m.shards.filterNot(e => reusable.contains(e.key))
    // Cold load of a large catalog parses shards in parallel (a 10⁶-chunk
    // catalog is ~700 day-shards); revalidation after one foreign flush
    // parses exactly one.
    val loaded: Seq[(Long, Map[String, ChunkMeta])] =
      if (toLoad.size <= 1) toLoad.map(e => e.key -> parseShard(readUtf8(shardDir.resolve(e.file))))
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.traverse(toLoad)(e =>
          Future(e.key -> parseShard(readUtf8(shardDir.resolve(e.file))))), Duration.Inf)
      }
    val shards = reusable ++ loaded
    // Incremental re-assembly (r9): the full assemble() walks every chunk —
    // ~200 ms at 10⁶ — and a flush-sized commit touches ONE shard. With a
    // prior store, patch its assembled state by the changed shards' members
    // only: O(changed chunks), not O(catalog). Order inside timeIndex lists
    // is immaterial (chunksInRange sets+sorts; allChunks sorts).
    val assembled = prior match {
      case Some(s) =>
        val newKeys = m.shards.map(_.key).toSet
        val removedKeys = s.shards.keysIterator.filterNot(newKeys.contains)
        val changedKeys = toLoad.iterator.map(_.key)
        val oldMembers = (removedKeys ++ changedKeys).flatMap(s.shards.get).toSeq
        assembleDelta(s.assembled, m, oldMembers, loaded.map(_._2))
      case _ => assemble(m, shards)
    }
    Store(m.spanHours, m.shards.map(e => e.key -> e.ver).toMap,
      m.shards.map(e => e.key -> e.file).toMap, shards, assembled)
  }

  /** Patch a prior assembled state with the delta of changed shards: drop the
    * old members, add the new. A chunk unchanged inside a rewritten shard is
    * removed and re-added — same net state.
    */
  private def assembleDelta(prior: CatalogState, m: Manifest,
                            oldMembers: Seq[Map[String, ChunkMeta]],
                            newMembers: Seq[Map[String, ChunkMeta]]): CatalogState = {
    var chunks = prior.chunks
    oldMembers.foreach(mm => chunks = chunks -- mm.keysIterator)
    newMembers.foreach(mm => chunks = chunks ++ mm)
    var idx = prior.timeIndex
    oldMembers.iterator.flatMap(_.valuesIterator).foreach { c =>
      var b = hourBucket(c.minTimestampNs)
      val end = hourBucket(c.maxTimestampNs)
      while (b <= end) {
        idx.get(b).foreach { lst =>
          val nl = lst.filterNot(_ == c.path)
          idx = if (nl.isEmpty) idx - b else idx.updated(b, nl)
        }
        b += 1
      }
    }
    newMembers.iterator.flatMap(_.valuesIterator).foreach { c =>
      var b = hourBucket(c.minTimestampNs)
      val end = hourBucket(c.maxTimestampNs)
      while (b <= end) {
        idx = idx.updated(b, c.path :: idx.getOrElse(b, Nil))
        b += 1
      }
    }
    CatalogState(m.version, chunks, idx, m.activeSplits, m.pendingDeletes,
      m.rollups, m.tableStats)
  }

  private def assemble(m: Manifest, shards: Map[Long, Map[String, ChunkMeta]]): CatalogState = {
    val all = Map.newBuilder[String, ChunkMeta]
    shards.valuesIterator.foreach(all ++= _)
    val chunks = all.result()
    val idx = scala.collection.mutable.HashMap.empty[Long, List[String]]
    chunks.valuesIterator.foreach { c =>
      var b = hourBucket(c.minTimestampNs)
      val end = hourBucket(c.maxTimestampNs)
      while (b <= end) { idx(b) = c.path :: idx.getOrElse(b, Nil); b += 1 }
    }
    CatalogState(m.version, chunks, scala.collection.immutable.TreeMap.from(idx),
      m.activeSplits, m.pendingDeletes, m.rollups, m.tableStats)
  }

  /** Apply one plan to an in-memory store (no I/O): the state fold shared by
    * [[tryCommit]] and the group-commit delta chaining. Re-registering an
    * existing path OVERWRITES it (reference semantics,
    * tests/error_path_tests.rs:457-499) — the old meta may live in a
    * different shard and different index buckets, so it is removed first.
    * Returns the projected store (version NOT bumped — the commit bumps once
    * per group) and the shard keys the plan dirtied.
    */
  private def foldPlan(s: Store, p: Plan[_]): (Store, Set[Long]) = {
    val span = s.spanHours
    val removedMetas = (p.removePaths ++ p.add.map(_.path)).distinct
      .flatMap(s.assembled.chunks.get)
    var shards = s.shards
    var dirty = Set.empty[Long]
    removedMetas.foreach { c =>
      val k = shardKeyOf(span, c)
      shards = shards.updated(k, shards.getOrElse(k, Map.empty) - c.path)
      dirty += k
    }
    p.add.foreach { c =>
      val k = shardKeyOf(span, c)
      shards = shards.updated(k, shards.getOrElse(k, Map.empty) + (c.path -> c))
      dirty += k
    }
    var chunks = s.assembled.chunks -- removedMetas.map(_.path)
    var idx = removedMetas.foldLeft(s.assembled.timeIndex)(removeFromIndex)
    p.add.foreach { c => chunks += (c.path -> c); idx = addToIndex(idx, c) }
    val assembled = p.smallPatch(s.assembled.copy(chunks = chunks, timeIndex = idx))
    (s.copy(shards = shards, assembled = assembled), dirty)
  }

  /** Fold a group's plans into one state and try to commit it: write dirty
    * shard files under new uniquely-named versions, then hard-link the
    * manifest to the next version number — the atomic CAS commit point.
    * Returns false (after cleaning up its orphaned shard files) when another
    * writer committed that version first; the caller recomputes and retries.
    */
  private def tryCommit(s0: Store, plans: Seq[Plan[_]]): Boolean = {
    // chain every plan's fold; ONE version bump for the whole group
    var folded = s0
    var dirtyAcc = Set.empty[Long]
    plans.foreach { p =>
      val (s2, d) = foldPlan(folded, p)
      folded = s2; dirtyAcc ++= d
    }
    val version = s0.assembled.version + 1
    val assembled = folded.assembled.copy(version = version)
    val shards = folded.shards
    val (dropped, kept) = dirtyAcc.partition(k => shards.getOrElse(k, Map.empty).isEmpty)
    val nextShards = shards -- dropped
    val nextVers = (s0.shardVers -- dropped) ++ kept.map(_ -> version)

    // Shard file names carry a nonce: two writers racing the same version
    // must never write the same file name — the loser's content would
    // otherwise replace the winner's AFTER the winner's manifest committed.
    // Early-exit probe before the expensive part: rendering+writing shard
    // files is the dominant attempt cost (a 10⁶-chunk catalog's hour shard is
    // ~700 KB of JSON), and in an 8-writer herd 7 of 8 attempts lose. If the
    // manifest at our target version already exists, the race is decided —
    // one stat call instead of the full render. (Not a correctness gate: the
    // link + spent-marker below remain the authoritative CAS.)
    if (Files.exists(root.resolve(manifestFileName(version)))) return false
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val written = kept.map(k => k -> shardFileName(k, version, nonce)).toMap
    written.foreach { case (k, f) =>
      Files.write(shardDir.resolve(f),
        renderShard(nextShards(k)).getBytes(StandardCharsets.UTF_8))
    }
    val nextFiles = (s0.shardFiles -- dropped) ++ written
    val manifest = Manifest(version, s0.spanHours,
      nextVers.toSeq.sortBy(_._1).map { case (k, v) =>
        ShardEntry(k, v, nextFiles(k), nextShards(k).size)
      },
      assembled.activeSplits, assembled.pendingDeletes, assembled.rollups,
      assembled.tableStats)
    val tmp = root.resolve(s".manifest.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp, renderManifest(manifest).getBytes(StandardCharsets.UTF_8))

    // The commit is SpentVersions.linkFresh: {refuse a spent version number}
    // + {hard link} in one critical section. The refusal is what makes the
    // link sufficient — superseded manifests get DELETED, so a writer whose
    // listing lagged behind several commits could otherwise re-link an
    // already-used number (an acknowledged commit no reader resolves, max
    // version wins). Fusing the check INTO the link also means a successful
    // link is proof of commit: the previous link-then-mark split let a fast
    // successor spend our version before our own mark landed, making us
    // misread success as a conflict — and the "lost" path below then deleted
    // shard files the successor's manifest still referenced (see linkFresh's
    // scaladoc; observed via LeaseSpec's disjoint-CAS race, same protocol).
    val committed =
      try SpentVersions.linkFresh(versionMarkers, version,
        root.resolve(manifestFileName(version)), tmp)
      finally {
        try Files.deleteIfExists(tmp)
        catch { case scala.util.control.NonFatal(_) => () }
      }

    if (!committed) {
      // genuinely lost the CAS (our manifest never linked, so nothing can
      // reference our nonce-named shard files): remove the orphans
      try written.valuesIterator.foreach(f => Files.deleteIfExists(shardDir.resolve(f)))
      catch { case scala.util.control.NonFatal(_) => () }
      return false
    }

    // Post-commit cleanup: superseded manifest versions + shard files and
    // emptied shards. Failures leave orphans that are never read (loads
    // resolve strictly through the newest manifest). A version is marked
    // before deletion in case its committer crashed pre-marker, so it can
    // never be resurrected as a zombie.
    try {
      var v = version - 1 - math.max(0, manifestRetain)
      while (v > 0L && {
        SpentVersions.markSpent(versionMarkers, v)
        Files.deleteIfExists(root.resolve(manifestFileName(v)))
      }) v -= 1
      SpentVersions.compact(versionMarkers, version)
      if (manifestRetain <= 0)
        (kept ++ dropped).foreach { k =>
          s0.shardFiles.get(k).filterNot(f => written.get(k).contains(f)).foreach(old =>
            Files.deleteIfExists(shardDir.resolve(old)))
        }
      else
        // retained manifests may still reference the superseded shard files —
        // sweep by reference count over the manifests on disk instead, with an
        // age guard so a racing writer's just-written (not yet linked) shard
        // files survive
        sweepUnreferencedShards()
    } catch { case scala.util.control.NonFatal(_) => () }

    offerCached(System.currentTimeMillis(),
      Store(s0.spanHours, nextVers, nextFiles, nextShards, assembled))
    true
  }

  // --- time travel (manifestRetain > 0) -------------------------------------

  /** Manifest versions currently readable on disk, ascending (the newest is
    * the live catalog; the rest are AS OF targets). */
  def versionsAvailable: Seq[Long] = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .flatMap(p => manifestVersionOf(p.getFileName.toString))
        .toSeq.sorted
    } finally s.close()
  }

  /** The catalog as of a retained manifest `version` — a full reassembly of
    * that manifest's shard files (cold-load cost; AS OF reads are rare).
    * Throws NoSuchFileException when the version has been evicted from the
    * retention window. Chunk DATA files older than the GC grace window may be
    * gone even while the manifest is retained — the documented AS OF bound.
    */
  def stateAt(version: Long): CatalogState = {
    val m = parseManifest(readUtf8(root.resolve(manifestFileName(version))))
    val shards = m.shards.map(e =>
      e.key -> parseShard(readUtf8(shardDir.resolve(e.file)))).toMap
    assemble(m, shards)
  }

  /** Delete shard files referenced by NO manifest on disk. The 60 s age guard
    * protects a concurrent writer's freshly-written shard files whose
    * manifest link has not happened yet (its commit will reference them).
    */
  private def sweepUnreferencedShards(): Unit = {
    val referenced: Set[String] = versionsAvailable.flatMap { v =>
      try parseManifest(readUtf8(root.resolve(manifestFileName(v)))).shards.map(_.file)
      catch { case scala.util.control.NonFatal(_) => Nil } // racing eviction
    }.toSet
    val cutoff = System.currentTimeMillis() - 60000L
    val s = Files.list(shardDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filterNot(p => referenced.contains(p.getFileName.toString))
        .filter(p =>
          try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case scala.util.control.NonFatal(_) => false })
        .foreach(p => Files.deleteIfExists(p))
    } finally s.close()
  }

  private def readUtf8(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
}

object ChunkCatalog {

  /** Hours of chunk min-timestamps per shard of a new catalog. An existing
    * catalog keeps the span its manifest records.
    */
  private val ShardSpanHours = 24

  /** CAS conflicts one group commit absorbs before failing its callers
    * (reference uses 5, s3.rs:30). Full-jitter backoff makes progress
    * certain; the budget only bounds the unluckiest writer's wait.
    */
  private val CasMaxRetries = 10

  /** In-memory store: per-shard chunk maps + the assembled global view.
    * Authoritative only between revalidations — any writer (this instance or
    * a foreign process) may advance the on-disk version at any time; every
    * mutation re-validates against disk and CAS-commits. Companion-level
    * (not instance-nested) so a group-commit leader can evaluate deltas
    * enqueued by other instances on the same root.
    */
  private[catalog] final case class Store(
      spanHours: Int,
      shardVers: Map[Long, Long],
      shardFiles: Map[Long, String],
      shards: Map[Long, Map[String, ChunkMeta]],
      assembled: CatalogState)

  /** One mutation expressed as a delta against a fresh store: chunk paths to
    * remove, chunks to add, a patch over the small manifest fields, and the
    * caller-visible result.
    */
  private[catalog] final case class Plan[A](
      removePaths: Seq[String], add: Seq[ChunkMeta],
      smallPatch: CatalogState => CatalogState, result: A)

  /** A queued mutation awaiting a group commit: the enqueuing instance (its
    * cache gets the committed store), the delta, and a latch the leader
    * completes with either the plan's result or the error.
    */
  private[catalog] final class PendingOp(
      val cat: ChunkCatalog,
      val delta: Store => Plan[Any]) {
    @volatile var result: Any = _
    @volatile var error: Throwable = _
    val done = new java.util.concurrent.CountDownLatch(1)
  }

  /** JVM-wide per-root commit coalescer (r10 group commit): callers enqueue
    * their delta, then contend for leadership. The leader drains whatever is
    * queued at takeover — everything that arrived while the previous commit
    * was in flight — and lands the whole batch as ONE CAS link via
    * [[ChunkCatalog.commitGroup]]. Under fan-in of w writers the commit rate
    * therefore approaches one DISK commit per in-flight window regardless of
    * w, while each caller still observes exactly its own mutation's result.
    * Followers whose op was taken by an earlier leader skip the leader
    * section (their latch is already counted down).
    */
  private[catalog] final class GroupCommitter {
    private val queue = new java.util.concurrent.ConcurrentLinkedQueue[PendingOp]()
    private val leaderLock = new Object
    def run(cat: ChunkCatalog, delta: Store => Plan[Any]): Any = {
      val op = new PendingOp(cat, delta)
      queue.add(op)
      leaderLock.synchronized {
        if (op.done.getCount > 0) {
          val batch = scala.collection.mutable.ArrayBuffer[PendingOp]()
          var n = queue.poll()
          while (n != null) { batch += n; n = queue.poll() }
          if (batch.nonEmpty) cat.commitGroup(batch.toSeq)
        }
      }
      op.done.await()
      if (op.error != null) throw op.error
      op.result
    }
  }

  private val committers =
    new java.util.concurrent.ConcurrentHashMap[String, GroupCommitter]()

  /** The shared committer for a warehouse root (canonical path keyed). */
  private[catalog] def committerFor(root: Path): GroupCommitter =
    committers.computeIfAbsent(root.toAbsolutePath.normalize.toString,
      _ => new GroupCommitter)

  final case class CatalogState(
      version: Long,
      chunks: Map[String, ChunkMeta],
      timeIndex: scala.collection.immutable.TreeMap[Long, List[String]],
      activeSplits: List[String],
      pendingDeletes: List[(String, Long)],
      rollups: List[RollupMeta] = Nil,
      tableStats: Map[String, Long] = Map.empty)

  object CatalogState {
    val empty: CatalogState = CatalogState(1L, Map.empty,
      scala.collection.immutable.TreeMap.empty, Nil, Nil)
  }

  private[catalog] final case class ShardEntry(key: Long, ver: Long, file: String, count: Int)

  private[catalog] final case class Manifest(
      version: Long,
      spanHours: Int,
      shards: Seq[ShardEntry],
      activeSplits: List[String],
      pendingDeletes: List[(String, Long)],
      rollups: List[RollupMeta],
      tableStats: Map[String, Long])

  private[catalog] def shardFileName(key: Long, ver: Long, nonce: String): String =
    s"chunks-$key.$ver-$nonce.json"

  private[catalog] def manifestFileName(ver: Long): String = s"manifest.$ver.json"

  private[catalog] def manifestVersionOf(name: String): Option[Long] =
    if (name.startsWith("manifest.") && name.endsWith(".json"))
      name.stripPrefix("manifest.").stripSuffix(".json").toLongOption.filter(_ > 0L)
    else None

  /** Hour bucket of an ns timestamp (reference src/metadata/s3.rs:341-344). */
  def hourBucket(tsNs: Long): Long = Math.floorDiv(tsNs, 3600L * 1000000000L)

  /** [[ChunkCatalog.chunksInRange]] over an explicit state — shared by live
    * reads and AS OF reads over a retained manifest version. */
  def chunksInRangeOf(st: CatalogState, startNs: Long, endNs: Long): Seq[ChunkMeta] = {
    val candidatePaths = st.timeIndex
      .range(hourBucket(startNs), hourBucket(endNs) + 1)
      .valuesIterator.flatten.toSet
    candidatePaths.toSeq.sorted
      .flatMap(st.chunks.get)
      .filter(_.overlaps(startNs, endNs))
  }

  /** Tenant that owns a chunk, from its path layout: every write path is
    * `{root}/{tenant}/data/...` (ChunkWriter, Compactor, ShardSplit). Chunks
    * not under root or not following the layout belong to "default" — the
    * reference's implicit tenant (query() = query_for_tenant(sql, "default"),
    * src/query/mod.rs:153-156).
    */
  def tenantOf(root: Path, chunkPath: String): String =
    try {
      val rel = root.toAbsolutePath.normalize
        .relativize(Paths.get(chunkPath).toAbsolutePath.normalize)
      if (rel.getNameCount >= 2 && !rel.getName(0).toString.startsWith(".."))
        rel.getName(0).toString
      else "default"
    } catch { case scala.util.control.NonFatal(_) => "default" }

  /** Union schema of a chunk set from catalog-held DDL — None when any chunk
    * lacks a stored schema or two chunks disagree on a column's type (caller
    * falls back to mergeSchema footer inference). Field order: first seen.
    * Keeping the schema in metadata lets every read skip the distributed
    * parquet-footer inference job, the same way the reference serves schema
    * from its metadata store rather than from S3 object footers. Each
    * distinct DDL is parsed once: one writer's chunks share theirs.
    */
  def mergedSchema(chunks: Seq[ChunkMeta]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    if (chunks.isEmpty || chunks.exists(_.schemaDdl.isEmpty)) return None
    try {
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
      chunks.iterator.map(_.schemaDdl.get).distinct.foreach { ddl =>
        StructType.fromDDL(ddl).fields.foreach { f =>
          fields.get(f.name) match {
            case None => fields(f.name) = f.copy(nullable = true)
            case Some(prev) if prev.dataType != f.dataType => return None
            case _ => ()
          }
        }
      }
      Some(StructType(fields.values.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The one reader of a chunk set. With the catalog-held union schema
    * ([[mergedSchema]]) the read skips the distributed parquet-footer
    * inference job; mergeSchema (mirroring DataFusion's multi-path schema
    * inference) only for chunks registered without a stored schema. No chunk
    * ⇒ an empty frame with the default schema (engine.rs:189-205).
    */
  def readChunks(spark: org.apache.spark.sql.SparkSession,
                 chunks: Seq[ChunkMeta]): org.apache.spark.sql.DataFrame = {
    val paths = chunks.map(_.path)
    if (paths.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], graft.schema.MetricSchema.default)
    else mergedSchema(chunks).fold(spark.read.option("mergeSchema", "true").parquet(paths: _*))(
      spark.read.schema(_).parquet(paths: _*))
  }

  private def addToIndex(idx: scala.collection.immutable.TreeMap[Long, List[String]],
                         c: ChunkMeta): scala.collection.immutable.TreeMap[Long, List[String]] = {
    // A chunk spanning multiple hours is indexed under every bucket it touches,
    // so a range scan over buckets never misses it.
    val buckets = hourBucket(c.minTimestampNs) to hourBucket(c.maxTimestampNs)
    buckets.foldLeft(idx) { (i, b) =>
      val cur = i.getOrElse(b, Nil)
      if (cur.contains(c.path)) i else i.updated(b, c.path :: cur)
    }
  }

  /** Inverse of addToIndex, touching only the buckets the chunk spans — the
    * full-index sweep the single-doc design used would make every mutation
    * O(total buckets).
    */
  private def removeFromIndex(idx: scala.collection.immutable.TreeMap[Long, List[String]],
                              c: ChunkMeta): scala.collection.immutable.TreeMap[Long, List[String]] = {
    val buckets = hourBucket(c.minTimestampNs) to hourBucket(c.maxTimestampNs)
    buckets.foldLeft(idx) { (i, b) =>
      i.get(b) match {
        case None => i
        case Some(cur) =>
          val kept = cur.filterNot(_ == c.path)
          if (kept.isEmpty) i - b else if (kept eq cur) i else i.updated(b, kept)
      }
    }
  }

  // --- JSON (json4s ships with Spark) --------------------------------------

  private def statsToJson(s: ColumnStats): JObject = {
    def v(str: Option[String], l: Option[Long], d: Option[Double]): JValue =
      str.map(JString(_): JValue)
        .orElse(l.map(JLong(_): JValue))
        .orElse(d.map(JDouble(_): JValue))
        .getOrElse(JNull)
    JObject(
      "min" -> v(s.minString, s.minLong, s.minDouble),
      "max" -> v(s.maxString, s.maxLong, s.maxDouble),
      "has_nulls" -> JBool(s.hasNulls))
  }

  private def chunkToJson(c: ChunkMeta): JObject = JObject(
    "path" -> JString(c.path),
    "min_timestamp" -> JLong(c.minTimestampNs),
    "max_timestamp" -> JLong(c.maxTimestampNs),
    "row_count" -> JLong(c.rowCount),
    "size_bytes" -> JLong(c.sizeBytes),
    "level" -> JInt(c.level),
    "shard_id" -> c.shardId.map(JString(_): JValue).getOrElse(JNull),
    "schema_ddl" -> c.schemaDdl.map(JString(_): JValue).getOrElse(JNull),
    "source_paths" -> JArray(c.sourcePaths.map(JString(_): JValue).toList),
    "column_stats" -> JObject(c.columnStats.toList.sortBy(_._1).map {
      case (k, v) => k -> (statsToJson(v): JValue)
    }))

  private def rollupToJson(r: RollupMeta): JObject = JObject(
    "path" -> JString(r.path),
    "resolution_seconds" -> JLong(r.resolutionSeconds),
    "label_cols" -> JArray(r.labelCols.map(JString(_): JValue).toList),
    "min_bucket" -> JLong(r.minBucketNs),
    "max_covered_exclusive" -> JLong(r.maxCoveredNsExclusive),
    "row_count" -> JLong(r.rowCount),
    "build_cutoff" -> JLong(r.buildCutoffNs),
    "stale_extension" -> JBool(r.staleForExtension))

  private def smallFieldsJson(activeSplits: List[String],
      pendingDeletes: List[(String, Long)], rollups: List[RollupMeta],
      tableStats: Map[String, Long]): List[(String, JValue)] = List(
    "active_splits" -> JArray(activeSplits.map(JString(_): JValue)),
    "pending_deletes" -> JArray(pendingDeletes.map { case (p, t) =>
      JObject("path" -> JString(p), "after" -> JLong(t)): JValue
    }),
    "rollups" -> JArray(rollups.map(rollupToJson(_): JValue)),
    "table_stats" -> JObject(tableStats.toList.sortBy(_._1).map {
      case (k, v) => k -> (JLong(v): JValue)
    }))

  def renderShard(chunks: Map[String, ChunkMeta]): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "chunks" -> JObject(chunks.toList.sortBy(_._1).map {
        case (k, v) => k -> (chunkToJson(v): JValue)
      }))))

  private[catalog] def renderManifest(m: Manifest): String =
    JsonMethods.compact(JsonMethods.render(JObject(List[(String, JValue)](
      "format" -> JString("sharded-v1"),
      "version" -> JLong(m.version),
      "span_hours" -> JInt(m.spanHours),
      "shards" -> JArray(m.shards.map(e => JObject(
        "key" -> JLong(e.key),
        "ver" -> JLong(e.ver),
        "file" -> JString(e.file),
        "count" -> JInt(e.count)): JValue).toList)) ++
      smallFieldsJson(m.activeSplits, m.pendingDeletes, m.rollups, m.tableStats))))

  private def statsFromJson(j: JValue): ColumnStats = {
    def typed(v: JValue): (Option[String], Option[Long], Option[Double]) = v match {
      case JString(s) => (Some(s), None, None)
      case JLong(l) => (None, Some(l), None)
      case JInt(i) => (None, Some(i.toLong), None)
      case JDouble(d) => (None, None, Some(d))
      case JDecimal(d) => (None, None, Some(d.toDouble))
      case _ => (None, None, None)
    }
    val (mins, minl, mind) = typed(j \ "min")
    val (maxs, maxl, maxd) = typed(j \ "max")
    val nulls = (j \ "has_nulls") match { case JBool(b) => b; case _ => false }
    ColumnStats(mins, maxs, minl, maxl, mind, maxd, nulls)
  }

  private def long(j: JValue): Long = j match {
    case JLong(l) => l
    case JInt(i) => i.toLong
    case JDouble(d) => d.toLong
    case _ => 0L
  }

  private def chunkFromJson(path: String, j: JValue): ChunkMeta = {
    val stats = (j \ "column_stats") match {
      case JObject(sf) => sf.map { case (k, v) => k -> statsFromJson(v) }.toMap
      case _ => Map.empty[String, ColumnStats]
    }
    ChunkMeta(
      path = path,
      minTimestampNs = long(j \ "min_timestamp"),
      maxTimestampNs = long(j \ "max_timestamp"),
      rowCount = long(j \ "row_count"),
      sizeBytes = long(j \ "size_bytes"),
      level = long(j \ "level").toInt,
      shardId = (j \ "shard_id") match { case JString(s) => Some(s); case _ => None },
      columnStats = stats,
      schemaDdl = (j \ "schema_ddl") match { case JString(s) => Some(s); case _ => None },
      sourcePaths = (j \ "source_paths") match {
        case JArray(a) => a.collect { case JString(s) => s }
        case _ => Nil // catalogs written before provenance existed
      })
  }

  private def rollupsFromJson(doc: JValue): List[RollupMeta] = (doc \ "rollups") match {
    case JArray(a) => a.collect { case o: JObject =>
      RollupMeta(
        path = (o \ "path") match { case JString(s) => s; case _ => "" },
        resolutionSeconds = long(o \ "resolution_seconds"),
        labelCols = (o \ "label_cols") match {
          case JArray(ls) => ls.collect { case JString(s) => s }
          case _ => Nil
        },
        minBucketNs = long(o \ "min_bucket"),
        maxCoveredNsExclusive = long(o \ "max_covered_exclusive"),
        rowCount = long(o \ "row_count"),
        buildCutoffNs = (o \ "build_cutoff") match {
          case JNothing | JNull => Long.MaxValue // pre-field records
          case v => long(v)
        },
        staleForExtension = (o \ "stale_extension") match {
          case JBool(b) => b
          case _ => false // pre-field records
        })
    }
    case _ => Nil
  }

  private def smallFieldsFromJson(doc: JValue): (List[String], List[(String, Long)],
      List[RollupMeta], Map[String, Long]) = {
    val splits = (doc \ "active_splits") match {
      case JArray(a) => a.collect { case JString(s) => s }
      case _ => Nil
    }
    val pending = (doc \ "pending_deletes") match {
      case JArray(a) => a.collect { case o: JObject =>
        ((o \ "path") match { case JString(s) => s; case _ => "" }) -> long(o \ "after")
      }
      case _ => Nil
    }
    val tableStats = (doc \ "table_stats") match {
      case JObject(fields) => fields.map { case (k, v) => k -> long(v) }.toMap
      case _ => Map.empty[String, Long]
    }
    (splits, pending, rollupsFromJson(doc), tableStats)
  }

  def parseShard(json: String): Map[String, ChunkMeta] =
    (JsonMethods.parse(json) \ "chunks") match {
      case JObject(fields) => fields.map { case (path, j) => path -> chunkFromJson(path, j) }.toMap
      case _ => Map.empty
    }

  private[catalog] def parseManifest(json: String): Manifest = {
    val doc = JsonMethods.parse(json)
    val shards = (doc \ "shards") match {
      case JArray(a) => a.collect { case o: JObject =>
        ShardEntry(long(o \ "key"), long(o \ "ver"),
          (o \ "file") match { case JString(s) => s; case _ => "" },
          long(o \ "count").toInt)
      }
      case _ => Nil
    }
    val (splits, pending, rollups, tableStats) = smallFieldsFromJson(doc)
    Manifest(long(doc \ "version"), long(doc \ "span_hours").toInt, shards,
      splits, pending, rollups, tableStats)
  }
}
