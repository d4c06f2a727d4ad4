package graft.compact

import org.apache.spark.sql.SparkSession
import graft.catalog.{ChunkCatalog, ChunkMeta, ChunksAlreadyLeasedException, LeaseStore}
import graft.ingest.ChunkStats
import java.util.UUID

/** Leveled compaction as Spark batch jobs — mirrors the reference compactor
  * (src/compactor/mod.rs, src/compactor/merge.rs):
  *
  *  - L0 candidates: group L0 chunks by hour bucket of minTimestamp; compact groups
  *    with ≥ `l0FileThreshold` files (s3.rs:1188-1217; threshold 15 at mod.rs:84).
  *  - Leveled candidates: level-N chunks sorted by minTimestamp, greedily grouped up
  *    to the level's target size (s3.rs:1219-1263; targets mod.rs:84-97).
  *  - Merge = read group → sort by timestamp, then metric name (merge.rs:56-74)
  *    → write one chunk → atomic catalog swap with level = max(source levels)+1
  *    (s3.rs:1277-1332). Every sweep, one group or many, clustered or not, is
  *    one partitioned write job; zone maps come from the written footers
  *    (ChunkStats.fromFooters), as they do for ingest.
  *  - Retention: drop chunks wholly older than the cutoff (mod.rs:921-947).
  *
  * Scale posture: candidate groups are independent — a sweep hashes each group
  * (or z-bucket cell) to its own reducer, so no group ever needs more than the
  * level's target size in one task, and the sort is a within-partition sort.
  */
final class Compactor(
    spark: SparkSession,
    catalog: ChunkCatalog,
    l0FileThreshold: Int = 15,
    levelTargetBytes: Int => Long = Compactor.defaultLevelTargets,
    // Lease coordination for MULTIPLE compactor instances over one catalog
    // (reference CAS leases, src/metadata/s3.rs:1602-1647 + compactor usage
    // mod.rs:567-636). None = single-compactor deployment, no lease traffic.
    leases: Option[LeaseStore] = None,
    nodeId: String = "local",
    leaseRenewIntervalMs: Long = 120000L, // renew every 2 min, TTL 5 min
    // Z-order clustering of COLD output (Delta OPTIMIZE ZORDER analog): merges
    // landing at level >= clusterMinLevel sort by the Morton key of these
    // columns and range-split into ~clusterTargetBytes chunks, so zone maps
    // become tight rectangles in EVERY clustered column — a `host = ...`
    // predicate then prunes chunks/row-groups instead of reading the whole
    // time window. Default OFF: hot levels stay timestamp-sorted (live-merge
    // and rollup scans are time-ordered; clustering there would cost more in
    // re-sorts than it saves).
    clusterBy: Seq[String] = Nil,
    clusterTargetBytes: Long = 256L << 20,
    clusterMinLevel: Int = 2,
    // Cap the TIME span a leveled merge may cover (None = size-only greedy,
    // the reference behavior). Retention reclaims at this granularity — see
    // leveledCandidates.
    maxMergeSpanNs: Option[Long] = None) {

  /** Same compactor, different clustering key — used by adaptive-clustering
    * maintenance sweeps, which derive `clusterBy` per sweep from the
    * recommender instead of fixing it at construction. Every other knob
    * (thresholds, leases, span cap) carries over unchanged.
    */
  def withClusterBy(cols: Seq[String],
                    targetBytes: Long = clusterTargetBytes,
                    minLevel: Int = clusterMinLevel): Compactor =
    new Compactor(spark, catalog, l0FileThreshold, levelTargetBytes, leases,
      nodeId, leaseRenewIntervalMs, cols, targetBytes, minLevel, maxMergeSpanNs)

  /** Candidate groups skipped because another holder leased them or had
    * already compacted them (lease-mode observability, monotonic).
    */
  val leaseSkips = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Tenant of a chunk group (groups never span tenants by construction). */
  private def tenantOfGroup(group: Seq[ChunkMeta]): String =
    ChunkCatalog.tenantOf(catalog.root, group.head.path)

  /** L0: hour-bucketed groups with at least `l0FileThreshold` members.
    * Grouped per TENANT first: a merge must never coalesce two tenants'
    * rows into one chunk, or per-tenant query scoping (which is path-based)
    * would silently leak data across the boundary.
    */
  def l0Candidates(): Seq[Seq[ChunkMeta]] =
    catalog.allChunks.filter(_.level == 0)
      .groupBy(c => (ChunkCatalog.tenantOf(catalog.root, c.path),
        ChunkCatalog.hourBucket(c.minTimestampNs)))
      .values.toSeq
      .filter(_.size >= l0FileThreshold)
      .map(_.sortBy(_.minTimestampNs))
      .sortBy(_.head.minTimestampNs)

  /** Level N≥1: greedy size-bounded grouping of time-sorted chunks. With
    * [[maxMergeSpanNs]] set, a group also never grows past that TIME span —
    * leveled merges otherwise coalesce arbitrarily distant hours into one
    * chunk, and since retention only drops WHOLLY-expired chunks, merged
    * spans are the retention granularity: a chunk straddling the cutoff
    * lingers until its newest row expires. Bounding the span keeps expired
    * data reclaimable at the configured resolution (most valuable with
    * clusterBy, where the z-sort spreads time across the whole chunk).
    */
  def leveledCandidates(level: Int): Seq[Seq[ChunkMeta]] = {
    val target = levelTargetBytes(level)
    // per-tenant greedy packing (same cross-tenant-merge ban as l0Candidates)
    catalog.allChunks.filter(_.level == level)
      .groupBy(c => ChunkCatalog.tenantOf(catalog.root, c.path))
      .toSeq.sortBy(_._1).flatMap { case (_, chunks) =>
        val sorted = chunks.sortBy(_.minTimestampNs)
        val groups = Seq.newBuilder[Seq[ChunkMeta]]
        var cur = Vector.empty[ChunkMeta]
        var curBytes = 0L
        sorted.foreach { c =>
          val spanExceeded = maxMergeSpanNs.exists(span =>
            cur.nonEmpty && c.maxTimestampNs - cur.head.minTimestampNs > span)
          if (cur.nonEmpty && (curBytes + c.sizeBytes > target || spanExceeded)) {
            if (cur.size >= 2) groups += cur
            cur = Vector.empty; curBytes = 0L
          }
          cur :+= c; curBytes += c.sizeBytes
        }
        if (cur.size >= 2) groups += cur
        groups.result()
      }
  }

  /** Compact candidate groups: one sweep per tenant, each ONE Spark write job
    * (union scan tagged by group → hash-repartition on (group, z-bucket) →
    * partitionBy write) whose zone maps come from the written footers, then
    * a single atomic catalog swap.
    *
    * Why: per-group jobs make a sweep O(#groups) in driver job-scheduling — at
    * 100 TB a backlogged L0 can hold hundreds of ripe hour-groups, and the
    * per-job overhead (not the I/O) becomes the bottleneck. Batched, the sweep
    * reads every source once in one job regardless of group count; a group's
    * rows hash to one reducer per cell, so an unclustered group becomes
    * exactly one sorted chunk file. Failure granularity is the sweep, not the
    * group — the catalog swap is all-or-nothing either way.
    */
  def compactGroups(groups: Seq[Seq[ChunkMeta]]): Seq[ChunkMeta] = {
    require(groups.forall(_.nonEmpty), "empty compaction group")
    // one sweep PER TENANT: the sweep dir (and so every output chunk path)
    // carries the owning tenant — a single mixed sweep would stamp all
    // outputs "default" and break path-based tenant scoping
    groups.groupBy(tenantOfGroup).toSeq.sortBy(_._1).flatMap { case (_, gs) => sweep(gs) }
  }

  /** A group's merge output lands at level >= clusterMinLevel — cold data
    * worth paying the clustering sort for.
    */
  private def clusterEligible(g: Seq[ChunkMeta]): Boolean =
    g.map(_.level).max + 1 >= clusterMinLevel

  /** Per-cluster-column code normalization derived from the CATALOG zone maps
    * of the groups being merged — zero extra data passes: the stats were
    * collected when the sources were written. Missing stats fall back to the
    * full-domain default code (clustering quality degrades, correctness
    * can't — zone maps of the OUTPUT always store true raw min/max).
    */
  private def zNorms(groups: Seq[Seq[ChunkMeta]],
                     schema: org.apache.spark.sql.types.StructType)
      : Seq[graft.functions.ZOrderExpressions.ColumnNorm] = {
    import graft.functions.ZOrderExpressions._
    import org.apache.spark.sql.types.{StringType, LongType, IntegerType, DoubleType}
    val stats = groups.flatten.map(_.columnStats)
    clusterBy.map { c =>
      val s = stats.flatMap(_.get(c))
      schema.find(_.name == c).map(_.dataType) match {
        case Some(StringType) =>
          val mins = s.flatMap(_.minString)
          val maxs = s.flatMap(_.maxString)
          if (mins.isEmpty || maxs.isEmpty) Default
          else {
            val skip = commonPrefixBytes(mins.min, maxs.max)
            StringPrefix(skip, stringCode(mins.min, skip), stringCode(maxs.max, skip))
          }
        case Some(LongType | IntegerType) =>
          val mins = s.flatMap(_.minLong)
          val maxs = s.flatMap(_.maxLong)
          if (mins.isEmpty || maxs.isEmpty) Default else LongRange(mins.min, maxs.max)
        case Some(DoubleType) =>
          val mins = s.flatMap(_.minDouble)
          val maxs = s.flatMap(_.maxDouble)
          if (mins.isEmpty || maxs.isEmpty) Default else DoubleRange(mins.min, maxs.max)
        case _ => Default
      }
    }
  }

  /** One tenant's sweep. Groups eligible for clustering ([[clusterBy]] set,
    * output at level >= clusterMinLevel) sort by the Z-order key of
    * `clusterBy` and range-split (by z-prefix bucket) into
    * ~clusterTargetBytes chunks; every other group keeps the plain
    * single-chunk timestamp sort (z-bucket 0). Code norms come from catalog
    * stats, so clustering adds a shuffle column and a different sort key, not
    * extra passes. Each (group, z-bucket) cell becomes one chunk whose zone
    * maps are a tight rectangle in every clustered column, so equality/range
    * predicates on those columns prune at the CATALOG level, and the z-sort
    * inside each chunk tightens parquet row-group stats the same way.
    */
  private def sweep(groups: Seq[Seq[ChunkMeta]]): Seq[ChunkMeta] = {
    import org.apache.spark.sql.functions.{col, lit, when, shiftrightunsigned}
    import org.apache.spark.sql.GraftBridge
    val batchDir = catalog.root.resolve(
      s"${tenantOfGroup(groups.head)}/data/compacted/sweep=${UUID.randomUUID()}")
    val union = groups.zipWithIndex
      .map { case (g, i) => ChunkCatalog.readChunks(spark, g).withColumn("__grp", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val haveCols = clusterBy.nonEmpty && clusterBy.forall(union.schema.fieldNames.contains)
    val eligible = groups.zipWithIndex.collect {
      case (g, i) if haveCols && clusterEligible(g) => i
    }.toSet
    // z-prefix bucket count per group: enough ~clusterTargetBytes chunks to
    // cover the group's bytes, capped at 64 (2^6) buckets
    val bucketBits: Map[Int, Int] = groups.zipWithIndex.collect {
      case (g, i) if eligible(i) =>
        val n = math.max(1L, g.map(_.sizeBytes).sum / clusterTargetBytes)
        i -> math.min(6, 64 - java.lang.Long.numberOfLeadingZeros(n - 1) max 0)
    }.toMap
    // clustered groups sort by z (then time); plain groups keep time order
    val (zbCol, zSort) =
      if (eligible.isEmpty) (lit(0L), Nil)
      else {
        val zCol = GraftBridge.column(graft.functions.ZOrderExpressions.ZOrder64(
          clusterBy.map(c => GraftBridge.expression(col(c))),
          zNorms(eligible.toSeq.sorted.map(groups), union.schema)))
        // bucket = top b bits of the UNSIGNED curve position (the key is
        // sign-flipped for signed ORDER BY semantics — undo that first)
        val zUnsigned = zCol.bitwiseXOR(lit(Long.MinValue))
        val zb = bucketBits.foldLeft(lit(0L)) { case (acc, (i, b)) =>
          if (b == 0) acc
          else when(col("__grp") === i, shiftrightunsigned(zUnsigned, 64 - b)).otherwise(acc)
        }
        val isEligible = eligible.foldLeft(lit(false))((acc, i) => acc || (col("__grp") === i))
        (zb, Seq(when(isEligible, zCol).otherwise(col("timestamp_ns"))))
      }
    union.withColumn("__zb", zbCol)
      .repartition(col("__grp"), col("__zb"))
      .sortWithinPartitions(Seq(col("__grp"), col("__zb")) ++ zSort ++
        Seq(col("timestamp_ns"), col("metric_name")): _*)
      .write
      .partitionBy("__grp", "__zb")
      .option("compression", "zstd")
      .parquet(batchDir.toString)
    // path …/__grp=<i>/__zb=<j>
    val cells = ChunkStats.fromFooters(batchDir,
        org.apache.spark.sql.types.StructType(union.schema.fields.filterNot(_.name == "__grp")))
      .groupBy(_.path.split("/__grp=")(1).split("/")(0).toInt)
    val newMetas = groups.zipWithIndex.flatMap { case (g, i) =>
      cells.getOrElse(i, throw new IllegalStateException(s"missing sweep output for group $i"))
        .map(_.copy(level = g.map(_.level).max + 1, sourcePaths = Compactor.l0Provenance(g)))
    }
    val oldPaths = groups.flatten.map(_.path)
    catalog.replaceChunks(oldPaths, newMetas)
    // Old files go through grace-period GC rather than immediate delete
    // (reference 5-min grace, mod.rs:816-918).
    catalog.deferDelete(oldPaths, System.currentTimeMillis())
    newMetas
  }

  /** One compaction sweep: all ripe L0 groups, then each populated level. Each
    * level's groups compact as ONE batched write job (see compactGroups) — the
    * reference instead caps at 4 concurrent per-group merges (mod.rs:174); the
    * batched sweep subsumes that concurrency inside a single Spark job.
    */
  def runOnce(maxLevels: Int = 3, concurrency: Int = 4): Seq[ChunkMeta] = {
    val l0 = compactLeased(l0Candidates(), 0)
    val leveled = (1 to maxLevels).flatMap(l => compactLeased(leveledCandidates(l), l))
    l0 ++ leveled
  }

  /** Lease-guarded sweep of one level's candidate groups. Without a lease
    * store this is compactGroups directly. With one: each group is acquired
    * first — a ChunksAlreadyLeased refusal means another compactor owns it,
    * so the group is SKIPPED, not retried (reference mod.rs:567-575); a
    * renewal thread extends every held lease each `leaseRenewIntervalMs`
    * while the merge job runs (reference spawn_lease_renewal, mod.rs:229-245);
    * success completes the leases, any failure marks them failed so the
    * chunks release immediately rather than waiting out the TTL.
    */
  private def compactLeased(groups: Seq[Seq[ChunkMeta]], level: Int): Seq[ChunkMeta] =
    leases match {
      case None => compactGroups(groups)
      case Some(ls) =>
        val candidates = groups.flatMap { g =>
          try Some(g -> ls.acquire(nodeId, g.map(_.path), level))
          catch { case _: ChunksAlreadyLeasedException => leaseSkips.incrementAndGet(); None }
        }
        // Re-validate UNDER the lease: a group whose compaction another
        // holder completed between our candidate selection and our acquire
        // is already swapped out of the catalog — its lease acquire succeeded
        // only because the finished holder released the chunk names.
        // Merging it again would register duplicate rows. Anyone mid-merge
        // still holds the lease (complete comes after the swap), so a group
        // fully present here is provably not being compacted elsewhere.
        catalog.invalidateCache()
        val liveChunks = catalog.state.chunks
        val (acquired, stale) = candidates.partition(_._1.forall(c =>
          liveChunks.contains(c.path)))
        stale.foreach { case (_, l) =>
          leaseSkips.incrementAndGet()
          try ls.fail(l.leaseId) catch { case scala.util.control.NonFatal(_) => () }
        }
        if (acquired.isEmpty) Nil
        else {
          val ids = acquired.map(_._2.leaseId)
          val renewer = new Thread(() => {
            try while (!Thread.currentThread().isInterrupted) {
              Thread.sleep(leaseRenewIntervalMs)
              ids.foreach(ls.renew)
            } catch {
              case _: InterruptedException => () // sweep finished
              case scala.util.control.NonFatal(_) => () // lost the lease: stop renewing
            }
          }, s"lease-renew-$nodeId")
          renewer.setDaemon(true)
          renewer.start()
          try {
            val out = compactGroups(acquired.map(_._1))
            ids.foreach(ls.complete)
            out
          } catch {
            case scala.util.control.NonFatal(e) =>
              ids.foreach(id =>
                try ls.fail(id) catch { case scala.util.control.NonFatal(_) => () })
              throw e
          } finally {
            renewer.interrupt()
            renewer.join(10000)
          }
        }
    }

  /** Drop expired/terminal leases; 0 when no store configured (reference
    * scavenges on the maintenance tick, mod.rs:464-472).
    */
  def scavengeLeases(): Int = leases.fold(0)(_.scavenge())

  /** Compaction backpressure signal for ingesters (reference
    * Compactor::backpressure, src/compactor/mod.rs:203-221): threshold = 3× the
    * L0 merge threshold; recommended delay 50 ms beyond it, 100 ms beyond 2×.
    * On a cluster the ingest job polls this between micro-batches and sleeps
    * the recommended delay, exactly like the reference's ingesters.
    */
  def backpressure(): Compactor.CompactionBackpressure = {
    val l0Pending = catalog.allChunks.count(_.level == 0).toLong
    val threshold = 3L * l0FileThreshold
    val delayMs =
      if (l0Pending > threshold * 2) 100L
      else if (l0Pending > threshold) 50L
      else 0L
    Compactor.CompactionBackpressure(l0Pending, l0Pending > threshold, delayMs)
  }

  /** Retention: schedule deletion of chunks wholly older than cutoff
    * (reference 90 d default with 30 s clock-skew margin, mod.rs:921-947).
    */
  def applyRetention(cutoffNs: Long, skewMarginNs: Long = 30L * 1000000000L): Seq[String] = {
    val safeCutoff = cutoffNs - skewMarginNs
    val expired = catalog.allChunks.filter(_.maxTimestampNs < safeCutoff).map(_.path)
    if (expired.nonEmpty) {
      catalog.remove(expired)
      catalog.deferDelete(expired, System.currentTimeMillis())
    }
    expired
  }
}

object Compactor {

  final case class CompactionBackpressure(
      l0PendingFiles: Long, isBehind: Boolean, recommendedDelayMs: Long)

  /** Flattened level-0 flush provenance of a rewrite (see ChunkMeta.sourcePaths):
    * an original flush contributes its own path; an already-rewritten input
    * contributes ITS provenance, so the result always names L0 flushes. A
    * legacy merged chunk without recorded provenance contributes nothing
    * (its flushes predate tracking — nothing recoverable).
    */
  def l0Provenance(group: Seq[ChunkMeta]): Seq[String] =
    group.flatMap { c =>
      if (c.sourcePaths.nonEmpty) c.sourcePaths
      else if (c.level == 0) Seq(c.path)
      else Nil
    }.distinct

  /** L0 250 MB, L1 2 GB, L2 10 GB, L3+ 50 GB (reference mod.rs:84-97,991-998). */
  def defaultLevelTargets(level: Int): Long = level match {
    case 0 => 250L << 20
    case 1 => 2L << 30
    case 2 => 10L << 30
    case _ => 50L << 30
  }
}
