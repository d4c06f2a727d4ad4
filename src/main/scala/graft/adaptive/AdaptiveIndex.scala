package graft.adaptive

import scala.collection.mutable

/** Adaptive indexing: query-pattern stats → index recommendations → lifecycle —
  * ports the pure logic of the reference's adaptive_index module
  * (src/adaptive_index/{stats_collector,recommender,lifecycle}.rs). In Spark terms a
  * "visible index" materializes as a partition/sort-key choice (ZORDER-like layout),
  * but the accounting and scoring are engine-independent and ported faithfully.
  */
object AdaptiveIndex {

  /** Per-column query-pattern stats over a sliding window (reference
    * stats_collector.rs:86-202): WHERE-usage counters, observed selectivities,
    * GROUP BY counters. Concurrent queries record into one collector, so every
    * record, evict and read holds the collector's lock.
    */
  final class StatsCollector(windowMs: Long = 48L * 3600 * 1000) {
    private case class Obs(atMs: Long, selectivity: Double)
    private val filterObs = mutable.Map.empty[String, mutable.ArrayBuffer[Obs]]
    private val groupByCounts = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]

    def recordFilter(column: String, selectivity: Double,
                     nowMs: Long = System.currentTimeMillis()): Unit = synchronized {
      filterObs.getOrElseUpdate(column, mutable.ArrayBuffer.empty) += Obs(nowMs, selectivity)
      evict(nowMs)
    }

    def recordGroupBy(column: String, nowMs: Long = System.currentTimeMillis()): Unit =
      synchronized {
        groupByCounts.getOrElseUpdate(column, mutable.ArrayBuffer.empty) += nowMs
        evict(nowMs)
      }

    /** Record from an analyzed Spark plan: every attribute referenced by a Filter
      * counts as a WHERE column; Aggregate grouping attrs count as GROUP BY columns
      * (the Spark analogue of the reference's query hook, engine.rs:259-300).
      */
    def recordFromPlan(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                       nowMs: Long = System.currentTimeMillis()): Unit = synchronized {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
      plan.foreach {
        case Filter(cond, _) =>
          cond.references.toSeq.map(_.name).distinct.foreach(recordFilter(_, 0.1, nowMs))
        case Aggregate(grouping, _, _, _) =>
          grouping.flatMap(_.references.toSeq).map(_.name).distinct
            .foreach(recordGroupBy(_, nowMs))
        case _ =>
      }
    }

    private def evict(nowMs: Long): Unit = synchronized {
      filterObs.values.foreach(b => b.filterInPlace(_.atMs > nowMs - windowMs))
      groupByCounts.values.foreach(b => b.filterInPlace(_ > nowMs - windowMs))
    }

    def filterCount(column: String): Long =
      synchronized(filterObs.get(column).map(_.size.toLong).getOrElse(0L))
    def groupByCount(column: String): Long =
      synchronized(groupByCounts.get(column).map(_.size.toLong).getOrElse(0L))

    /** Sample-sorted percentile of observed selectivity (reference
      * stats_collector.rs:150-170).
      */
    def selectivityPercentile(column: String, p: Double): Option[Double] = synchronized {
      filterObs.get(column).filter(_.nonEmpty).map { obs =>
        val sorted = obs.map(_.selectivity).toArray.sorted
        sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
      }
    }

    def trackedColumns: Seq[String] =
      synchronized((filterObs.keySet ++ groupByCounts.keySet).toSeq.sorted)
  }

  sealed trait IndexType
  object IndexType {
    case object Inverted extends IndexType // cardinality ≤ 1 000
    case object Range extends IndexType // ≤ 100 000
    case object BloomFilter extends IndexType // high cardinality
  }

  final case class Recommendation(column: String, indexType: IndexType, score: Double)

  /** score = filter_count · (1 − sel_p50) · time_saved / (storage_cost +
    * write_overhead); type by cardinality class (reference recommender.rs:63-162).
    */
  def recommend(stats: StatsCollector,
                cardinalities: Map[String, Long],
                timeSavedMsPerQuery: Double = 50.0,
                storageCost: Double = 10.0,
                writeOverhead: Double = 5.0,
                minScore: Double = 1.0): Seq[Recommendation] =
    stats.trackedColumns.flatMap { col =>
      val filters = stats.filterCount(col)
      if (filters == 0) None
      else {
        val selP50 = stats.selectivityPercentile(col, 0.5).getOrElse(1.0)
        val score = filters * (1.0 - selP50) * timeSavedMsPerQuery /
          (storageCost + writeOverhead)
        if (score < minScore) None
        else {
          val card = cardinalities.getOrElse(col, Long.MaxValue)
          val typ =
            if (card <= 1000L) IndexType.Inverted
            else if (card <= 100000L) IndexType.Range
            else IndexType.BloomFilter
          Some(Recommendation(col, typ, score))
        }
      }
    }.sortBy(-_.score)

  /** Index lifecycle: Invisible →(48 h would-have-helped)→ Visible →(30 d unused)→
    * Deprecated →(7 d)→ Removed (reference lifecycle.rs).
    */
  sealed trait LifecycleState
  object LifecycleState {
    case object Invisible extends LifecycleState
    case object Visible extends LifecycleState
    case object Deprecated extends LifecycleState
    case object Removed extends LifecycleState
  }

  final case class IndexEntry(
      column: String,
      state: LifecycleState,
      createdMs: Long,
      lastUsedMs: Long,
      wouldHaveHelped: Long = 0L)

  def advance(e: IndexEntry, nowMs: Long,
              invisibleProbationMs: Long = 48L * 3600 * 1000,
              unusedDemotionMs: Long = 30L * 86400 * 1000,
              deprecatedGraceMs: Long = 7L * 86400 * 1000): IndexEntry =
    e.state match {
      case LifecycleState.Invisible
        if nowMs - e.createdMs >= invisibleProbationMs && e.wouldHaveHelped > 0 =>
        e.copy(state = LifecycleState.Visible)
      case LifecycleState.Visible if nowMs - e.lastUsedMs >= unusedDemotionMs =>
        e.copy(state = LifecycleState.Deprecated)
      case LifecycleState.Deprecated if nowMs - e.lastUsedMs >= unusedDemotionMs + deprecatedGraceMs =>
        e.copy(state = LifecycleState.Removed)
      case _ => e
    }

  /** Closes the loop from recommendation to LAYOUT (r8 directive #3): the
    * reference scores WHERE-column candidates and this engine's Z-order
    * clustered compaction prunes 5-10× on clustered columns — this controller
    * connects them, turning the top recommendations into the `clusterBy` a
    * maintenance sweep uses, with the reference's lifecycle respected: a new
    * recommendation enters INVISIBLE (observed, never acted on), is promoted
    * to VISIBLE only after surviving the probation window with would-have-
    * helped evidence, and only VISIBLE columns ever reach the layout. Unused
    * columns demote and fall out through Deprecated → Removed.
    *
    * One instance per maintenance process; tick it from the sweep
    * ([[graft.compact.Maintenance]] does, behind its config gate).
    */
  final class ClusteringController(
      stats: StatsCollector,
      probationMs: Long = 48L * 3600 * 1000,
      maxClusterColumns: Int = 2,
      minScore: Double = 1.0,
      // never cluster on the time axis (hot-level sorts own it) or the
      // partition scaffolding
      eligible: String => Boolean = c => !AdaptiveIndex.TimeAndPartitionCols(c)) {

    private val registry = mutable.Map.empty[String, IndexEntry]

    /** One tick: fold current recommendations into the lifecycle registry,
      * advance states, and return the columns (score order, capped) that a
      * sweep may cluster by — VISIBLE entries only.
      */
    def activeClusterColumns(cardinalities: Map[String, Long] = Map.empty,
                             nowMs: Long = System.currentTimeMillis()): Seq[String] = {
      val recs = recommend(stats, cardinalities, minScore = minScore)
        .filter(r => eligible(r.column))
      recs.foreach { r =>
        val e = registry.getOrElseUpdate(r.column,
          IndexEntry(r.column, LifecycleState.Invisible, nowMs, nowMs))
        // recommended this tick = the layout would have helped a real query,
        // and counts as use (keeps an actively-queried column from demoting)
        registry(r.column) =
          e.copy(wouldHaveHelped = e.wouldHaveHelped + 1, lastUsedMs = nowMs)
      }
      registry.mapValuesInPlace((_, e) =>
        advance(e, nowMs, invisibleProbationMs = probationMs))
      registry.filterInPlace((_, e) => e.state != LifecycleState.Removed)
      val visible =
        registry.values.filter(_.state == LifecycleState.Visible).map(_.column).toSet
      recs.collect { case r if visible(r.column) => r.column }.take(maxClusterColumns)
    }

    def entries: Seq[IndexEntry] = registry.values.toSeq.sortBy(_.column)
  }

  private[adaptive] val TimeAndPartitionCols: Set[String] =
    Set("timestamp", "timestamp_ns", "year", "month", "day", "hour")
}
