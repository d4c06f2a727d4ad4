package graft.compact

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.ingest.ChunkStats
import graft.schema.MetricSchema
import java.util.UUID

/** Shard split as a partition-rewrite batch job — the Spark collapse of the
  * reference's 5-phase zero-downtime split (src/sharding/splitter.rs:23-260):
  *
  *  reference phases            → Spark equivalent
  *  ─────────────────────────────────────────────────────────────────────
  *  Preparation                 → mark split active in the catalog (queries begin
  *                                first-wins dedup, mirroring DualWrite-visibility)
  *  DualWrite + Backfill        → rewrite each chunk overlapping the split point
  *                                into a < and a ≥ half (one partitioned write —
  *                                `split_batch_by_key`, ingester/mod.rs:357-500)
  *  Cutover (generation CAS)    → single atomic catalog swap (rename-commit)
  *  Cleanup                     → grace-period GC of source chunks
  *
  * The 5-phase protocol exists because the reference must split under live writes;
  * a Spark batch job is atomic at catalog-commit granularity, so the protocol
  * collapses to rewrite + swap while preserving every observable behavior (dedup
  * during split, atomicity, no data loss). Chunks are rewritten independently —
  * embarrassingly parallel over chunks at 100 TB.
  */
final class ShardSplitter(spark: SparkSession, catalog: ChunkCatalog) {

  def split(splitTsNs: Long, shardA: String, shardB: String): Seq[ChunkMeta] = {
    catalog.setActiveSplits(Seq(s"$shardA/$shardB"))
    try {
      val affected = catalog.allChunks.filter(c =>
        c.minTimestampNs < splitTsNs && c.maxTimestampNs >= splitTsNs)
      affected.flatMap { c =>
        val target = catalog.root.resolve(
          s"${ChunkCatalog.tenantOf(catalog.root, c.path)}/data/split=${UUID.randomUUID()}")
        // ONE read and ONE partitioned write for both halves: `__hi=false`
        // (< split) and `__hi=true` (≥ split), each hashed to one reducer, so
        // each half is one time-sorted file. An empty half writes no directory.
        val df = ChunkCatalog.readChunks(spark, Seq(c))
        df.withColumn("__hi", col(MetricSchema.TimestampNsCol) >= splitTsNs)
          .repartition(col("__hi"))
          .sortWithinPartitions(col("__hi"), col(MetricSchema.TimestampNsCol),
            col(MetricSchema.MetricNameCol))
          .write.partitionBy("__hi").option("compression", "zstd").parquet(target.toString)
        val halves = ChunkStats.fromFooters(target, df.schema).map(m => m.copy(
          level = c.level,
          shardId = Some(if (m.path.endsWith("__hi=true")) shardB else shardA),
          // rewrite provenance: a live tail must not re-deliver a half whose
          // source flush it already served (ChunkMeta.sourcePaths)
          sourcePaths = Compactor.l0Provenance(Seq(c))))
        catalog.replaceChunks(Seq(c.path), halves) // cutover per chunk, atomic
        catalog.deferDelete(Seq(c.path), System.currentTimeMillis())
        halves
      }
    } finally {
      catalog.setActiveSplits(Nil) // cleanup: split no longer active
    }
  }
}

/** Column promotion backfill: rewrite chunks adding a dedicated column derived from
  * an expression — the real version of the reference's scaffold
  * (src/adaptive_index/column_promoter.rs:61-139, status-only there).
  */
final class ColumnPromoter(spark: SparkSession, catalog: ChunkCatalog) {

  def promote(columnName: String, fromExpr: String): Seq[ChunkMeta] =
    catalog.allChunks.flatMap { c =>
      val df = ChunkCatalog.readChunks(spark, Seq(c))
        .withColumn(columnName, org.apache.spark.sql.functions.expr(fromExpr))
      val target = catalog.root.resolve(
        s"${ChunkCatalog.tenantOf(catalog.root, c.path)}/data/promoted/chunk_${UUID.randomUUID()}")
      df.write.option("compression", "zstd").parquet(target.toString)
      val metas = ChunkStats.fromFooters(target, df.schema).map(_.copy(
        level = c.level, sourcePaths = Compactor.l0Provenance(Seq(c))))
      catalog.replaceChunks(Seq(c.path), metas)
      catalog.deferDelete(Seq(c.path), System.currentTimeMillis())
      metas
    }
}

/** Downsampling — EXTENSION (configured but unimplemented in the reference,
  * compactor/mod.rs:70-91): roll raw points up to `resolutionSeconds` buckets with
  * avg/min/max/count per (metric, labels) series.
  */
object Downsampler {
  import org.apache.spark.sql.{DataFrame}
  import org.apache.spark.sql.functions._

  def downsample(df: DataFrame, resolutionSeconds: Long,
                 labelCols: Seq[String]): DataFrame = {
    val stepNs = resolutionSeconds * 1000000000L
    val groupCols = (s"time_bucket" +: MetricSchema.MetricNameCol +: labelCols)
    df.withColumn("time_bucket",
        expr(s"(${MetricSchema.TimestampNsCol} div $stepNs) * $stepNs"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        avg(MetricSchema.ValueF64).as("avg_value"),
        min(MetricSchema.ValueF64).as("min_value"),
        max(MetricSchema.ValueF64).as("max_value"),
        count(lit(1)).as("sample_count"))
  }

  /** Rollup with MERGEABLE components only (sum+count+min+max — no stored
    * avg: avg-of-avgs is wrong on uneven buckets; derive it at serve time as
    * Σsum/Σcount). This is the storage shape that makes resolution-based
    * query routing sound. `sample_count` counts ROWS (merges to count(*));
    * `value_count` counts non-null values (what avg(value) divides by —
    * they differ only when value_f64 has nulls, e.g. multi-value-type mode).
    */
  def downsampleMergeable(df: DataFrame, resolutionSeconds: Long,
                          labelCols: Seq[String]): DataFrame = {
    val stepNs = resolutionSeconds * 1000000000L
    val groupCols = (s"time_bucket" +: MetricSchema.MetricNameCol +: labelCols)
    df.withColumn("time_bucket",
        expr(s"(${MetricSchema.TimestampNsCol} div $stepNs) * $stepNs"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(MetricSchema.ValueF64).as("sum_value"),
        min(MetricSchema.ValueF64).as("min_value"),
        max(MetricSchema.ValueF64).as("max_value"),
        count(lit(1)).as("sample_count"),
        count(MetricSchema.ValueF64).as("value_count"))
  }

  /** Serve a coarser-step bucketed aggregate FROM a mergeable rollup —
    * the dashboard-zoom-out routing of a metrics store (Thanos/M3-style):
    * any step that is a whole multiple of the rollup resolution re-buckets
    * the (much smaller) rollup table instead of re-scanning raw data, and
    * the result is EXACTLY what the raw aggregation would produce, because
    * every stored component is associative (sum/min/max/count merge; avg is
    * derived last). At 100 TB the rollup is ~resolution/avg-interval times
    * smaller than raw — this read scales with dashboard width, not corpus.
    */
  def serveFromRollup(rollup: DataFrame, resolutionSeconds: Long,
                      stepSeconds: Long, labelCols: Seq[String]): DataFrame = {
    require(stepSeconds % resolutionSeconds == 0,
      s"step ${stepSeconds}s must be a multiple of the rollup resolution ${resolutionSeconds}s")
    val stepNs = stepSeconds * 1000000000L
    val groupCols = (s"time_bucket" +: MetricSchema.MetricNameCol +: labelCols)
    rollup
      .withColumn("time_bucket", expr(s"(time_bucket div $stepNs) * $stepNs"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum("sum_value").as("sum_value"),
        min("min_value").as("min_value"),
        max("max_value").as("max_value"),
        sum("sample_count").as("sample_count"),
        sum("value_count").as("value_count"))
      // avg over the values that EXIST, exactly like avg(value_f64) on raw rows
      .withColumn("avg_value", col("sum_value") / col("value_count"))
  }

  /** Write a rollup table under the warehouse root; its path and row count,
    * read from the footers of what was written.
    */
  private def writeRollup(catalog: ChunkCatalog, resolutionSeconds: Long,
                          rollup: DataFrame): (String, Long) = {
    val target = catalog.root.resolve(
      s"default/rollup/res${resolutionSeconds}s_${UUID.randomUUID()}")
    rollup.write.option("compression", "zstd").parquet(target.toString)
    (target.toString, ChunkStats.fromFooters(target, rollup.schema).map(_.rowCount).sum)
  }

  /** Build the mergeable rollup over the catalog's CURRENT raw chunks, write it
    * as one parquet table under the warehouse root, and register it for
    * engine-side query routing (see [[graft.plans.RollupRouting]]). Coverage is
    * recorded as [min bucket, max bucket + resolution): a query whose time
    * bounds fall inside it can be answered from the rollup alone. Any raw
    * chunk registered AFTERWARDS that overlaps the coverage drops the
    * registration (ChunkCatalog write-invalidation) — mirroring the
    * reference's intent that downsampling applies to aged-out immutable data
    * (`downsample_after_days`, src/compactor/mod.rs:70-91).
    */
  def materializeRollup(spark: SparkSession, catalog: ChunkCatalog,
                        resolutionSeconds: Long,
                        labelCols: Seq[String]): graft.catalog.RollupMeta = {
    val chunks = catalog.allChunks
    require(chunks.nonEmpty, "cannot materialize a rollup over an empty warehouse")
    val (path, rows) = writeRollup(catalog, resolutionSeconds,
      downsampleMergeable(ChunkCatalog.readChunks(spark, chunks), resolutionSeconds, labelCols))
    // Built over the ENTIRE warehouse: coverage is the full time axis — a
    // bucket with no rollup row has no raw row either, so any bounded query
    // routes; and any subsequently registered chunk invalidates (as it must).
    val meta = graft.catalog.RollupMeta(
      path = path,
      resolutionSeconds = resolutionSeconds,
      labelCols = labelCols,
      minBucketNs = Long.MinValue,
      maxCoveredNsExclusive = Long.MaxValue,
      rowCount = rows)
    catalog.registerRollup(meta)
    meta
  }

  /** Coverage end for an age-triggered rollup, from chunk METADATA alone:
    * the bucket floor of the earliest row NOT rolled up (the first live
    * chunk's min timestamp, clamped to the cutoff). Exposed so the
    * maintenance sweep can decide idempotently without reading data.
    */
  def agedCoverageEnd(chunks: Seq[graft.catalog.ChunkMeta], cutoffNs: Long,
                      resolutionSeconds: Long): Option[Long] = {
    val resNs = resolutionSeconds * 1000000000L
    val (aged, live) = chunks.partition(_.maxTimestampNs < cutoffNs)
    if (aged.isEmpty) None
    else Some(Math.floorDiv(live.map(_.minTimestampNs).foldLeft(cutoffNs)(math.min),
      resNs) * resNs)
  }

  /** Age-triggered rollup — the `downsample_after_days` LOOP itself (the
    * whole-warehouse [[materializeRollup]] is the one-shot backfill): roll up
    * ONLY chunks entirely older than `cutoffNs`, and claim coverage ending at
    * the bucket floor of the earliest row left raw. Live ingest lands at
    * recent timestamps beyond the coverage, so this rollup SURVIVES ongoing
    * writes (write-invalidation still drops it if late-arriving data lands
    * inside the covered past — as it must). Aged rows at or beyond the
    * coverage end are stored but unreachable: routing clips every query to
    * coverage. Returns None when no chunk has fully aged.
    */
  def materializeAgedRollup(spark: SparkSession, catalog: ChunkCatalog,
                            resolutionSeconds: Long, labelCols: Seq[String],
                            cutoffNs: Long): Option[graft.catalog.RollupMeta] = {
    val chunks = catalog.allChunks
    val aged = chunks.filter(_.maxTimestampNs < cutoffNs)
    agedCoverageEnd(chunks, cutoffNs, resolutionSeconds).map { covEnd =>
      val (path, rows) = writeRollup(catalog, resolutionSeconds,
        downsampleMergeable(ChunkCatalog.readChunks(spark, aged), resolutionSeconds, labelCols))
      val meta = graft.catalog.RollupMeta(
        path = path,
        resolutionSeconds = resolutionSeconds,
        labelCols = labelCols,
        minBucketNs = Long.MinValue,
        maxCoveredNsExclusive = covEnd,
        rowCount = rows,
        buildCutoffNs = cutoffNs)
      catalog.registerRollup(meta)
      meta
    }
  }

  /** INCREMENTAL coverage extension — the steady-state sweep cost: merge the
    * prior aged rollup with ONLY the chunks that aged since its build cutoff
    * (chunk sets are disjoint by construction, so no row is counted twice;
    * the stored components are associative, so re-aggregating union buckets
    * is exact). Without this, every extension re-reads the entire aged
    * history: O(total past) per sweep instead of O(newly aged increment).
    *
    * When nothing newly aged exists but the coverage bound moved (the
    * clamping live chunk was compacted or aged), the prior registration is
    * extended in place — rows absent from the rollup all live beyond the new
    * bound, so wider coverage stays exact with zero data read.
    *
    * Returns the new registration, or None when coverage cannot move. The
    * superseded rollup's files are the CALLER's to retire (after dropRollup).
    */
  def extendAgedRollup(spark: SparkSession, catalog: ChunkCatalog,
                       prior: graft.catalog.RollupMeta,
                       cutoffNs: Long): Option[graft.catalog.RollupMeta] = {
    val chunks = catalog.allChunks
    agedCoverageEnd(chunks, cutoffNs, prior.resolutionSeconds).flatMap { covEnd =>
      if (covEnd <= prior.maxCoveredNsExclusive) None
      else if (prior.staleForExtension) {
        // A rewrite merged rows across prior.buildCutoffNs (catalog flagged
        // it): the maxTs-vs-cutoff predicate below can no longer separate
        // rolled from unrolled rows — incremental merge would double-count
        // or drop them. Rebuild from ALL aged chunks; exact by construction.
        materializeAgedRollup(spark, catalog, prior.resolutionSeconds,
          prior.labelCols, cutoffNs)
      } else {
        val newlyAged = chunks.filter(c =>
          c.maxTimestampNs < cutoffNs && c.maxTimestampNs >= prior.buildCutoffNs)
        if (newlyAged.isEmpty) {
          val meta = prior.copy(maxCoveredNsExclusive = covEnd,
            buildCutoffNs = cutoffNs)
          catalog.registerRollup(meta) // same path: replaces in place
          Some(meta)
        } else {
          val keyCols = "time_bucket" +: MetricSchema.MetricNameCol +: prior.labelCols
          val fresh = downsampleMergeable(ChunkCatalog.readChunks(spark, newlyAged),
            prior.resolutionSeconds, prior.labelCols)
          val (path, rows) = writeRollup(catalog, prior.resolutionSeconds,
            spark.read.parquet(prior.path).unionByName(fresh)
              .groupBy(keyCols.map(col): _*)
              .agg(
                sum("sum_value").as("sum_value"),
                min("min_value").as("min_value"),
                max("max_value").as("max_value"),
                sum("sample_count").as("sample_count"),
                sum("value_count").as("value_count")))
          val meta = graft.catalog.RollupMeta(
            path = path,
            resolutionSeconds = prior.resolutionSeconds,
            labelCols = prior.labelCols,
            minBucketNs = Long.MinValue,
            maxCoveredNsExclusive = covEnd,
            rowCount = rows,
            buildCutoffNs = cutoffNs)
          catalog.registerRollup(meta)
          Some(meta)
        }
      }
    }
  }

}
