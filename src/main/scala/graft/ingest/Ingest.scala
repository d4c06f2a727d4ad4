package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.MetricSchema
import graft.catalog.{ChunkCatalog, ChunkMeta, ColumnStats}
import java.nio.file.{Files, Path}
import java.util.UUID

/** Ingest-side staging type — the union of what OTLP / Prometheus remote-write points
  * carry before explosion to label columns (reference MetricDataPoint,
  * src/api/ingest/otlp.rs:24-41). Timestamps are raw nanoseconds.
  */
final case class MetricPoint(
    timestampNs: Long,
    metricName: String,
    value: Double,
    labels: Map[String, String] = Map.empty)

/** A Prometheus-style sample where value routing between value_f64/value_i64/value_u64
  * has already been decided (reference convert_prom_to_arrow,
  * src/api/ingest/prometheus.rs:356-485).
  */
final case class RoutedPoint(
    timestampNs: Long,
    metricName: String,
    labels: Map[String, String],
    valueF64: Option[Double],
    valueI64: Option[Long],
    valueU64: Option[Long])

object Converters {

  /** OTLP AnyValue → String coercion (reference any_value_to_string,
    * src/api/ingest/otlp.rs:223-235): string/bool/int/double pass through; bytes are
    * base64; arrays/kvlists render as their debug-ish JSON.
    */
  def anyValueToString(v: Any): String = v match {
    case null => ""
    case s: String => s
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => d.toString
    case f: Float => f.toString
    case bytes: Array[Byte] => java.util.Base64.getEncoder.encodeToString(bytes)
    case arr: Seq[_] => arr.map(anyValueToString).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"$k=${anyValueToString(x)}" }.mkString("{", ",", "}")
    case other => other.toString
  }

  /** Prometheus value-type routing (reference src/api/ingest/prometheus.rs:409-440):
    * integral non-negative & lossless → value_u64; integral negative → value_i64;
    * everything else (fractional, NaN, ±Inf) → value_f64.
    */
  def routeValue(v: Double): (Option[Double], Option[Long], Option[Long]) =
    if (v.isNaN || v.isInfinite || v != Math.floor(v) || Math.abs(v) >= 9.007199254740992e15)
      (Some(v), None, None)
    else if (v >= 0) (None, None, Some(v.toLong))
    else (None, Some(v.toLong), None)

  /** ms → ns like the remote-write path (prometheus.rs:452); `__name__` label becomes
    * metric_name; label columns sorted for schema determinism (prometheus.rs:382-396).
    */
  def promSample(tsMs: Long, labels: Map[String, String], value: Double): RoutedPoint = {
    val name = labels.getOrElse("__name__", "")
    val (f, i, u) = routeValue(value)
    RoutedPoint(tsMs * 1000000L, name, labels - "__name__", f, i, u)
  }

  /** OTLP Histogram/ExponentialHistogram/Summary points collapse to their `sum`
    * (falling back to `count` when sum is absent) — reference otlp.rs:133-173.
    */
  def histogramPoint(timestampNs: Long, metricName: String, sum: Option[Double],
                     count: Long, labels: Map[String, String]): MetricPoint =
    MetricPoint(timestampNs, metricName, sum.getOrElse(count.toDouble), labels)

  /** Union of label keys across a batch → one nullable string column per key, sorted
    * (reference data_points_to_arrow, otlp.rs:249-295 + prometheus.rs:382-396).
    * OTLP-shaped points: the single f64 value lands in value_f64.
    */
  def pointsToDf(spark: SparkSession, points: Seq[MetricPoint]): DataFrame = {
    val routed = points.map(p =>
      RoutedPoint(p.timestampNs, p.metricName, p.labels, Some(p.value), None, None))
    routedToDf(spark, routed)
  }

  def routedToDf(spark: SparkSession, points: Seq[RoutedPoint]): DataFrame = {
    val labelKeys = points.flatMap(_.labels.keys).distinct.sorted
    val schema = MetricSchema.build(labelKeys)
    val rows = points.map { p =>
      Row.fromSeq(
        Seq(java.time.Instant.ofEpochSecond(
              Math.floorDiv(p.timestampNs, 1000000000L),
              Math.floorMod(p.timestampNs, 1000000000L) / 1000L * 1000L),
            p.timestampNs, p.metricName) ++
        labelKeys.map(k => p.labels.get(k).orNull) ++
        Seq(p.valueF64.map(Double.box).orNull,
            p.valueI64.map(Long.box).orNull,
            p.valueU64.map(Long.box).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }
}

/** Writes a metrics DataFrame as sorted, ZSTD, hour-Hive-partitioned Parquet chunks and
  * registers them (with per-column zone maps) in the catalog — the Spark equivalent of
  * flush_batches → ParquetWriter → atomic_register_chunk (reference
  * src/ingester/mod.rs:632-714, src/ingester/parquet_writer.rs:16-89).
  *
  * One flush = ONE partitioned write job (every hour-chunk written in parallel, rows
  * time-sorted within each file) after a min/max-timestamp agg; zone maps come from
  * the written footers (ChunkStats.fromFooters), so no per-hour driver loop and no
  * stats pass — this is what keeps a 100 TB backfill a two-job pipeline instead of
  * thousands of sequential jobs.
  *
  * Layout divergence from the reference: partition values are unpadded ints
  * (`year=2024/month=1/...`) — Hive-style either way; Spark partition-type inference
  * round-trips ints losslessly where zero-padded strings would not.
  */
final class ChunkWriter(catalog: ChunkCatalog, tenant: String = "default") {

  private val partCols = Seq("year", "month", "day", "hour")

  /** Write one batch of metrics. `batchTag`, when given, makes the write
    * IDEMPOTENT: the batch directory is derived from the tag instead of a fresh
    * UUID, and a batch whose chunks are already registered in the catalog is
    * skipped (returns the registered metas). A half-written, never-registered
    * directory from a crashed attempt is deleted and rewritten — registration is
    * the commit point, so replays converge instead of duplicating chunks. The
    * streaming sink passes its micro-batch id here (reference WAL replay:
    * entries > flushed_seq are re-applied exactly once, src/ingester/mod.rs:218-291).
    */
  def write(df: DataFrame, batchTag: Option[String] = None): Seq[ChunkMeta] = {
    val spark = df.sparkSession
    val batchName = batchTag.getOrElse(UUID.randomUUID().toString)
    val batchDir = catalog.root.resolve(s"$tenant/data/batch=$batchName")
    if (batchTag.isDefined) {
      val dirPrefix = batchDir.toString + "/"
      val already = catalog.allChunks.filter(_.path.startsWith(dirPrefix))
      if (already.nonEmpty) return already // replayed micro-batch: no-op
      ChunkStats.deleteDir(batchDir) // stale partial write from a crashed attempt
    }
    val stamped = df
      .withColumn("year", year(col("timestamp")))
      .withColumn("month", month(col("timestamp")))
      .withColumn("day", dayofmonth(col("timestamp")))
      .withColumn("hour", hour(col("timestamp")))

    // Slice pre-pass: min/max timestamp only (single map-side-combined agg over
    // the TS column — NOT the old full per-hour stats pass: zone maps now come
    // free from the parquet footers the write itself produces, see
    // ChunkStats.fromFooters). repartitionByRange would add a sampling scan to
    // learn the same span.
    val span = stamped.agg(
      min(col(MetricSchema.TimestampNsCol)), max(col(MetricSchema.TimestampNsCol))).collect()(0)
    if (span.isNullAt(0)) return Nil // empty batch
    val (minTs, maxTs) = (span.getLong(0), span.getLong(1))
    val par = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // 16·par slices: hash-partitioning needs MANY more keys than reducers to
    // balance (≈2·par keys left stragglers with 2× the average load — measured
    // 2× ingest wall-clock at 130 M rows). Finer slices cost nothing: the
    // writer emits one file per (task, hour-dir) regardless of slice count.
    val sliceNs = math.max(1L, (maxTs - minTs) / (par * 16L) + 1L)

    // THE one data pass: hash-partition on (hour cols, time slice) — a batch
    // confined to one hour still fans out across all reducers as disjoint time
    // slices (several time-sorted files per hour chunk) instead of serializing
    // one hour = one task. Each file is sorted within itself, so Parquet
    // row-group stats stay tight — and those footer stats double as the chunk
    // zone maps (no separate stats job).
    // metric_name as SECONDARY sort key within equal timestamps: output stays
    // timestamp-sorted (faithful to merge.rs:56-74 — that file's "and metric
    // name" comment, realized), and grouping same-name rows inside a tick
    // lifts dictionary/ZSTD efficiency ~6 % (measured 10.2× → 10.8× on the
    // bench generator; a further `host` key and parquet writer v2 both
    // measured as no-ops — the remaining bytes are value-column entropy)
    stamped
      .withColumn("__slice", expr(s"${MetricSchema.TimestampNsCol} div $sliceNs"))
      .repartition((partCols :+ "__slice").map(col): _*)
      .sortWithinPartitions((partCols :+ MetricSchema.TimestampNsCol :+
        MetricSchema.MetricNameCol).map(col): _*)
      .drop("__slice")
      .write
      .partitionBy(partCols: _*)
      .option("compression", "zstd")
      .parquet(batchDir.toString)

    // Zone maps, row counts, null flags, sizes and the file schema (partition
    // columns live in dir names, not files) come from what the write just
    // produced: driver-side footer reads, no data scan.
    val metas = ChunkStats.fromFooters(batchDir,
      StructType(stamped.schema.fields.filterNot(f => partCols.contains(f.name))))
    catalog.registerAll(metas)
    graft.engine.Telemetry.ingestRows.add(metas.map(_.rowCount).sum)
    graft.engine.Telemetry.ingestBytes.add(metas.map(_.sizeBytes).sum)
    graft.engine.Telemetry.ingestChunks.add(metas.size.toLong)
    metas
  }
}

object ChunkStats {

  /** The one way a written directory becomes catalog metadata: one ChunkMeta
    * per leaf directory under `dir` that holds parquet files, read from the
    * FOOTERS the write itself produced — no data pass. The encoder computed
    * row-group min/max/null-count while writing, exactly how the reference
    * records stats during encode (src/ingester/parquet_writer.rs:24-52) and
    * prunes on them (src/metadata/s3.rs:84-127). `fileSchema` is what the
    * files were written with (partition columns live in directory names, not
    * files); its DDL is stored so later reads skip footer schema inference.
    * Zone maps cover the string, long and double columns:
    *
    *  - merging across row groups / files is min-of-mins / max-of-maxes;
    *  - parquet-mr may TRUNCATE long binary (string) stats, but truncation
    *    preserves bounds (min rounded down, max rounded up), so zone-map
    *    pruning stays conservative;
    *  - a column gets NO range when any row group lacks null counts or holds
    *    non-null values without a min/max — parquet-mr keeps none for a
    *    double block holding NaN (a Prometheus staleness marker), which Spark
    *    orders above every number; `keepChunk` keeps chunks with missing
    *    stats, again conservative.
    *
    * Level 0, no provenance: a rewriter copies in its own.
    */
  def fromFooters(dir: Path, fileSchema: StructType): Seq[ChunkMeta] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) return Nil
    val zoned = fileSchema.fields.collect {
      case f if f.dataType == StringType || f.dataType == DoubleType || f.dataType == LongType =>
        f.name -> f.dataType
    }.toMap
    val ddl = Some(fileSchema.toDDL)
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
    files.groupBy(_.getParent).toSeq.sortBy(_._1.toString).flatMap { case (leaf, inLeaf) =>
      val parquet = inLeaf.filter(_.getFileName.toString.endsWith(".parquet"))
      if (parquet.isEmpty) None
      else {
        var rows = 0L
        val ranges = scala.collection.mutable.HashMap.empty[String, ColumnStats]
        val nulls = scala.collection.mutable.HashSet.empty[String]
        val noRange = scala.collection.mutable.HashSet.empty[String]
        parquet.foreach { f =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
          try reader.getFooter.getBlocks.asScala.foreach { block =>
            rows += block.getRowCount
            block.getColumns.asScala.foreach { cc =>
              val name = cc.getPath.toDotString
              zoned.get(name).foreach { t =>
                val st = cc.getStatistics
                if (st == null || !st.isNumNullsSet) noRange += name
                else {
                  if (st.getNumNulls > 0) nulls += name
                  if (st.hasNonNullValue) rangeOf(t, st) match {
                    case Some(r) => ranges(name) = ranges.get(name).fold(r)(widen(_, r))
                    case None => noRange += name
                  } else if (cc.getValueCount > st.getNumNulls) noRange += name
                }
              }
            }
          } finally reader.close()
        }
        val stats = ranges.iterator.collect {
          case (n, r) if !noRange(n) => n -> r.copy(hasNulls = nulls(n))
        }.toMap
        val ts = stats.get(MetricSchema.TimestampNsCol)
        Some(ChunkMeta(
          path = leaf.toString,
          minTimestampNs = ts.flatMap(_.minLong).getOrElse(0L),
          maxTimestampNs = ts.flatMap(_.maxLong).getOrElse(0L),
          rowCount = rows,
          sizeBytes = inLeaf.map(Files.size(_)).sum,
          columnStats = stats,
          schemaDdl = ddl))
      }
    }
  }

  /** One row group's [min, max] of a column; None for a physical type the
    * zone map does not read.
    */
  private def rangeOf(t: DataType,
                      st: org.apache.parquet.column.statistics.Statistics[_]): Option[ColumnStats] =
    (t, st) match {
      case (StringType, s: org.apache.parquet.column.statistics.BinaryStatistics) =>
        Some(ColumnStats.ofString(s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8))
      case (LongType, s: org.apache.parquet.column.statistics.LongStatistics) =>
        Some(ColumnStats.ofLong(s.getMin, s.getMax))
      case (DoubleType, s: org.apache.parquet.column.statistics.DoubleStatistics) =>
        Some(ColumnStats.ofDouble(s.getMin, s.getMax))
      case _ => None
    }

  private def widen(a: ColumnStats, b: ColumnStats): ColumnStats = {
    def lo[T](x: Option[T], y: Option[T])(implicit o: Ordering[T]) = (x ++ y).minOption(o)
    def hi[T](x: Option[T], y: Option[T])(implicit o: Ordering[T]) = (x ++ y).maxOption(o)
    ColumnStats(
      minString = lo(a.minString, b.minString), maxString = hi(a.maxString, b.maxString),
      minLong = lo(a.minLong, b.minLong), maxLong = hi(a.maxLong, b.maxLong),
      minDouble = lo(a.minDouble, b.minDouble)(Ordering.Double.TotalOrdering),
      maxDouble = hi(a.maxDouble, b.maxDouble)(Ordering.Double.TotalOrdering))
  }

  /** Recursively delete a directory: a stale partial write from a crashed attempt. */
  def deleteDir(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}
