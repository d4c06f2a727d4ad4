package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import graft.schema.MetricSchema

/** Source adapters: normalize arbitrary tabular data into the wide `metrics` shape
  * (timestamp + timestamp_ns + metric_name + label columns + 3-way value columns).
  *
  * The reference ingests only OTLP / Prometheus protocols; a Spark-native engine
  * naturally admits any Spark-readable source (parquet/csv/json/jdbc) — this is the
  * declarative mapping layer in front of ChunkWriter. Value routing matches the
  * remote-write rules (integral ≥0 → value_u64, integral <0 → value_i64, else
  * value_f64 — reference prometheus.rs:409-440) when `routeValues` is on; otherwise
  * everything lands in value_f64 like OTLP gauges.
  */
object MetricSources {

  /** @param ts        event-time column (TimestampType, or LongType raw ns)
    * @param metricName metric name column or literal
    * @param value      numeric value column
    * @param labels    label columns to carry (become nullable strings)
    */
  def toMetrics(df: DataFrame,
                ts: Column,
                metricName: Column,
                value: Column,
                labels: Map[String, Column] = Map.empty,
                routeValues: Boolean = false): DataFrame = {
    val tsNs = df.select(ts.as("__t")).schema.head.dataType match {
      case LongType => ts // already raw ns
      case TimestampType => unix_micros(ts) * 1000
      case other => throw new IllegalArgumentException(
        s"timestamp column must be TimestampType or ns LongType, got $other")
    }
    val v = value.cast("double")
    val integral = !v.isNaN && v === floor(v) && abs(v) < 9.007199254740992e15
    // stage the ns long under a name so µs derivation can use integral `div` —
    // Column./ is double division and ns values exceed 2^53
    val staged = df.withColumn("__graft_ns", tsNs.cast("long"))
    val base = staged.select(
      Seq(
        timestamp_micros(expr("__graft_ns div 1000")).as(MetricSchema.TimestampCol),
        col("__graft_ns").as(MetricSchema.TimestampNsCol),
        metricName.cast("string").as(MetricSchema.MetricNameCol)) ++
        labels.toSeq.sortBy(_._1).map { case (name, c) => c.cast("string").as(name) } ++
        (if (routeValues)
          Seq(
            when(!integral, v).as(MetricSchema.ValueF64),
            when(integral && v < 0, v.cast("long")).as(MetricSchema.ValueI64),
            when(integral && v >= 0, v.cast("long")).as(MetricSchema.ValueU64))
        else
          Seq(
            v.as(MetricSchema.ValueF64),
            lit(null).cast("long").as(MetricSchema.ValueI64),
            lit(null).cast("long").as(MetricSchema.ValueU64))): _*)
    base
  }

  def fromCsv(spark: SparkSession, path: String, ts: Column, metricName: Column,
              value: Column, labels: Map[String, Column] = Map.empty): DataFrame =
    toMetrics(spark.read.option("header", "true").option("inferSchema", "true").csv(path),
      ts, metricName, value, labels)
}
