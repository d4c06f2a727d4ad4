package graft.schema

import org.apache.spark.sql.types._

/** Cardinality class of a label column; drives the Parquet encoding choice in the
  * reference (Dictionary(UInt16)/Dictionary(UInt32)/plain Utf8 — reference
  * src/schema/metrics.rs:44-72). Spark's Parquet writer applies dictionary encoding
  * adaptively, so the class here only documents intent and bounds.
  */
sealed trait CardinalityClass { def maxCardinality: Long }
object CardinalityClass {
  case object Low extends CardinalityClass { val maxCardinality = 1000L }
  case object Medium extends CardinalityClass { val maxCardinality = 100000L }
  case object High extends CardinalityClass { val maxCardinality = Long.MaxValue }
}

/** Metric type → primary value column routing (reference src/schema/metrics.rs:19-41). */
sealed trait MetricType { def valueColumn: String }
object MetricType {
  case object Gauge extends MetricType { val valueColumn = "value_f64" }
  case object Counter extends MetricType { val valueColumn = "value_u64" }
  case object Histogram extends MetricType { val valueColumn = "value_f64" }
  case object Summary extends MetricType { val valueColumn = "value_f64" }
}

/** Canonical schema of the wide `metrics` table: labels-as-columns, one physical
  * column per label key, no inverted index (reference src/schema/metrics.rs:236-276).
  *
  * Timestamp fidelity: the reference is nanosecond-precision end to end; Spark
  * TimestampType is microseconds. We carry BOTH `timestamp: TimestampType` (µs, UTC —
  * used for partitioning/pruning ergonomics) and `timestamp_ns: LongType` (raw ns, the
  * API-boundary truth used for bucket arithmetic and ns WHERE literals). value_u64 is
  * narrowed to LongType (Spark has no unsigned; Prometheus samples are f64 so values
  * fit — documented divergence, see SURVEY.md §7.4.2).
  */
object MetricSchema {

  val TimestampCol = "timestamp"
  val TimestampNsCol = "timestamp_ns"
  val MetricNameCol = "metric_name"
  val ValueF64 = "value_f64"
  val ValueI64 = "value_i64"
  val ValueU64 = "value_u64"

  /** Columns that are not user labels (reference src/api/query/prometheus_api.rs:16-24). */
  val internalColumns: Set[String] =
    Set(TimestampCol, TimestampNsCol, MetricNameCol, ValueF64, ValueI64, ValueU64,
      "value", "time_bucket")

  /** Default label set with cardinality classes (reference src/schema/metrics.rs:169-198). */
  val defaultLabels: Seq[(String, CardinalityClass)] = Seq(
    "host" -> CardinalityClass.Medium,
    "service" -> CardinalityClass.Low,
    "env" -> CardinalityClass.Low,
    "region" -> CardinalityClass.Low,
    "instance" -> CardinalityClass.Medium,
    "pod" -> CardinalityClass.High,
    "trace_id" -> CardinalityClass.High)

  /** Build the canonical StructType for a given label set (reference
    * MetricSchemaBuilder, src/schema/metrics.rs:236-276).
    */
  def build(labels: Seq[String] = defaultLabels.map(_._1),
            multiValue: Boolean = true): StructType = {
    val base = Seq(
      StructField(TimestampCol, TimestampType, nullable = false),
      StructField(TimestampNsCol, LongType, nullable = false),
      StructField(MetricNameCol, StringType, nullable = false))
    val labelFields = labels.map(l => StructField(l, StringType, nullable = true))
    val values =
      if (multiValue)
        Seq(StructField(ValueF64, DoubleType, nullable = true),
          StructField(ValueI64, LongType, nullable = true),
          StructField(ValueU64, LongType, nullable = true))
      else Seq(StructField(ValueF64, DoubleType, nullable = true))
    StructType(base ++ labelFields ++ values)
  }

  /** The default empty-store schema registered at startup so `SELECT ... FROM metrics`
    * on an empty store returns 0 rows, not an error (reference
    * src/query/engine.rs:97-101,189-205).
    */
  val default: StructType = build()
}
