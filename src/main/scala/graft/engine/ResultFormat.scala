package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Result delivery formats (reference §2.11, src/api/query/sql_http.rs):
  *
  *  - JSON `{columns, data[][], stats{rows_read, execution_time_ms}}` with the
  *    reference's per-type conversions — timestamps serialize as UNIX NANOSECONDS
  *    (sql_http.rs:269-287, a semantic detail kept);
  *  - CSV with header (sql_http.rs:182-206);
  *  - Arrow IPC stream (sql_http.rs:135-180) via Spark's native collectAsArrow.
  *
  * These shape the final (small) result set — the only place `collect()` is legal.
  */
object ResultFormat {

  /** One cell → JSON with the reference's per-type conversions (timestamps as
    * unix NANOSECONDS, sql_http.rs:269-287). Shared by the buffered JSON
    * response and the streaming frames.
    */
  def jsonValue(row: org.apache.spark.sql.Row, i: Int, dt: DataType): JValue =
    if (row.isNullAt(i)) JNull
    else dt match {
      case TimestampType =>
        // µs-precision timestamp → unix ns (reference serializes ns)
        val inst = row.getAs[java.sql.Timestamp](i).toInstant
        JLong(inst.getEpochSecond * 1000000000L + inst.getNano)
      case LongType => JLong(row.getLong(i))
      case IntegerType => JLong(row.getInt(i).toLong)
      case ShortType => JLong(row.getShort(i).toLong)
      case DoubleType =>
        val d = row.getDouble(i)
        if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
      case FloatType => JDouble(row.getFloat(i).toDouble)
      case BooleanType => JBool(row.getBoolean(i))
      case StringType => JString(row.getString(i))
      case BinaryType =>
        JString(java.util.Base64.getEncoder.encodeToString(row.getAs[Array[Byte]](i)))
      case _ => JString(String.valueOf(row.get(i)))
    }

  /** Streams `df` as `{type: "data", rows, [columns]}` frames of at most
    * `batchRows` rows, hands each frame to `emit` and returns the row count —
    * the SSE and WebSocket streams share it. Partition-at-a-time delivery:
    * toLocalIterator never materializes the whole result on the driver (the
    * reference streams RecordBatches the same way). `withColumns` adds the
    * column list: live-tail frames carry their own, since the tail's schema
    * is the flushed chunks', not the query result's (the reference's
    * batch_to_json is self-describing the same way).
    */
  def streamFrames(df: DataFrame, batchRows: Int, withColumns: Boolean)(
      emit: JObject => Unit): Long = {
    import scala.jdk.CollectionConverters._
    val schema = df.schema
    val columns = List[(String, JValue)](
      "columns" -> JArray(schema.fieldNames.toList.map(JString(_))))
    var n = 0L
    df.toLocalIterator().asScala.grouped(batchRows).foreach { rows =>
      n += rows.size
      emit(JObject(List[(String, JValue)](
        "type" -> JString("data"),
        "rows" -> JArray(rows.toList.map(r =>
          JArray(schema.fields.toList.zipWithIndex.map { case (f, i) =>
            jsonValue(r, i, f.dataType)
          })))) ++ (if (withColumns) columns else Nil)))
    }
    n
  }

  /** `maxRows` bounds the driver-side collect: the limit is planned (Spark
    * CollectLimit — executors stop producing past it), and a clipped result
    * carries `stats.truncated: true` so a client can tell a 100k-row answer
    * from a 100k-row clip. Default Int.MaxValue keeps the unbounded
    * behavior for internal/test callers that shape known-small results.
    */
  def toJson(df: DataFrame, executionTimeMs: Long = 0L,
             maxRows: Int = Int.MaxValue): String = {
    val schema = df.schema
    val collected =
      if (maxRows == Int.MaxValue) df.collect() else df.limit(maxRows + 1).collect()
    val truncated = collected.length > maxRows
    val rows = if (truncated) collected.take(maxRows) else collected
    val data = JArray(rows.toList.map { row =>
      JArray(schema.fields.toList.zipWithIndex.map { case (f, i) =>
        jsonValue(row, i, f.dataType)
      })
    })
    val statsFields = List[(String, JValue)](
      "rows_read" -> JLong(rows.length.toLong),
      "execution_time_ms" -> JLong(executionTimeMs)) ++
      (if (truncated) List[(String, JValue)]("truncated" -> JBool(true)) else Nil)
    val doc = JObject(
      "columns" -> JArray(schema.fieldNames.toList.map(JString(_))),
      "data" -> data,
      "stats" -> JObject(statsFields))
    JsonMethods.compact(JsonMethods.render(doc))
  }

  /** CSV with header — distributed write (no collect), one directory of part files. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode("overwrite").csv(path)

  /** Arrow IPC stream bytes (small results only) — built directly with the Arrow
    * Java API (ships with Spark). Longs/ints → BigInt, doubles → Float8,
    * strings → VarChar, booleans → Bit, timestamps → ns-int64 (the reference's
    * Arrow output serializes ns, sql_http.rs:155-168).
    */
  def toArrow(df: DataFrame): Array[Byte] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._

    val rows = df.collect()
    val sparkSchema = df.schema
    val fields = sparkSchema.fields.map { f =>
      val at: ArrowType = f.dataType match {
        case LongType | IntegerType | ShortType | TimestampType =>
          new ArrowType.Int(64, true)
        case DoubleType | FloatType => new ArrowType.FloatingPoint(
          org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)
        case BooleanType => ArrowType.Bool.INSTANCE
        case _ => ArrowType.Utf8.INSTANCE
      }
      new Field(f.name, FieldType.nullable(at), null)
    }
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(new ASchema(fields.toList.asJava), allocator)
    try {
      root.setRowCount(rows.length)
      sparkSchema.fields.zipWithIndex.foreach { case (f, ci) =>
        val vec = root.getVector(f.name)
        rows.zipWithIndex.foreach { case (row, ri) =>
          if (row.isNullAt(ci)) ()
          else (f.dataType, vec) match {
            case (LongType, v: BigIntVector) => v.setSafe(ri, row.getLong(ci))
            case (IntegerType, v: BigIntVector) => v.setSafe(ri, row.getInt(ci).toLong)
            case (ShortType, v: BigIntVector) => v.setSafe(ri, row.getShort(ci).toLong)
            case (TimestampType, v: BigIntVector) =>
              val inst = row.getAs[java.sql.Timestamp](ci).toInstant
              v.setSafe(ri, inst.getEpochSecond * 1000000000L + inst.getNano)
            case (DoubleType, v: Float8Vector) => v.setSafe(ri, row.getDouble(ci))
            case (FloatType, v: Float8Vector) => v.setSafe(ri, row.getFloat(ci).toDouble)
            case (BooleanType, v: BitVector) => v.setSafe(ri, if (row.getBoolean(ci)) 1 else 0)
            case (_, v: VarCharVector) =>
              v.setSafe(ri, String.valueOf(row.get(ci)).getBytes("UTF-8"))
            case _ => ()
          }
        }
        vec.setValueCount(rows.length)
      }
      val out = new java.io.ByteArrayOutputStream()
      val writer = new ArrowStreamWriter(root, null, out)
      writer.start(); writer.writeBatch(); writer.end(); writer.close()
      out.toByteArray
    } finally {
      root.close(); allocator.close()
    }
  }

  /** Prometheus JSON matrix payload from a range-query result (reference
    * convert_to_prometheus_matrix, prometheus_api.rs:1176-1237): rows grouped into
    * series keyed by their label values (reference joins with \x00 internally);
    * sample timestamps come from time_bucket / 1e9.
    */
  def toPromMatrix(df: DataFrame): String = {
    val schema = df.schema
    val labelCols = schema.fieldNames.filterNot(
      Set("metric_name", "value", "timestamp_ns", "time_bucket").contains)
    val rows = df.collect().toList
    val series = rows.groupBy { row =>
      (String.valueOf(row.getAs[Any]("metric_name")),
        labelCols.toList.map(l => String.valueOf(row.getAs[Any](l))))
    }
    val results = series.toList.sortBy(_._1.toString).map { case ((name, labelVals), rs) =>
      val metric = JObject(
        ("__name__" -> (JString(name): JValue)) ::
          labelCols.toList.zip(labelVals).collect {
            case (l, v) if v != "null" => l -> (JString(v): JValue)
          })
      val values = JArray(rs.sortBy(_.getAs[Long]("time_bucket")).map { row =>
        JArray(List(
          JDouble(row.getAs[Long]("time_bucket") / 1e9),
          JString(String.valueOf(row.getAs[Any]("value"))))): JValue
      })
      JObject("metric" -> metric, "values" -> values): JValue
    }
    JsonMethods.compact(JsonMethods.render(JObject(
      "status" -> JString("success"),
      "data" -> JObject(
        "resultType" -> JString("matrix"),
        "result" -> JArray(results)))))
  }

  /** Prometheus JSON vector payload from an instant-query result
    * (reference prometheus_api.rs:1126-1175): rows → {metric{__name__,labels},
    * value:[unix_s, "v"]}.
    */
  def toPromVector(df: DataFrame): String = {
    val schema = df.schema
    val labelCols = schema.fieldNames.filterNot(
      Set("metric_name", "value", "timestamp_ns", "time_bucket").contains)
    val results = df.collect().toList.map { row =>
      val metric = JObject(
        ("__name__" -> (JString(String.valueOf(row.getAs[Any]("metric_name"))): JValue)) ::
          labelCols.toList.flatMap { l =>
            Option(row.getAs[Any](l)).map(v => l -> (JString(String.valueOf(v)): JValue))
          })
      val tsSec = schema.fieldNames.find(_ == "timestamp_ns")
        .map(_ => row.getAs[Long]("timestamp_ns") / 1e9).getOrElse(0.0)
      JObject(
        "metric" -> metric,
        "value" -> JArray(List(JDouble(tsSec),
          JString(String.valueOf(row.getAs[Any]("value"))))))
    }
    JsonMethods.compact(JsonMethods.render(JObject(
      "status" -> JString("success"),
      "data" -> JObject(
        "resultType" -> JString("vector"),
        "result" -> JArray(results)))))
  }
}
