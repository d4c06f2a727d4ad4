package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StringType
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.catalog.ChunkCatalog
import graft.engine.ResultFormat
import graft.promql.PromQL

/** Expected answers from an uncached, unpruned evaluation: every live chunk of
  * the catalog read with `spark.read.parquet` on a session of its own, the
  * same SQL run over it, and the same result format applied.
  */
final class Reference(spark: SparkSession, catalog: ChunkCatalog) {
  private val ref = spark.newSession()

  /** Re-read the catalog and re-register the full chunk set. */
  def refresh(): Unit = {
    catalog.invalidateCache()
    val paths = catalog.state.chunks.keys.toSeq.sorted
    ref.read.option("mergeSchema", "true").parquet(paths: _*).createOrReplaceTempView("metrics")
  }

  def expected(req: ReadReq): String = req match {
    case RangeReq(q, s, e, step, _) =>
      ResultFormat.toPromMatrix(ref.sql(PromQL.transpileRange(q, s * Gen.Ns, e * Gen.Ns, step)))
    case InstantReq(q, t, _) =>
      ResultFormat.toPromVector(ref.sql(PromQL.transpileInstant(q, Some(t * Gen.Ns))))
    case SqlReq(q, _) => ResultFormat.toJson(ref.sql(q))
    case LabelsReq(_) =>
      val labels = ref.table("metrics").schema.fields
        .filter(f => f.dataType == StringType && f.name != "metric_name").map(_.name)
      Json.obj(Seq("status" -> "success", "data" -> ("__name__" +: labels.toSeq).sorted))
  }
}

object Check {
  private def parse(s: String): JValue = JsonMethods.parse(s)

  /** Answers agree: same structure and strings, numbers within 1e-9 relative.
    * Prometheus result lists are compared as sets (their order among equal
    * values is unspecified); SQL rows keep their ORDER BY order. The SQL
    * route's `stats` block (timings) is ignored.
    */
  def sameAnswer(got: String, want: String): Boolean =
    try same(norm(parse(got)), norm(parse(want)))
    catch { case scala.util.control.NonFatal(_) => false }

  private def norm(v: JValue): JValue = v match {
    case JObject(fs) => JObject(fs.filterNot(_._1 == "stats").map {
      case ("result", JArray(xs)) =>
        "result" -> JArray(xs.map(norm).sortBy(x => JsonMethods.compact(JsonMethods.render(x))))
      case (k, x) => k -> norm(x)
    })
    case JArray(xs) => JArray(xs.map(norm))
    case other => other
  }

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => s.toDoubleOption
    case _ => None
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) ||
      (a.isNaN && b.isNaN)

  private def same(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JObject(x), JObject(y)) =>
      x.map(_._1).sorted == y.map(_._1).sorted &&
        x.forall { case (k, v) => same(v, y.find(_._1 == k).get._2) }
    case (JArray(x), JArray(y)) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (JString(x), JString(y)) if x == y => true
    case _ => (num(a), num(b)) match {
      case (Some(p), Some(q)) => close(p, q)
      case _ => a == b
    }
  }

  /** Order-independent digest of a result: row count plus xor and sum of row hashes. */
  def digest(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(df.columns.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.get(2)}"
  }
}
