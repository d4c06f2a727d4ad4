package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (lazy, reused across suites in the same
  * JVM since Test/fork=true gives a single forked JVM for the test run).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `sql` over an unpruned spark.read.parquet of every chunk `cat` holds,
    * bound as `metrics` on a fresh session with the shared session's time
    * zone: an answer that no QueryEngine pruning or routing produced.
    */
  def referenceRows(cat: graft.catalog.ChunkCatalog, sql: String): Seq[Seq[Any]] = {
    val ref = spark.newSession()
    ref.conf.set("spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone"))
    ref.read.parquet(cat.allChunks.map(_.path): _*).createOrReplaceTempView("metrics")
    ref.sql(sql).collect().map(_.toSeq).toSeq
  }
}
