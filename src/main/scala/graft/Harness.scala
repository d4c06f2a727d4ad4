package graft

import org.apache.spark.sql.SparkSession

/** The one session the contract mains (Verify, Bench, BenchX10, JobProfile,
  * QueryTimer) run the `SparkEntry` queries in. */
object Harness {

  /** `cpus` sets the shuffle width; `localDir` moves shuffle and spill files
    * (Bench puts them on tmpfs). A `local-cluster[n,c,mb]` master starts
    * executor JVMs that need this process's classpath (sbt's forked-run
    * classpath carries the graft classes) and their own heap size.
    */
  def session(master: String, cpus: String, localDir: Option[String]): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.ts is TIMESTAMP(NANOS) parquet → read as raw ns LongType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    localDir.foreach(builder.config("spark.local.dir", _))
    if (master.startsWith("local-cluster"))
      builder
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "7g"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
