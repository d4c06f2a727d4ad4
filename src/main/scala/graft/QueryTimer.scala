package graft

/** Isolated per-query timer (r8 directive #1: round-over-round comparisons
  * must come from a JVM that runs ONLY the queries under study — the shared
  * Bench JVM accumulates heap/GC pressure from 100+ queries and its sf0.1
  * medians drift with fixture count, not plan quality).
  *
  * Usage: QueryTimer <sfDir> <runs> <query names...>   (names may be 'all')
  * Prints one JSON line: {"sf_dir":..,"queries":{name:{"runs":[..],"median":..}},
  * "gc_time_ms":..} — same timing discipline as Bench's sweep (count() the
  * result, median of N runs, warmup pass first).
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runsPer = args(1).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names: Seq[String] =
      if (args.length == 3 && args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val shuffleDir = graft.util.ShmDirs.shuffleDir("graft_bench_shuffle")
    val spark = Harness.session(s"local[$cpus]", cpus, Some(shuffleDir))
    spark.conf.set("spark.graft.resultCache.enabled", "false")

    // same warmup as Bench: JIT + codegen + shuffle machinery exercised once
    {
      import org.apache.spark.sql.functions.{broadcast, sum => fsum}
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      li.groupBy("l_returnflag").agg(fsum("l_quantity")).count()
      li.limit(1000).join(broadcast(n), li("l_suppkey") % 25 === n("n_nationkey"))
        .orderBy("l_orderkey").count()
    }

    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    def time(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }

    val out = scala.collection.mutable.LinkedHashMap[String, (Seq[Double], Double)]()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[qt] unknown query: $name")
        case Some(fn) =>
          try {
            fn(spark, sfDir).count() // warm (plan compile, fixture memo builds)
            val runs = (1 to runsPer).map(_ => time(fn(spark, sfDir).count()))
            val med = runs.sorted.apply(runs.size / 2)
            out(name) = (runs.map(r => (r * 1000).round / 1000.0), med)
            System.err.println(f"[qt] $name: median ${med}%.3f s (${runs.map(r => f"$r%.2f").mkString(",")})")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[qt] $name FAILED: ${e.getMessage}") }
      }
    }
    val qJson = out.map { case (k, (runs, med)) =>
      s""""$k":{"runs":[${runs.mkString(",")}],"median":$med}"""
    }.mkString(",")
    println(s"""{"sf_dir":"$sfDir","queries":{$qJson},"gc_time_ms":$gcMs}""")
    spark.stop()
  }
}
