package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round probe: run one declared query and decompose its wall
  * time into Spark JOBS (count, duration, call site) and stages (shuffle
  * bytes), so multi-job operators (iterative CC, GD training, index probes)
  * show WHERE the seconds go — the guide §1 "empirical" loop without a UI.
  *
  * Usage: JobProfile <sfDir> <runs> <query names...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runsPer = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffleDir = graft.util.ShmDirs.shuffleDir("graft_bench_shuffle")
    val spark = Harness.session(s"local[$cpus]", cpus, Some(shuffleDir))
    spark.conf.set("spark.graft.resultCache.enabled", "false")

    // same warmup as Bench
    {
      import org.apache.spark.sql.functions.{broadcast, sum => fsum}
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      li.groupBy("l_returnflag").agg(fsum("l_quantity")).count()
      li.limit(1000).join(broadcast(n), li("l_suppkey") % 25 === n("n_nationkey"))
        .orderBy("l_orderkey").count()
    }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobDurs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, site) =>
          jobDurs.add((je.jobId, (je.time - t0) / 1e3, site))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) {
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          val dur = (for (a <- si.completionTime; b <- si.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          stages.add(f"stage ${si.stageId}%3d ${dur}%7.3f s tasks=${si.numTasks}%3d " +
            f"run=${m.executorRunTime / 1e3}%7.3f cpu=${m.executorCpuTime / 1e9}%7.3f " +
            f"gc=${m.jvmGCTime / 1e3}%5.2f in=${m.inputMetrics.bytesRead / 1e6}%7.1f MB " +
            f"sR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%6.2f sW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%6.2f MB " +
            si.name)
        }
      }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to runsPer).foreach { run =>
        jobDurs.clear(); stages.clear(); shuffleReadB = 0L; shuffleWriteB = 0L
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        import scala.jdk.CollectionConverters._
        val ds = jobDurs.asScala.toSeq.sortBy(_._1)
        val jobSum = ds.map(_._2).sum
        println(f"[prof] $name run=$run wall=$wall%.3f s jobs=${ds.size} jobSum=$jobSum%.3f s " +
          f"shufR=${shuffleReadB / 1e6}%.1f MB shufW=${shuffleWriteB / 1e6}%.1f MB")
        ds.foreach { case (id, d, site) =>
          println(f"[prof]   job $id%3d ${d}%8.3f s  $site")
        }
        if (run == runsPer)
          stages.asScala.toSeq.sorted.foreach(s => println(s"[prof]   $s"))
      }
    }
    spark.stop()
  }
}
