package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[4,8,8192] dumps the same surface across
    // separate executor JVMs (real shuffle serde) — multi-JVM correctness
    // evidence, not just multi-JVM timing. Same wiring as Bench.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Harness.session(master, cpus, None)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERIES=a,b,c re-dumps a subset into an existing outDir
    // (incremental refresh after a targeted query change); oracle_sql.json is
    // always rewritten in full, so the checker sees current SQL for everything.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    selected.foreach { case (name, fn) =>
      // start marker BEFORE the query runs: a wedged/killed JVM's log then
      // names the in-flight query (the 100× runs need this to isolate a
      // driver stall to one query instead of bisecting blind)
      System.err.println(s"[verify] start $name")
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] done $name (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Staged oracle forms for the 100× scale harness (r12): queries whose
    // one-query oracle exceeds single-node DuckDB memory get a setup-then-
    // chunked-final decomposition (same semantics, split peak). The scale
    // checker uses these ONLY on its digest path; the driver's sf0.01 gate
    // keeps grading the plain oracle_sql.json entry.
    val stages = Map(
      "q_doc_bpe_encode" -> {
        val (setup, finalSql) = graft.text.TextFunctions.bpeEncodeOracleStaged(8)
        (setup, finalSql, "doc_id", 8)
      })
    val stagesJson = stages.map { case (k, (setup, finalSql, key, n)) =>
      val teardown = setup.flatMap { s =>
        "TEMP TABLE (\\S+)".r.findFirstMatchIn(s)
          .map(m => s"DROP TABLE IF EXISTS ${m.group(1)}")
      }
      s"${q(k)}: {" +
        s"${q("setup")}: [${setup.map(q).mkString(",")}], " +
        s"${q("teardown")}: [${teardown.map(q).mkString(",")}], " +
        s"${q("sql")}: ${q(finalSql)}, " +
        s"${q("chunk_key")}: ${q(key)}, " +
        s"${q("chunks")}: $n}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_scale_stages.json"), stagesJson)
    spark.stop()
  }
}
