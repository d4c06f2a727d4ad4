package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Lineage-truncating checkpoints for operator internals, behind a
  * scale-safety flag (r13, VERDICT r12 #3 / optimization guide §5).
  *
  * The engine's iterative/multi-consumer operators cut lineage with
  * `localCheckpoint`, which stores blocks on EXECUTORS with no fault
  * tolerance: on a real cluster, losing an executor after lineage truncation
  * fails the job — at 100 TB with preemption that is an availability risk
  * (fine on `local[*]`, where executor == driver). `cutLineage` keeps the
  * default local path byte-for-byte unchanged and, when the session conf
  * `spark.graft.checkpoint.reliable` is `true`, routes every call site to a
  * RELIABLE `checkpoint` instead — data lands in the (HDFS/S3-capable)
  * directory named by `spark.graft.checkpoint.dir`, surviving executor loss.
  * Values are identical either way: both forms materialize the same plan and
  * replay stored rows. Any value of the flag other than `true`/`false` fails
  * the call rather than quietly meaning local.
  *
  * Production notes for the reliable mode: set `spark.graft.checkpoint.dir`
  * to durable shared storage (a non-local master fails without it; a local
  * one falls back to a temp dir). A call whose dir differs from the one the
  * SparkContext latched fails rather than writing to the first. Enable
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so checkpoint
  * files are reclaimed when their RDDs are GC'd (operators here `unpersist`
  * their intermediates, which releases local blocks but not reliable files).
  */
object Checkpoints {

  val ReliableKey = "spark.graft.checkpoint.reliable"
  val DirKey = "spark.graft.checkpoint.dir"

  def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val value = spark.conf.get(ReliableKey, "false")
    val reliable = value.toBooleanOption.getOrElse(throw new IllegalArgumentException(
      s"$ReliableKey must be true or false, got: $value"))
    if (!reliable) df.localCheckpoint(eager)
    else {
      val sc = spark.sparkContext
      val dir = spark.conf.getOption(DirKey).map(new Path(_))
        .map(p => p.getFileSystem(sc.hadoopConfiguration).makeQualified(p))
      // setCheckpointDir latches a fresh subdirectory of the directory given
      dirToLatch(sc.isLocal, sc.getCheckpointDir.map(new Path(_).getParent), dir)
        .foreach(sc.setCheckpointDir)
      df.checkpoint(eager)
    }
  }

  /** The dir `cut` latches, given the context's latched one and the
    * qualified conf `dir`; None when the latched one serves. */
  private[graft] def dirToLatch(isLocal: Boolean, latched: Option[Path],
                                dir: Option[Path]): Option[String] =
    (latched, dir) match {
      case (Some(l), Some(d)) if l != d => throw new IllegalStateException(
        s"$DirKey is $d, but the SparkContext already checkpoints under $l")
      case (Some(_), _) => None
      case (None, Some(d)) => Some(d.toString)
      case (None, None) if isLocal =>
        Some(java.nio.file.Files.createTempDirectory("graft_reliable_ckpt_").toString)
      case (None, None) => throw new IllegalArgumentException(
        s"$ReliableKey is true on a non-local master: set $DirKey to shared storage")
    }

  /** Drop-in for `df.localCheckpoint(eager)` at operator call sites. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(eager: Boolean = true): DataFrame = cut(df, eager)
  }
}
