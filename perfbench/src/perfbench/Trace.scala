package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. `rid` groups the spans of
  * one request; `parent` is 0 for a request's root span.
  */
final case class Span(id: Long, parent: Long, rid: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are recorded only around the harness's own
  * calls into the library's public functions; the library is not instrumented.
  * While not `active`, calls run the body with no bookkeeping.
  */
final class Tracer {
  @volatile var active = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // (rid, current span id) of the calling thread
  private val current = new ThreadLocal[(Long, Long)]

  /** Open a new request (root span); the body sees `rid` as its request id.
    * The Spark jobs the body submits from this thread carry the id too, so
    * [[SparkMeter]] can attribute them.
    */
  def request[T](name: String, sc: SparkContext)(body: Long => T): T =
    if (!active) body(0L)
    else {
      val rid = ids.incrementAndGet()
      sc.setLocalProperty(SparkMeter.RidKey, rid.toString)
      try timed(name, rid, 0L)(body(rid))
      finally sc.setLocalProperty(SparkMeter.RidKey, null)
    }

  /** Child span of the calling thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else current.get() match {
      case null => body
      case (rid, parent) => timed(name, rid, parent)(body)
    }

  private def timed[T](name: String, rid: Long, parent: Long)(body: => T): T = {
    val id = if (parent == 0L) rid * 1000000L else ids.incrementAndGet() + rid * 1000000L
    val saved = current.get()
    current.set((rid, id))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, rid, name, t0, System.nanoTime()))
      current.set(saved)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the union of its children's intervals. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - Tracer.unionNs(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Per span name: (count, total duration ms, total self ms, median duration ms). */
  def summary: Map[String, (Int, Double, Double, Double)] = {
    val self = selfNs
    all.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6,
        Lat.median(ss.map(_.durNs / 1e6)))
    }
  }

  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.durNs / 1e6)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "rid" -> s.rid,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id))))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark listener that attributes jobs, stages and task metrics to the
  * request id set by [[Tracer.request]] on the submitting thread.
  */
final class SparkMeter extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong; val spill = new AtomicLong
    val inputBytes = new AtomicLong
    val jobIntervalsMs = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  private val byRid = new ConcurrentHashMap[Long, Acc]()
  private val stageRid = new ConcurrentHashMap[Int, Long]()
  private val jobRid = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (rid, startMs)

  private def acc(rid: Long): Acc = byRid.computeIfAbsent(rid, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkMeter.RidKey))).foreach { r =>
      val rid = r.toLong
      jobRid.put(e.jobId, (rid, e.time))
      e.stageIds.foreach(s => stageRid.put(s, rid))
      acc(rid).jobs.incrementAndGet()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobRid.remove(e.jobId)).foreach { case (rid, start) =>
      acc(rid).jobIntervalsMs.add((start, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageRid.get(e.stageInfo.stageId)).foreach(rid => acc(rid).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageRid.get(e.stageId)).foreach { rid =>
      val a = acc(rid)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }

  def get(rid: Long): Option[Acc] = Option(byRid.get(rid))
}

object SparkMeter {
  val RidKey = "perfbench.rid"

  /** Offset from the System.nanoTime scale to wall-clock ns (listener times are wall-clock ms). */
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toWallMs(nanoTimeNs: Long): Long = (nanoTimeNs + wallOffsetNs) / 1000000L

  /** Per-request Spark figures, joined with the request's root span. */
  final case class OpStats(jobs: Long, stages: Long, tasks: Long, executorCpuMs: Double,
                           driverGapMs: Double, shuffleReadBytes: Long,
                           shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long)

  def opStats(meter: SparkMeter, root: Span): OpStats = meter.get(root.rid) match {
    case None => OpStats(0, 0, 0, 0.0, root.durNs / 1e6, 0, 0, 0, 0)
    case Some(a) =>
      val ivs = a.jobIntervalsMs.asScala.toSeq.map { case (s, e) => (s * 1000000L, e * 1000000L) }
      val busy = Tracer.unionNs(ivs, root.startNs + wallOffsetNs, root.endNs + wallOffsetNs)
      OpStats(a.jobs.get, a.stages.get, a.tasks.get, a.cpuNs.get / 1e6,
        (root.durNs - busy) / 1e6, a.shuffleRead.get, a.shuffleWrite.get, a.spill.get,
        a.inputBytes.get)
  }
}
