package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile (q in [0,1]); 0 for an empty sample. */
  def q(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = q(xs, 0.5)

  /** Length of [t0, t1] that none of the intervals covers. */
  def uncovered(t0: Long, t1: Long, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = t0
    ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.sortBy(_._1).foreach {
      case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
    }
    (t1 - t0) - covered
  }
}

/** One traced interval: `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, String])

/**
 * In-memory span recorder. Spans are kept until the run ends and written
 * out once; when tracing is off every call is a no-op apart from running
 * the body.
 */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def record(parent: Long, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, String] = Map.empty, id: Long = 0L): Long =
    if (!on) 0L
    else {
      val sid = if (id != 0L) id else nextId()
      spans.add(Span(sid, parent, name, startNs, endNs, attrs))
      sid
    }

  def span[T](name: String, attrs: Map[String, String])(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally record(0L, name, t0, System.nanoTime(), attrs)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Per-task figures kept by [[JobStats]]. */
final case class TaskRec(stageId: Int, durationMs: Long, cpuMs: Double,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, failed: Boolean)

/** A Spark job; `endMs` is -1 until it ends. Times are wall-clock ms. */
final case class JobRec(jobId: Int, tag: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])

/**
 * SparkListener that keeps every job and task of the run in memory. A job
 * is attributed to the caller through the `perfbench.tag` local property,
 * which the benchmark sets on its own thread around each call into the
 * program.
 */
final class JobStats extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobStats.TagKey))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, tag, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m != null)
      tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime / 1e6,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, failed)
    else tasks += TaskRec(e.stageId, e.taskInfo.duration, 0.0, 0L, 0L, 0L, failed)
  }

  def snapshot: (Seq[JobRec], Seq[TaskRec]) = synchronized((jobs.values.toSeq, tasks.toSeq))
}

object JobStats {
  val TagKey = "perfbench.tag"
}

/**
 * Live heap and GC time over a measured window. The live heap is read
 * after forced full collections at the end of the window: figures taken
 * after the collections the run happens to trigger depend on when they
 * run, not on what the program keeps alive. Two collections, apart, let
 * Spark's cleaner drop the broadcasts and shuffles the first one freed.
 */
final class HeapWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var startGcMs = gcMs

  def reset(): Unit = startGcMs = gcMs

  /** Ends the window: (live heap MB, GC seconds inside the window). */
  def close(): (Double, Double) = {
    val gcS = (gcMs - startGcMs) / 1000.0
    System.gc()
    Thread.sleep(200)
    System.gc()
    (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, gcS)
  }
}
