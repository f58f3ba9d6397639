package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as Spark listener event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Bytes of cached RDD blocks, tracked from block updates and RDD
  * unpersists, with the peak since the last reset. Always on: it feeds the
  * end-to-end cache_peak_mb. One tracker belongs to one SparkSession.
  */
final class CacheTracker extends SparkListener {
  private val sizes = mutable.HashMap[RDDBlockId, Long]()
  private var total = 0L
  private var base = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val i = e.blockUpdatedInfo
        val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
        total += size - sizes.getOrElse(id, 0L)
        if (size == 0L) sizes.remove(id) else sizes(id) = size
        peak = math.max(peak, total)
      case _ =>
    }
  }

  // unpersisting an RDD removes its blocks without posting block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    sizes.keys.filter(_.rddId == e.rddId).toList.foreach(id => total -= sizes.remove(id).getOrElse(0L))
  }

  /** Start a job: its peak is counted above what is cached now. */
  def resetPeak(): Unit = synchronized { base = total; peak = total }
  /** Peak bytes cached since the last reset, above what was cached then. */
  def peakBytes: Long = synchronized(peak - base)
  /** Bytes cached now. */
  def totalBytes: Long = synchronized(total)
}

final case class JobRec(startMs: Double, endMs: Double, callSite: String, stages: Seq[Int])
final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, shuffleWrite: Long,
                         outBytes: Long, recordsRead: Long)

/** Records jobs (with their call sites), completed stages and task metrics
  * while attached. Registered only for traced jobs.
  */
final class TraceListener extends SparkListener {
  private val starts = mutable.HashMap[Int, (Double, String, Seq[Int])]()
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.ArrayBuffer[Int]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()

  // SQL execution id -> (root execution id, call site of its action)
  private val executions = mutable.HashMap[Long, (Long, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), s.details)
    }
    case _ =>
  }

  /** The call site that caused a job. Jobs Spark SQL runs on its own pools
    * for a Dataset action (adaptive query stages, broadcast builds) are
    * traced back to that action; other jobs carry their result stage's site
    * (for broadcast builds under an RDD-level action, such as the crawl's
    * frontier checkpoint, that is the broadcast pool).
    */
  private def callSite(e: SparkListenerJobStart): String = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
      .flatMap { case (root, site) => executions.get(root).map(_._2).orElse(Some(site)) }
    exec.getOrElse(
      if (e.stageInfos.isEmpty) "" else Option(e.stageInfos.maxBy(_.stageId).details).getOrElse(""))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = (e.time.toDouble, callSite(e), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, site, st) => jobs += JobRec(t0, e.time.toDouble, site, st) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
      m.inputMetrics.recordsRead)
  }

  /** Everything recorded since the last call, then forget it. */
  def take(): (Seq[JobRec], Seq[Int], Seq[TaskRec]) = synchronized {
    val out = (jobs.toSeq, stages.toSeq, tasks.toSeq)
    jobs.clear(); stages.clear(); tasks.clear(); executions.clear()
    out
  }
}

/** A span: one timed piece of work at a layer boundary, kept in memory and
  * written out when the run ends. `job` is the closed-loop job it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, job: Int, startMs: Double, endMs: Double)

final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(parent: Int, name: String, job: Int, startMs: Double, endMs: Double): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, parent, name, job, startMs, endMs)
    id
  }
  def all: Seq[Span] = synchronized(buf.toSeq)

  /** Self time per span name and job: duration minus the part of it that
    * child spans cover, summed, over the jobs that have such spans.
    */
  def selfSecondsPerJob: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        (s.endMs - s.startMs - Intervals.covered(kids, s.startMs, s.endMs)) / 1e3
      }.sum / ss.map(_.job).distinct.size
    }
  }
}

object Intervals {
  /** Length of [lo, hi] covered by the union of `xs`. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Bytes allocated by the calling thread, where the JVM can measure them.
  * The HotSpot-specific bean is looked up defensively, so another JVM yields
  * None (and the alloc metrics are reported absent) instead of a
  * ClassCastException.
  */
object AllocCounter {
  private val read: Option[() => Long] =
    try {
      java.lang.management.ManagementFactory.getThreadMXBean match {
        case b: com.sun.management.ThreadMXBean if b.isThreadAllocatedMemorySupported =>
          if (!b.isThreadAllocatedMemoryEnabled) b.setThreadAllocatedMemoryEnabled(true)
          Some(() => b.getThreadAllocatedBytes(Thread.currentThread().getId))
        case _ => None
      }
    } catch {
      case _: LinkageError | _: UnsupportedOperationException | _: SecurityException => None
    }

  def available: Boolean = read.isDefined
  def bytes(): Long = read.map(_()).getOrElse(0L)
}

/** JVM-wide garbage collection time, all collectors. */
object GcClock {
  def seconds(): Double = {
    var ms = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      if (b.getCollectionTime > 0) ms += b.getCollectionTime
    }
    ms / 1e3
  }
}
