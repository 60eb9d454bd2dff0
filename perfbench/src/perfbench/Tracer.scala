package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters attributed to one span over one iteration. */
final class SpanStats {
  var wallNs = 0L
  var planMs = 0.0
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var readBytes = 0L
  var writeBytes = 0L
  var jobBusyMs = 0L

  def toJson(cores: Int): String = {
    val wall = wallNs / 1e9
    val driver = math.max(0.0, wall - jobBusyMs / 1e3)
    val busy = if (wall > 0) taskMs / 1e3 / (wall * cores) else 0.0
    def mb(b: Long) = b / (1024.0 * 1024.0)
    Seq("wall_s" -> wall, "plan_ms" -> planMs, "driver_s" -> driver,
      "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
      "task_s" -> taskMs / 1e3, "shuffle_mb" -> mb(shuffleBytes),
      "spill_mb" -> mb(spillBytes), "read_mb" -> mb(readBytes),
      "write_mb" -> mb(writeBytes), "core_busy" -> busy)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}

/** Span tracer registered on the benchmark's own session. `span` opens a
  * named span around one public call; the SparkListener and
  * QueryExecutionListener callbacks attribute jobs, tasks, task metrics
  * and planning time to the span that is open. The listener bus is
  * drained at both span edges, so asynchronous delivery cannot move an
  * event into the wrong span. One client, so at most one span is open. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private var open: SpanStats = null
  private var openMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var iteration = mutable.LinkedHashMap.empty[String, SpanStats]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String)(body: => T): T = {
    PerfbenchAccess.drainListenerBus(sc)
    val s = synchronized {
      open = iteration.getOrElseUpdate(name, new SpanStats)
      openMs = System.currentTimeMillis()
      jobIntervals.clear()
      open
    }
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      PerfbenchAccess.drainListenerBus(sc)
      synchronized {
        val closeMs = System.currentTimeMillis()
        s.wallNs += dt
        s.jobBusyMs += unionMs(jobStart.values.map(st => (st, closeMs)) ++
          jobIntervals, openMs, closeMs)
        jobStart.clear()
        open = null
      }
    }
  }

  /** The spans of the iteration that just ended; starts a new one. */
  def takeIteration(): Map[String, SpanStats] = synchronized {
    val out = iteration.toMap
    iteration = mutable.LinkedHashMap.empty
    out
  }

  private def unionMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach {
        case (a, b) =>
          if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open != null) { open.jobs += 1; jobStart(e.jobId) = e.time }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(st => jobIntervals += ((st, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (open != null) {
      open.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        open.taskMs += m.executorRunTime
        open.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        open.spillBytes += m.diskBytesSpilled
        open.readBytes += m.inputMetrics.bytesRead
        open.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planPhases = Set("analysis", "optimization", "planning")

  private def addPlanning(qe: QueryExecution): Unit = synchronized {
    if (open != null)
      open.planMs += qe.tracker.phases.collect {
        case (p, s) if planPhases(p) => s.durationMs.toDouble
      }.sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = addPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = addPlanning(qe)
}

/** Peak memory held by cached and checkpointed RDD blocks, kept exact
  * from the block-update events (broadcast blocks are left out: they are
  * freed only when a GC clears their references, so their peak follows
  * GC timing, not the program). */
final class CachePeak(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val sizes = mutable.Map.empty[org.apache.spark.storage.BlockId, Long]
  private var total = 0L
  private var peak = 0L
  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize else 0L
      total += now - sizes.getOrElse(b.blockId, 0L)
      if (now == 0L) sizes.remove(b.blockId) else sizes(b.blockId) = now
      peak = math.max(peak, total)
    }
  }

  /** Peak since the last call, in MB; restarts from what is held now. */
  def takePeakMb(): Double = {
    PerfbenchAccess.drainListenerBus(sc)
    synchronized {
      val p = peak
      peak = total
      p / (1024.0 * 1024.0)
    }
  }
}
