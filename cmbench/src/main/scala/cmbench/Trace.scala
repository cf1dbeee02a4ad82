package cmbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into an engine layer. */
final case class Span(name: String, opId: Int, parent: Int, startNs: Long,
                      endNs: Long)

/** Span recorder for the traced run. Spans are kept in memory and written
  * out when the run ends; with tracing off `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opId = -1

  def beginOp(id: Int): Unit = if (enabled) { opId = id; stack.clear() }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, opId, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }
}

/** Counts Spark work while `active` is set: jobs, stages and tasks from the
  * scheduler, task I/O metrics, and the Catalyst phase times of every
  * executed query. Registered from the benchmark only, in the traced run.
  * The caller drains the listener bus before it flips `active`, so events
  * of the untimed warm-up never land in the counts. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskBusyMs = 0L
  var scanBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spillBytes = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var queries = 0L
  /** Job start/end wall-clock intervals, for the job-wall union. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) { jobs += 1; jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (active) stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      taskBusyMs += m.executorRunTime
      scanBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    if (active) {
      queries += 1
      val ph = qe.tracker.phases
      analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Seconds covered by the union of job intervals. */
  def jobWallSeconds: Double = synchronized {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}
