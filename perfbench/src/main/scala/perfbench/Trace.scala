package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed interval of work at a layer boundary. `parent` is the
  * span that caused it (0 for the root); `op` ties a span to the
  * benchmark op it belongs to (-1 outside ops). Times are
  * System.nanoTime, so spans and listener records share one clock. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    t0: Long, t1: Long)

/** In-memory span recorder for the single client thread.
  *
  * While a span is open its id is the SparkContext local property
  * [[Tracer.SpanProp]], so every Spark job the client thread submits
  * inside it carries the id to [[JobListener]]. A disabled tracer runs
  * the body and records nothing. */
final class Tracer {
  /** The session's context; null until the first session is open. */
  var sc: SparkContext = null
  @volatile private var on: Boolean = false
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long](0L)
  val spans = mutable.ArrayBuffer[Span]()
  var op: Long = -1

  def enabled: Boolean = on

  /** Start or stop recording. While stopped, jobs carry no span id, so
    * the listener ignores them. */
  def setEnabled(enable: Boolean): Unit = {
    on = enable
    mark(if (enable) stack.top else 0L)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.top
      stack.push(id)
      mark(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        mark(stack.top)
        spans += Span(id, parent, name, op, t0, t1)
      }
    }

  private def mark(id: Long): Unit =
    if (sc != null)
      sc.setLocalProperty(Tracer.SpanProp, if (id == 0L) null else id.toString)
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Counters of one finished stage attempt, summed over its tasks. */
final class StageRec(val stageId: Int, val attempt: Int) {
  var jobId: Int = -1
  var span: Long = 0
  var t0: Long = 0
  var t1: Long = 0
  var tasks: Int = 0
  var tasksFailed: Int = 0
  var runMs: Long = 0
  var cpuNs: Long = 0
  var schedDelayMs: Long = 0
  var shuffleRead: Long = 0
  var shuffleWrite: Long = 0
  var spill: Long = 0
  var input: Long = 0
  var gcMs: Long = 0
  var peakMem: Long = 0
}

final case class JobRec(jobId: Int, span: Long, t0: Long, t1: Long,
    stages: Seq[Int], ok: Boolean)

/** Records every job, stage attempt and task of spans the tracer
  * marked, into queues shared by the listeners of successive sessions.
  * Jobs submitted outside a traced span are ignored, so the listener
  * costs one property lookup per event while tracing is off.
  *
  * Spark reports event times in wall-clock milliseconds; they are moved
  * onto the tracer's nanoTime clock with the offset taken at start. */
final class JobListener(
    jobs: ConcurrentLinkedQueue[JobRec],
    stages: ConcurrentLinkedQueue[StageRec]
) extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val live = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    prop.foreach { s =>
      val span = s.toLong
      val ids = e.stageIds
      jobSpan.put(e.jobId, (span, ns(e.time), ids))
      ids.foreach(id => stageJob.put(id, (e.jobId, span)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, t0, ids) =>
      val ok = e.jobResult == JobSucceeded
      jobs.add(JobRec(e.jobId, span, t0, ns(e.time), ids, ok))
    }

  private def rec(stageId: Int, attempt: Int): Option[StageRec] =
    Option(stageJob.get(stageId)).map { case (job, span) =>
      live.computeIfAbsent((stageId, attempt), _ => {
        val r = new StageRec(stageId, attempt)
        r.jobId = job; r.span = span
        r
      })
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    rec(e.stageInfo.stageId, e.stageInfo.attemptNumber()).foreach { r =>
      r.t0 = ns(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    rec(e.stageId, e.stageAttemptId).foreach { r =>
      val info = e.taskInfo
      r.synchronized {
        r.tasks += 1
        if (!info.successful) r.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.input += m.inputMetrics.bytesRead
          r.gcMs += m.jvmGCTime
          r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
          // the Spark UI's definition: time the task was not running,
          // deserializing or shipping its result
          r.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(live.remove((si.stageId, si.attemptNumber()))).foreach { r =>
      r.t1 = ns(si.completionTime.getOrElse(System.currentTimeMillis()))
      if (r.t0 == 0) r.t0 = ns(si.submissionTime.getOrElse(System.currentTimeMillis()))
      stages.add(r)
    }
  }
}
