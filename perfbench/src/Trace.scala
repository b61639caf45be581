package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region: a pass, or a step inside a pass. Times are epoch
  * milliseconds so they line up with Spark's task launch/finish stamps;
  * `durNs` is the monotonic duration. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
                      startMs: Long, endMs: Long, durNs: Long, ok: Boolean)

/** Per-job totals, filled from the listener bus. `span` is the step span
  * id the job's submitting thread carried in [[Trace.SpanKey]]. */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var retries = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listeners of the traced run: one [[SparkListener]] for jobs, stages
  * and tasks, one [[QueryExecutionListener]] for Catalyst phase times,
  * one [[StreamingQueryListener]] for micro-batch progress. Everything is
  * kept in memory and read once the run is over. */
final class Trace extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** (first phase start ms, summed phase ms) per executed query. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
    val rec = new JobRec(e.jobId, tag.map(_.toInt).getOrElse(-1), e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      j.synchronized { j.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        val info = e.taskInfo
        j.tasks += 1
        if (!info.successful || info.attemptNumber > 0) j.retries += 1
        j.intervals += ((info.launchTime, info.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Blocks until every started job has ended on the listener bus (task
    * events precede their job's end event on the same queue). */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing stage/progress events
  }
}

object Trace {
  /** Local property carrying the id of the step span a job belongs to. */
  val SpanKey = "perfbench.span"

  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
