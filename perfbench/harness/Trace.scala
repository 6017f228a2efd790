package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw listener events, kept in memory for the whole run and attributed
  * to ops by time window when the run ends. Ops run one at a time, so a
  * job, stage or task belongs to the op whose window holds its start. */
object TraceBuffer {
  final case class Job(id: Int, startMs: Long)
  final case class Stage(id: Int, attempt: Int, submitMs: Long, endMs: Long)
  final case class Task(stageId: Int, stageAttempt: Int, launchMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, resultBytes: Long,
      inputBytes: Long, inputRows: Long, outputBytes: Long,
      shuffleWriteBytes: Long, shuffleWriteRows: Long, fetchWaitMs: Long,
      spillBytes: Long)
  /** One executed query: the earliest QueryPlanningTracker phase start,
    * and the summed duration of its phases. */
  final case class Plan(startMs: Long, planMs: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()
  /** Nanoseconds spent inside this file's callbacks: the tracing cost
    * when no untraced run is at hand to compare with. */
  val callbackNs = new java.util.concurrent.atomic.AtomicLong()
  private def timed(f: => Unit): Unit = {
    val n0 = System.nanoTime()
    f
    lastEventMs = System.currentTimeMillis()
    callbackNs.addAndGet(System.nanoTime() - n0)
  }

  def addPlan(qe: QueryExecution): Unit = timed {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add(Plan(phases.map(_.startTimeMs).min,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum))
  }

  class SchedulerListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.add(Job(e.jobId, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.stageAttemptId,
        e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.resultSize, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Waits until the asynchronous listener bus has been quiet for
    * `quietMs`, so every event of the finished ops is in the buffers. */
  def drain(quietMs: Long = 700, maxMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEventMs < quietMs &&
        System.currentTimeMillis() < until) Thread.sleep(50)
  }

  /** Listener counts of the window [startMs, endMs]. */
  def countsIn(startMs: Long, endMs: Long): Map[String, Double] = {
    def in(t: Long) = t >= startMs && t <= endMs
    val st = stages.asScala.filter(s => in(s.submitMs)).toSeq
    val submit = stages.asScala.map(s => (s.id, s.attempt) -> s.submitMs).toMap
    val tk = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    // op wall time with no stage running: the window minus the union of
    // the stage intervals clipped to it
    val covered = st.map(s => (math.max(s.submitMs, startMs), math.min(s.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
      }._1
    val plan = plans.asScala.filter(p => in(p.startMs)).toSeq
    Map(
      "scheduler.jobs" -> jobs.asScala.count(j => in(j.startMs)).toDouble,
      "scheduler.stages" -> st.size.toDouble,
      "scheduler.tasks" -> tk.size.toDouble,
      "scheduler.stage_free_ms" -> (endMs - startMs - covered).toDouble,
      "scheduler.task_wait_ms" -> tk.map(t =>
        math.max(0L, t.launchMs - submit.getOrElse((t.stageId, t.stageAttempt), t.launchMs))).sum.toDouble,
      "catalyst.plan_ms" -> plan.map(_.planMs).sum.toDouble,
      "catalyst.queries" -> plan.size.toDouble,
      "scan.input_bytes" -> tk.map(_.inputBytes).sum.toDouble,
      "scan.input_rows" -> tk.map(_.inputRows).sum.toDouble,
      "output.bytes_written" -> tk.map(_.outputBytes).sum.toDouble,
      "exchange.shuffle_write_bytes" -> tk.map(_.shuffleWriteBytes).sum.toDouble,
      "exchange.shuffle_records" -> tk.map(_.shuffleWriteRows).sum.toDouble,
      "exchange.fetch_wait_ms" -> tk.map(_.fetchWaitMs).sum.toDouble,
      "exchange.spill_bytes" -> tk.map(_.spillBytes).sum.toDouble,
      "executor.run_ms" -> tk.map(_.runMs).sum.toDouble,
      "executor.cpu_ms" -> tk.map(_.cpuNs).sum / 1e6,
      "executor.gc_ms" -> tk.map(_.gcMs).sum.toDouble,
      "driver.result_bytes" -> tk.map(_.resultBytes).sum.toDouble)
  }
}

/** Registered through the static conf `spark.sql.queryExecutionListeners`
  * rather than on one session's listener manager: the program creates
  * child sessions (`Analytics.runSql`, the streaming sinks), and only the
  * static conf reaches those. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    TraceBuffer.addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    TraceBuffer.addPlan(qe)
}

/** Samples the bytes under the run's scratch directories (Spark local
  * dirs and the JVM temp dir) and keeps the peak. */
final class ScratchSampler(dirs: Seq[java.io.File], periodMs: Long = 200) {
  @volatile private var running = true
  @volatile var peakBytes: Long = 0L
  private def size(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
    else f.length()
  private val thread = new Thread(() => {
    while (running) {
      peakBytes = math.max(peakBytes, dirs.map(size).sum)
      Thread.sleep(periodMs)
    }
  }, "perfbench-scratch-sampler")
  thread.setDaemon(true)
  thread.start()
  def stop(): Long = { running = false; thread.join(); peakBytes }
}
