package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ExecutionBridge

/** What a block of driver code ran on Spark: its jobs, stages and SQL
  * actions. This is the one place that listens to the scheduler; tools
  * and specs count work through `Trace.of`.
  *
  * Attribution is by a job tag of the call's own. Spark copies the
  * calling thread's tags into every job (`spark.job.tags`, also for the
  * jobs AQE and broadcasts start from their own threads) and into every
  * SQL execution's start event, so work another thread runs at the same
  * time is never counted, and an action that runs no job is still seen.
  * Tags add to each other, so the caller's job group and tags are kept
  * and an enclosing `Trace.of` sees the work of a nested one.
  *
  * Completion is exact: after the body a sentinel job runs under a tag
  * of its own, and the listener bus delivers one queue's events in
  * order, so when the sentinel's start arrives every event of the body
  * has arrived before it. */
object Trace {
  final case class Job(id: Int, callSite: String)

  /** One completed stage attempt. `runMs` is the stage's summed task
    * run time; `wallMs` is submission to completion. */
  final case class Stage(id: Int, attempt: Int, name: String, wallMs: Long,
      tasks: Int, runMs: Long, inputRecords: Long, inputBytes: Long,
      shuffleReadRecords: Long, shuffleReadBytes: Long,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long)

  /** One successful SQL action (e.g. "collect", "count",
    * "localCheckpoint"): its executed plan and the planning phases'
    * durations (analysis, optimization, planning) in ms. */
  final case class Action(funcName: String, plan: SparkPlan, phaseMs: Map[String, Long])

  /** Jobs in start order, stages and actions in completion order. */
  final case class Record(jobs: Seq[Job], stages: Seq[Stage], actions: Seq[Action])

  /** Run `body` and return its result with the record of the work it
    * ran. When `body` throws, the listener is removed, the thread's tags
    * are restored and the exception propagates. */
  def of[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val listener = new Listener(s"graft-trace-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(listener.tag)
      val result = try body finally sc.removeJobTag(listener.tag)
      // the sentinel carries none of the caller's tags: an enclosing
      // trace would otherwise count it as one of its body's jobs
      val callerTags = sc.getJobTags()
      sc.clearJobTags()
      try {
        sc.addJobTag(listener.sentinel)
        sc.parallelize(Seq(1), 1).count()
      } finally {
        sc.clearJobTags()
        sc.addJobTags(callerTags)
      }
      if (!listener.done.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the listener bus did not deliver the trace's sentinel job")
      (result, listener.record)
    } finally sc.removeSparkListener(listener)
  }

  private final class Listener(val tag: String) extends SparkListener {
    val sentinel = s"$tag-sentinel"
    val done = new CountDownLatch(1)
    private val jobs = new ConcurrentLinkedQueue[Job]()
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val actions = new ConcurrentLinkedQueue[Action]()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val executionIds = ConcurrentHashMap.newKeySet[Long]()

    private def tags(p: java.util.Properties): Set[String] =
      Option(p).flatMap(q => Option(q.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = tags(e.properties)
      // the job's result stage is its newest and is named by the call
      // site ("count at X.scala:12"); `callSite.short` is set only under
      // an explicit setCallSite. A job over no partitions has no stage.
      if (t(tag)) jobs.add(Job(e.jobId, e.stageInfos.maxByOption(_.stageId).fold("")(_.name)))
      if (t(sentinel)) done.countDown()
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tags(e.properties)(tag)) stageIds.add(e.stageInfo.stageId)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (stageIds.contains(si.stageId)) {
        val m = si.taskMetrics
        val wall = (for (c <- si.completionTime; s <- si.submissionTime) yield c - s).getOrElse(-1L)
        stages.add(Stage(si.stageId, si.attemptNumber(), si.name.takeWhile(_ != '\n'), wall,
          si.numTasks, m.executorRunTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags(tag) =>
        executionIds.add(s.executionId)
      case end: SparkListenerSQLExecutionEnd if executionIds.contains(end.executionId) =>
        ExecutionBridge.succeeded(end).foreach { case (name, qe) =>
          actions.add(Action(name, qe.executedPlan, qe.tracker.phases.map {
            case (phase, p) => phase -> (p.endTimeMs - p.startTimeMs)
          }))
        }
      case _ =>
    }

    def record: Record =
      Record(jobs.asScala.toSeq, stages.asScala.toSeq, actions.asScala.toSeq)
  }
}
