package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Throwaway per-stage profiler for scale investigations (not part of
  * the library surface): runs named queries and prints, per completed
  * stage, wall time, task-time sum, record/byte volumes for input,
  * shuffle read and shuffle write, plus memory/disk spill — the
  * evidence that tells WHICH exchange or scan dominates an expensive
  * entry before optimizing it.
  *
  * Usage: runMain graft.tools.StageProf <dir> <name[,name...]>
  *
  * Each query runs once untimed first (cache and JIT warm, like the
  * bench's warm runs), and the stage listener is attached only around
  * the timed run, so the printed stages attribute the warm run the
  * bench reports. Session confs come from `GRAFT_SESSION_CONF`.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf10")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("reco_item_item"))
    val spark = graft.core.GraftSession.local("graft-stageprof")
    val listener = new SparkListener {
      // job boundaries: serialized driver barriers are invisible in the
      // per-stage table (a query "one action" can be many jobs — e.g.
      // CollectLimitExec's incremental executeTake); print each job's
      // wall so fixed job-chain cost is countable.
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        jobStart.put(ev.jobId, ev.time)
        jobSite.put(ev.jobId,
          Option(ev.properties.getProperty("callSite.short")).getOrElse("?"))
        println(f"[job   ${ev.jobId}%4d] START " +
          jobSite.get(ev.jobId).takeWhile(_ != '\n').take(60))
      }
      override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
        val w = Option(jobStart.get(ev.jobId))
          .map(t => (ev.time - t) / 1000.0).getOrElse(-1.0)
        println(f"[job   ${ev.jobId}%4d] wall=$w%8.1fs  " +
          Option(jobSite.get(ev.jobId)).getOrElse(""))
      }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          c <- si.completionTime; s <- si.submissionTime
        } yield c - s).getOrElse(-1L)
        println(f"[stage ${si.stageId}%4d] wall=${wall / 1000.0}%8.1fs " +
          f"taskTime=${m.executorRunTime / 1000.0}%9.1fs tasks=${si.numTasks}%4d " +
          f"in=${m.inputMetrics.recordsRead}%12d rec/${m.inputMetrics.bytesRead / 1e6}%9.0fMB " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%12d rec/${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.0fMB " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%12d rec/${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.0fMB " +
          f"spillMem=${m.memoryBytesSpilled / 1e6}%8.0fMB spillDisk=${m.diskBytesSpilled / 1e6}%8.0fMB  " +
          si.name.takeWhile(_ != '\n').take(60))
      }
    }
    names.foreach { n =>
      println(s"=== $n @ $dir ===")
      graft.SparkEntry.queries(n)(spark, dir).count()
      // the listener bus is asynchronous: let the warm-up's events
      // drain before the listener that prints them is attached
      Thread.sleep(500)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val c = graft.SparkEntry.queries(n)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // let straggler stage-completed events drain before the footer
      Thread.sleep(1000)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[prof] $n rows=$c wall=$dt%.1fs")
      graft.core.GraftSession.reclaimFinished()
    }
    graft.core.GraftSession.dropScratch(spark)
    spark.stop()
  }
}
