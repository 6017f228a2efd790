package graft.tools

import graft.core.Trace

/** Throwaway per-stage profiler for scale investigations (not part of
  * the library surface): runs named queries and prints the jobs of the
  * timed run and, per completed stage, wall time, task-time sum,
  * record/byte volumes for input, shuffle read and shuffle write, plus
  * memory/disk spill — the evidence that tells WHICH exchange or scan
  * dominates an expensive entry before optimizing it.
  *
  * Usage: runMain graft.tools.StageProf <dir> <name[,name...]>
  *
  * Each query runs once untimed first (cache and JIT warm, like the
  * bench's warm runs); only the timed run is traced, so the printed
  * stages attribute the warm run the bench reports. Session confs come
  * from `GRAFT_SESSION_CONF`.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf10")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq("reco_item_item"))
    val spark = graft.core.GraftSession.local("graft-stageprof")
    names.foreach { n =>
      println(s"=== $n @ $dir ===")
      graft.SparkEntry.queries(n)(spark, dir).count()
      val ((c, dt), record) = Trace.of(spark) {
        val t0 = System.nanoTime()
        val c = graft.SparkEntry.queries(n)(spark, dir).count()
        (c, (System.nanoTime() - t0) / 1e9)
      }
      // a query's one action can be many jobs (e.g. CollectLimitExec's
      // incremental executeTake): each is a serialized driver barrier
      record.jobs.foreach(j =>
        println(f"[job   ${j.id}%4d] ${j.callSite.takeWhile(_ != '\n').take(60)}"))
      record.stages.foreach { s =>
        println(f"[stage ${s.id}%4d] wall=${s.wallMs / 1000.0}%8.1fs " +
          f"taskTime=${s.runMs / 1000.0}%9.1fs tasks=${s.tasks}%4d " +
          f"in=${s.inputRecords}%12d rec/${s.inputBytes / 1e6}%9.0fMB " +
          f"sr=${s.shuffleReadRecords}%12d rec/${s.shuffleReadBytes / 1e6}%9.0fMB " +
          f"sw=${s.shuffleWriteRecords}%12d rec/${s.shuffleWriteBytes / 1e6}%9.0fMB " +
          f"spillMem=${s.memorySpillBytes / 1e6}%8.0fMB spillDisk=${s.diskSpillBytes / 1e6}%8.0fMB  " +
          s.name.take(60))
      }
      println(f"[prof] $n rows=$c wall=$dt%.1fs")
      graft.core.GraftSession.reclaimFinished()
    }
    graft.core.GraftSession.dropScratch(spark)
    spark.stop()
  }
}
