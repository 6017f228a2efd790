package graft.tools

/** Print the formatted physical plan of named queries against a data
  * dir — the `.explain("formatted")` loop the build process runs after
  * every operator lands ("iterate until it's the plan you'd want"),
  * packaged so plan inspection at any scale (sf10's statistics differ
  * from sf0.01's!) is one command:
  *
  *   runMain graft.tools.PlanDump <sfDir> <name>[,<name>...]
  *
  * Planning itself consults file-level statistics only, BUT a few
  * query CONSTRUCTORS run real jobs or side effects before returning
  * their DataFrame (etl_backfill/etl_pipeline stage and read back a
  * whole scratch pipeline; reco_item_item checkpoints its capped
  * purchases and collects the per-item counts its kernel codes items
  * by). For those names a plan dump is NOT side-effect-free at scale;
  * they are listed in `constructionSideEffects` and the dump prints a
  * warning first. Everything else plans in seconds even where
  * execution is minutes.
  *
  * The executed plan of every ACTION fired while a constructor runs is
  * printed too: iterative queries truncate lineage per round
  * (localCheckpoint), so the returned frame's plan shows only the
  * final projection and the per-round join strategy is visible only
  * action by action. Session confs (e.g. the broadcast threshold that
  * picks the graph loop's and the ANN gates' paths) come from
  * `GRAFT_SESSION_CONF`.
  */
object PlanDump {
  /** Names whose (SparkSession, dir) => DataFrame constructor writes
    * scratch, or runs the jobs of a whole build, before it returns a
    * frame — dumping their plan at sf10 runs that work for real. A
    * constructor that only checkpoints its result or collects a small
    * fact also runs jobs; those show as action plans and are not
    * listed. */
  val constructionSideEffects: Set[String] = Set(
    "etl_backfill", "etl_pipeline", "etl_wap", "etl_scd2",
    "etl_scd2_merge", "llm_corpus_build", "llm_corpus_audit",
    "st_corpus_ingest", "s13_compact", "s23_deletion_vectors",
    "reco_item_item")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q1_agg"))
    val spark = graft.core.GraftSession.local("graft-plandump")
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        println(s"\n----- action: $funcName -----")
        println(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n===== $n @ $dir =====")
      if (constructionSideEffects.contains(n))
        println(s"[plandump] WARNING: $n's constructor runs jobs/side " +
          "effects at DataFrame-build time — this dump executes real " +
          "work at this scale, not just planning.")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    // the execution listener bus is asynchronous — let action-plan
    // events drain before tearing the session down
    Thread.sleep(2000)
    graft.core.GraftSession.dropScratch(spark)
    spark.stop()
  }
}
