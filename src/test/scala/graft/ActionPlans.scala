package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The physical operators of every action a block runs, read from its
  * `graft.core.Trace` record. Iterative operators checkpoint each round, so
  * the frame they return plans only the last projection; the rounds are
  * visible only as their own actions. */
object ActionPlans {
  /** Every operator of an executed plan, query stages included, through
    * AQE wrappers. Cached relations are leaves: the walk does not descend
    * into an InMemoryRelation's build lineage. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case st: QueryStageExec => st +: operators(st.plan)
    case other => other +: other.children.flatMap(operators)
  }

  /** Run `body` and return its result with the operators of every
    * `action` (e.g. "localCheckpoint") it ran, in order. */
  def of[T](spark: SparkSession, action: String)(body: => T): (T, Seq[Seq[SparkPlan]]) = {
    val (result, record) = graft.core.Trace.of(spark)(body)
    (result, record.actions.filter(_.funcName == action).map(a => operators(a.plan)))
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold=-1`, which
    * moves the graph rounds onto their shuffled layout and the ANN
    * query-side gates onto their shuffle joins. */
  def withoutBroadcast[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, before)
  }
}
