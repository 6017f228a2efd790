package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical operators of every action a block runs, read through a
  * QueryExecutionListener. Iterative operators checkpoint each round, so
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

  /** Run `body` and return its result with the operators of each
    * `action` (e.g. "localCheckpoint") it ran, in order. The listener
    * bus is asynchronous: the call waits, up to 30 s, until `expected`
    * such actions have arrived. */
  def of[T](spark: SparkSession, action: String, expected: Int)(
      body: => T): (T, Seq[Seq[SparkPlan]]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[SparkPlan]]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, d: Long): Unit =
        if (funcName == action) seen.add(operators(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Thread.sleep(1500) // let earlier actions' events drain first
    spark.listenerManager.register(listener)
    try {
      val result = body
      val deadline = System.currentTimeMillis() + 30000
      while (seen.size < expected && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      import scala.jdk.CollectionConverters._
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
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
