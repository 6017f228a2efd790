package graft

import graft.analytics.Analytics
import graft.core.{Tables, Trace}
import graft.ml.Recommender

/** Job counts of the serving requests. On a small model a request's
  * latency is its number of Spark jobs, so each count is pinned exactly:
  * a change that adds a job to a request fails here. A table read on a
  * warm file listing takes its schema from `Tables` and runs none. */
class ServingJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val model = RecommenderSpec.model(spark)
  private val dir = "perfbench/data/sf0.01"

  /** Jobs started by `f`. */
  private def jobsOf(f: => Any): Int = Trace.of(spark)(f)._2.jobs.size

  test("the first request on a fresh model builds its index: two collects") {
    val fresh = RecommenderSpec.model(spark, seed = 3)
    assert(jobsOf(Recommender.cosineTopK(fresh, Seq(0, 7).toDF("user"), 5).collect()) == 2)
  }

  test("cosineTopK on a local user frame runs no job once the model is indexed") {
    val users = Seq(0, 7, 21).toDF("user")
    Recommender.cosineTopK(model, users, 5).collect() // build the index
    assert(jobsOf(Recommender.cosineTopK(model, users, 5).collect()) == 0)
  }

  test("cosineTopK for cold users only runs no job") {
    Recommender.cosineTopK(model, Seq(0).toDF("user"), 5).collect()
    assert(jobsOf(Recommender.cosineTopK(model, Seq(-1, -2).toDF("user"), 5).collect()) == 0)
  }

  test("diversify runs no job once the model is indexed") {
    val users = Seq(0, 7).toDF("user")
    Recommender.cosineTopK(model, users, 5).collect()
    assert(jobsOf(Recommender.diversify(model, users, 5, 0.5).collect()) == 0)
  }

  test("coverage on an indexed dir runs no job") {
    Recommender.coverage(spark, dir).collect() // train and index the dir's model
    assert(jobsOf(Recommender.coverage(spark, dir).collect()) == 0)
  }

  test("runSql on a warm dir runs no job") {
    val sqls = Seq(
      "SELECT o_orderstatus, COUNT(*) FROM orders GROUP BY o_orderstatus",
      "SELECT SUM(l_quantity) AS orders_total FROM lineitem",
      "SELECT COUNT(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey")
    Analytics.runSql(spark, dir, sqls.head) // read every table's schema once
    sqls.foreach(q => assert(jobsOf(Analytics.runSql(spark, dir, q)) == 0, q))
  }

  test("a warm table read and describeTable run no job") {
    Tables(spark, dir).table("orders").schema
    assert(jobsOf(Tables(spark, dir).table("orders").schema) == 0)
    assert(jobsOf(Analytics.describeTable(spark, dir, "orders")) == 0)
  }
}
