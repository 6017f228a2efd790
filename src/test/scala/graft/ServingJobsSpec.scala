package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.analytics.Analytics
import graft.core.Tables
import graft.ml.Recommender

/** Job counts of the serving requests. On a small model a request's
  * latency is its number of Spark jobs, so each count is pinned exactly:
  * a change that adds a job to a request fails here. A table read on a
  * warm file listing takes its schema from `Tables` and runs none. */
class ServingJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val model = RecommenderSpec.model(spark)
  private val dir = "perfbench/data/sf0.01"

  /** Jobs started by `f` on this thread. Each call runs under its own job
    * group; a sentinel job in a second group follows it, and since the
    * listener bus delivers events in order, seeing the sentinel start
    * means every job of `f` has been counted. */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger()
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      f
      sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(30, TimeUnit.SECONDS), "listener bus did not deliver the sentinel")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
