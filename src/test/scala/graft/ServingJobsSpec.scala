package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.analytics.Analytics
import graft.ml.Recommender

/** Job counts of the serving requests. On a small model a request's
  * latency is its number of Spark jobs, so each count is pinned exactly:
  * a change that adds a job to a request fails here. */
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

  test("runSql resolves with one schema job per table the SQL names") {
    assert(jobsOf(Analytics.runSql(spark, dir,
      "SELECT o_orderstatus, COUNT(*) FROM orders GROUP BY o_orderstatus")) == 1)
    // `orders_total` contains no table name as a word: only lineitem registers
    assert(jobsOf(Analytics.runSql(spark, dir,
      "SELECT SUM(l_quantity) AS orders_total FROM lineitem")) == 1)
    assert(jobsOf(Analytics.runSql(spark, dir,
      "SELECT COUNT(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey")) == 2)
  }
}
