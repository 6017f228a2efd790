package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.core.Trace

/** `Trace.of` records exactly the work of its body: no job another
  * thread runs meanwhile, every action even when it runs no job, the
  * jobs of a nested trace in the enclosing one, and nothing left behind
  * on the thread or the listener bus whether the body returns or
  * throws. */
class TraceSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext
  private def job(): Long = sc.parallelize(1 to 100, 2).count()
  private def traceListeners = ListenerBridge.listenerClasses(spark).count(_.startsWith("graft.core.Trace"))

  test("counts the body's jobs exactly and none of another thread's") {
    val stop = new AtomicBoolean(false)
    val othersRan = new AtomicInteger(0)
    val othersStarted = new CountDownLatch(1)
    val other = new Thread(() => while (!stop.get) {
      job()
      othersRan.incrementAndGet()
      othersStarted.countDown()
    })
    other.start()
    try {
      othersStarted.await()
      // run jobs until the other thread has run two of its own meanwhile
      val ((ran, overlapped), record) = Trace.of(spark) {
        val from = othersRan.get
        var ran = 0
        while (othersRan.get < from + 2 && ran < 10000) { job(); ran += 1 }
        (ran, othersRan.get - from)
      }
      assert(overlapped >= 2, "the other thread ran no job during the body")
      assert(record.jobs.size == ran, record.jobs)
      assert(record.stages.size == ran, record.stages)
      assert(record.stages.forall(_.tasks == 2), record.stages)
      assert(record.actions.isEmpty, record.actions.map(_.funcName))
    } finally {
      stop.set(true)
      other.join()
    }
  }

  test("collect() of a local relation is an action with no job") {
    val (rows, record) = Trace.of(spark)(Seq(1, 2, 3).toDF("x").collect())
    assert(rows.length == 3)
    assert(record.jobs.isEmpty, record.jobs)
    assert(record.actions.map(_.funcName) == Seq("collect"))
    assert(ActionPlans.operators(record.actions.head.plan).exists(_.isInstanceOf[LocalTableScanExec]))
    assert(record.actions.head.phaseMs.contains("planning"), record.actions.head.phaseMs)
  }

  test("the caller's job group and tags survive, and no listener stays, on return and on a throw") {
    sc.setJobGroup("caller-group", "caller")
    sc.addJobTag("caller-tag")
    try {
      def unchanged(): Unit = {
        assert(traceListeners == 0)
        assert(sc.getJobTags() == Set("caller-tag"))
        assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      }
      val (_, record) = Trace.of(spark)(job())
      assert(record.jobs.size == 1, record.jobs)
      unchanged()
      val e = intercept[IllegalStateException](Trace.of(spark) {
        job()
        throw new IllegalStateException("body failed")
      })
      assert(e.getMessage == "body failed")
      unchanged()
    } finally {
      sc.clearJobGroup()
      sc.removeJobTag("caller-tag")
    }
  }

  test("an enclosing trace includes a nested trace's jobs and actions, and not its sentinel") {
    val ((_, inner), outer) = Trace.of(spark) {
      job()
      Trace.of(spark) {
        job()
        job()
        Seq(1).toDF("x").collect()
      }
    }
    assert(inner.jobs.size == 2, inner.jobs)
    assert(outer.jobs.size == 3, outer.jobs)
    assert(inner.jobs.map(_.id).toSet.subsetOf(outer.jobs.map(_.id).toSet))
    assert(inner.actions.map(_.funcName) == Seq("collect"))
    assert(outer.actions.map(_.funcName) == Seq("collect"))
  }
}
