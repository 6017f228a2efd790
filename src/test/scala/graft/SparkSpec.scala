package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-backed specs (one JVM-wide session —
  * getOrCreate dedups across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The shared session outlives each suite, so its scratch tables (the
    * bucketed `g_*` tables under the working directory's
    * `spark-warehouse/`) and scratch dirs are dropped here, as the mains
    * drop theirs before `spark.stop()`. A suite that never started the
    * session does not start it here. */
  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach(graft.core.GraftSession.dropScratch)
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test", "4").master("local[4]").getOrCreate()
    // as GraftSession.local: INFO lines of every job would bury the results
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
