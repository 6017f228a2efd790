package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import graft.analytics.Analytics
import graft.core.Tables

/** `Analytics.runSql` answers every way a query can reference a table —
  * plain, upper-case, backticked, aliased, through a CTE or a
  * subquery — exactly as a session with the ten views registered
  * directly does. The schemas behind those views are memoized by
  * `Tables` per file listing: a table rewritten in the same JVM is read
  * at its new schema, and an absent table is an error on every read.
  * The child session with its views is memoized per listing too: warm
  * calls on an unchanged dir reuse it and register nothing. */
class AnalyticsSqlSpec extends SparkSpec {
  private val dir = "perfbench/data/sf0.01"

  private lazy val allViews = {
    val ss = spark.newSession()
    Tables(ss, dir).registerViews()
    ss
  }

  private def same(sql: String): Unit = {
    val got = Analytics.runSql(spark, dir, sql).collect().map(_.toString).sorted
    val want = allViews.sql(sql).collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(want), sql)
  }

  /** A fresh dir holding copies of the harness tables named `names`. */
  private def copyOf(names: Seq[String]): String = {
    val tmp = Files.createTempDirectory("graft_tables").toString
    names.foreach(n => Files.copy(Paths.get(s"$dir/$n.parquet"), Paths.get(s"$tmp/$n.parquet")))
    tmp
  }

  test("plain, upper-case and backticked table names resolve") {
    same("SELECT o_orderstatus, COUNT(*) FROM orders GROUP BY o_orderstatus")
    same("SELECT COUNT(*) FROM ORDERS o JOIN LineItem l ON o.o_orderkey = l.l_orderkey")
    same("SELECT n_name, r_name FROM `nation` JOIN `REGION` ON n_regionkey = r_regionkey")
  }

  test("tables referenced through a CTE and a scalar subquery resolve") {
    same("""WITH big AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
           |SELECT COUNT(*) FROM big""".stripMargin)
    same("""SELECT s_name FROM supplier
           |WHERE s_acctbal > (SELECT AVG(s_acctbal) FROM supplier)
           |  AND s_nationkey IN (SELECT n_nationkey FROM nation)""".stripMargin)
    same("SELECT (SELECT COUNT(*) FROM part) AS parts, (SELECT MAX(ts) FROM events) AS last")
  }

  test("listTables still lists every table") {
    val names = Analytics.listTables(spark, dir).collect().map(_.getString(0)).toSeq
    assert(names == Tables(spark, dir).names.sorted)
  }

  test("warm runSql calls on an unchanged dir reuse the child session and its views") {
    val tmp = copyOf(Tables.names)
    def call() = Analytics.runSql(spark, tmp, "SELECT COUNT(*) FROM orders").sparkSession
    def view(ss: org.apache.spark.sql.SparkSession) =
      ss.sessionState.catalog.getRawTempView("orders").get.plan.get
    val first = call()
    val registered = view(first)
    for (_ <- 1 to 2) {
      val warm = call()
      assert(warm eq first)
      assert(view(warm) eq registered)
    }
  }

  test("a table rewritten with a new column is seen by the next read and the next runSql") {
    val tmp = copyOf(Tables.names)
    assert(!Tables(spark, tmp).table("region").columns.contains("r_extra"))
    assert(!Analytics.runSql(spark, tmp, "SELECT * FROM region").columns.contains("r_extra"))
    spark.read.parquet(s"$dir/region.parquet").withColumn("r_extra", lit(1))
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")
    assert(Tables(spark, tmp).table("region").columns.contains("r_extra"))
    val got = Analytics.runSql(spark, tmp, "SELECT SUM(r_extra) FROM region").collect()
    assert(got.head.getLong(0) == 5L)
  }

  test("reading an absent table throws every time, and succeeds once the file exists") {
    val tmp = copyOf(Nil)
    intercept[Exception](Tables(spark, tmp).table("nation"))
    intercept[Exception](Tables(spark, tmp).table("nation"))
    Files.copy(Paths.get(s"$dir/nation.parquet"), Paths.get(s"$tmp/nation.parquet"))
    assert(Tables(spark, tmp).table("nation").count() == 25L)
  }
}
