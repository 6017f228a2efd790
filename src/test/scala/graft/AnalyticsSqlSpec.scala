package graft

import graft.analytics.Analytics
import graft.core.Tables

/** `Analytics.runSql` registers only the tables its SQL names. Every way
  * a query can reference a table must still resolve, and answer exactly
  * as it does with all ten tables registered. */
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
}
