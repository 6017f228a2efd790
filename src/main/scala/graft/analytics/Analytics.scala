package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables

/** Ad-hoc analytics surface (SURVEY.md §3.3): the reference's
  * PostgreSQLDataReader equivalents — arbitrary SQL over the
  * registered tables, catalog listing/description, CSV export. Here
  * Catalyst parses/plans/executes what PostgreSQL did for the
  * reference (postgres_reader.py:147-156). */
object Analytics {

  /** One ISOLATED child SparkSession per (root session, data dir) for
    * the SQL-entry surface: temp views are session-scoped by Spark's
    * design, so two dirs served through ONE session fight over table
    * names exactly as in any shared metastore. `newSession()` is the
    * standard Spark multi-tenant shape — fresh temp-view namespace and
    * SQLConf, shared SparkContext/block manager — and matches the
    * reference's isolation (each postgres_reader.py session is its own
    * Postgres connection). Same-dir concurrent registration is a
    * same-name same-definition replace — benign, pinned by
    * ConcurrencySpec. */
  private val sqlSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SparkSession]()
  private def sessionFor(spark: SparkSession, dir: String): SparkSession = {
    // evict children whose root session's context has STOPPED: each
    // child strongly holds a SessionState, so without eviction a
    // long-lived JVM that cycles many root sessions or touches many
    // dirs (test suites, notebook servers) accumulates them forever.
    // O(live entries) scan per call — entries are a handful, and the
    // scan is what keeps the map self-cleaning with no close() hook.
    val it = sqlSessions.keySet.iterator
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    sqlSessions.computeIfAbsent((spark, dir), _ => spark.newSession())
  }

  /** S15: arbitrary SQL entry point over the harness tables. All ten
    * views are (re-)registered on every call, so a dir rewritten since
    * the last call is read at its current listing; with the schemas
    * memoized by `Tables`, that costs file listings and no job. */
  def runSql(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val ss = sessionFor(spark, dir)
    Tables(ss, dir).registerViews()
    ss.sql(sql)
  }

  /** S13: catalog table listing (spark.catalog-backed). Column
    * predicate, NOT a typed-filter lambda: the lambda captured the
    * Tables instance and with it the SparkSession, whose
    * ObservationManager is not serializable — task serialization then
    * failed whenever the plan ran as a real job (surfaced in the full
    * verify sweep round 9). */
  def listTables(spark: SparkSession, dir: String): DataFrame = {
    val ss = sessionFor(spark, dir)
    val t = Tables(ss, dir)
    t.registerViews()
    import org.apache.spark.sql.functions.col
    ss.catalog.listTables()
      .where(col("name").isin(t.names: _*))
      .select(col("name").as("table_name"))
      .orderBy("table_name")
  }

  /** S14: describe-table (name, type, position) from the schema. */
  def describeTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = Tables(spark, dir).table(name).schema
    import spark.implicits._
    schema.fields.zipWithIndex
      .map { case (f, i) => (f.name, f.dataType.simpleString, i + 1) }
      .toSeq.toDF("column_name", "data_type", "ordinal_position")
  }

  /** S12: CSV export + schema-checked re-read (round-trip identity). */
  def csvRoundTrip(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = Tables(spark, dir).table(name)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_$name"
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    spark.read.schema(src.schema).option("header", "true").csv(out)
  }

  /** JSON-lines export + schema-checked re-read (source-format
    * coverage beyond CSV/parquet; schema supplied on read — JSON
    * inference would widen ints and is a full extra pass). */
  def jsonRoundTrip(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = Tables(spark, dir).table(name)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_json_$name"
    src.coalesce(1).write.mode("overwrite").json(out)
    spark.read.schema(src.schema).json(out)
  }

  /** ORC export + re-read (columnar alternative to parquet; schema
    * travels with the files). */
  def orcRoundTrip(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = Tables(spark, dir).table(name)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_$name"
    src.coalesce(1).write.mode("overwrite").orc(out)
    spark.read.orc(out)
  }
}
