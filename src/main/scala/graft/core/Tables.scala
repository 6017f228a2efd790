package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Accessors for the harness tables (TPC-H-ish star schema + events /
  * documents / embeddings), one parquet file per table under `dir`.
  *
  * Reads are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown/pruning freedom; nothing is cached here — callers decide
  * what to persist. Accessors are `lazy val`s so repeated references
  * within one query share attribute IDs (required for expressing join
  * conditions as `t.orders("o_orderkey") === t.lineitem("l_orderkey")`).
  *
  * `events.ts` normalization: the generator has written the column as
  * parquet TIMESTAMP(NANOS) in some rounds (which Spark's reader
  * rejects; with `spark.sql.legacy.parquet.nanosAsLong=true`, set by
  * GraftSession, it arrives as Long nanoseconds, and since the data is
  * microsecond-granular we convert exactly via integer division — no
  * double round-trip, ns epoch ≈ 1.7e18 exceeds the 53-bit double
  * mantissa) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) in others
  * (which Spark 4 infers as TIMESTAMP_NTZ — rejected by `unix_micros`
  * and by streaming event-time watermarks). Both are normalized to the
  * session-zone instant type TIMESTAMP; the session zone is pinned to
  * UTC by GraftSession, so the NTZ cast is wall-clock-identity.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  lazy val region: DataFrame     = table("region")
  lazy val nation: DataFrame     = table("nation")
  lazy val customer: DataFrame   = table("customer")
  lazy val supplier: DataFrame   = table("supplier")
  lazy val part: DataFrame       = table("part")
  lazy val orders: DataFrame     = table("orders")
  lazy val lineitem: DataFrame   = table("lineitem")
  lazy val events: DataFrame     = table("events")
  /** Events with the ts column still in its on-disk representation
    * (Long nanoseconds when written as TIMESTAMP(NANOS)). Time
    * predicates belong HERE, converted to the raw unit — a filter on
    * the converted column sits above `timestamp_micros(...)` and can
    * never reach the parquet scan. */
  lazy val eventsRaw: DataFrame  = spark.read.parquet(s"$dir/events.parquet")
  lazy val documents: DataFrame  = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register tables (by default every one) as temp views so
    * `spark.sql` works against the same names the DuckDB oracle uses
    * (S15 ad-hoc SQL surface). Each costs one schema-inference job. */
  def registerViews(only: Seq[String] = names): Unit = only.foreach { n =>
    table(n).createOrReplaceTempView(n)
  }
}
