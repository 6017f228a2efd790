package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Accessors for the harness tables (TPC-H-ish star schema + events /
  * documents / embeddings), one parquet file per table under `dir`.
  *
  * Reads pass the schema `Tables.schemaOf` memoizes per file listing,
  * so a warm read lists files and runs no schema-inference job; they
  * keep Catalyst's full pushdown/pruning freedom, and nothing is cached
  * here — callers decide what to persist. Accessors are `lazy val`s so
  * repeated references within one query share attribute IDs (required
  * for expressing join conditions as
  * `t.orders("o_orderkey") === t.lineitem("l_orderkey")`). Batch and
  * streaming reads of `events` get the one `ts` normalization,
  * `Tables.eventsTs`.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def path(name: String) = s"$dir/$name.parquet"
  private def normalized(name: String, df: DataFrame) =
    if (name == "events") Tables.eventsTs(df) else df

  def table(name: String): DataFrame = normalized(name, Tables.read(spark, path(name)))

  /** `table` as a file stream over `dir`'s files named `<name>.parquet`. */
  def stream(name: String): DataFrame = normalized(name,
    spark.readStream.schema(Tables.schemaOf(spark, path(name)))
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir))

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
  lazy val eventsRaw: DataFrame  = Tables.read(spark, path("events"))
  lazy val documents: DataFrame  = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")

  def names: Seq[String] = Tables.names

  /** Register every table as a temp view so `spark.sql` works against
    * the same names the DuckDB oracle uses (S15 ad-hoc SQL surface). */
  def registerViews(): Unit = names.foreach(n => table(n).createOrReplaceTempView(n))
}

object Tables {
  /** The harness tables, one `<name>.parquet` each under a data dir. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** On-disk schema of the parquet file or dir at `path`, inferred (one
    * job) once per JVM + file listing: a rewritten file changes the
    * listing, so a stale schema is never served. A failed read memoizes
    * nothing and throws, every time. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    schemas.get(spark, path, path)(spark.read.parquet(path).schema)
  private val schemas = new ListingMemo[String, StructType]()

  /** `spark.read.parquet(path)` with the memoized schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** `events.ts` as the session-zone instant type TIMESTAMP. Parquet
    * TIMESTAMP(NANOS) arrives as Long nanoseconds (GraftSession sets
    * `spark.sql.legacy.parquet.nanosAsLong`); the data is
    * microsecond-granular, so integer division converts exactly (ns
    * epochs exceed the 53-bit double mantissa). TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ, which
    * `unix_micros` and event-time watermarks reject; the session zone
    * is UTC, so its cast is wall-clock-identity. */
  private[graft] def eventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
}
