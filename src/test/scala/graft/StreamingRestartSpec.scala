package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.streaming.EventStream

/** Checkpointed kill-and-resume for the streaming upsert sink — the
  * restart path is the reason checkpointed streaming exists, so it is
  * exercised directly: crash mid-stream (injected after 2 of the 4
  * micro-batches), resume from the same work dir, and require the
  * final target to equal the batch answer exactly — i.e. exactly-once
  * output over the engine's at-least-once replay. */
class StreamingRestartSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def freshBase() =
    s"${System.getProperty("java.io.tmpdir")}/graft_restart_" +
      java.util.UUID.randomUUID().toString.take(8)

  private def targetMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.select("user_id", "last_event_id", "n_events").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

  private def batchTruth(): Map[Long, (Long, Long)] = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    graft.core.Tables(spark, dir).events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "n").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
  }

  test("upsert sink: crash after 2 of 4 batches, resume from checkpoint, exactly-once result") {
    val base = freshBase()
    val crashed = intercept[Exception] {
      EventStream.upsertSink(spark, dir, baseDir = Some(base), failAfterBatches = Some(2))
    }
    val causes = Iterator.iterate(crashed: Throwable)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(t => Option(t.getMessage).exists(_.contains("graft-injected-crash"))),
      causes.map(_.getMessage).mkString(" | "))
    // a committed intermediate generation survived the crash
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/gen")), "no committed generation")
    // resume with the same work dir: the checkpoint skips completed
    // batches, the in-flight one is replayed and idempotently skipped
    // by the target's committed-generation guard
    val got = targetMap(EventStream.upsertSink(spark, dir, baseDir = Some(base)))
    assert(got == batchTruth())
  }

  test("upsert sink: restart after clean completion serves the committed target unchanged") {
    val base = freshBase()
    val first = targetMap(EventStream.upsertSink(spark, dir, baseDir = Some(base)))
    val second = targetMap(EventStream.upsertSink(spark, dir, baseDir = Some(base)))
    assert(first == batchTruth())
    assert(second == first)
  }

  test("upsert sink: last_ts is TIMESTAMP, as every Tables reader gives ts") {
    // sf0.01 stores events.ts as TIMESTAMP(MICROS, isAdjustedToUTC=false),
    // which Spark reads as TIMESTAMP_NTZ
    val out = SparkEntry.queries("st_upsert_sink")(spark, "perfbench/data/sf0.01")
    assert(out.schema("last_ts").dataType == org.apache.spark.sql.types.TimestampType)
  }
}
