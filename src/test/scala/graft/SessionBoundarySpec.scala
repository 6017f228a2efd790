package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** All three sessionizers (batch w8, streaming session_window,
  * flatMapGroupsWithState journey) must agree on the session boundary
  * rule. The canonical rule is session_window's, pinned empirically
  * here: Spark merges ADJACENT session windows, so an event landing
  * exactly 30:00 after its predecessor CONTINUES the session — a new
  * session starts only when the gap strictly exceeds 30 minutes.
  * (Round 4 shipped lag-based twins cutting on >=; with microsecond
  * event ticks the two rules differ exactly on this fixture.) */
class SessionBoundarySpec extends SparkSpec {

  private lazy val fixtureDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sessbound_" +
      java.util.UUID.randomUUID().toString.take(8)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def at(mins: Int, micros: Int = 0) = {
      val t = new Timestamp(t0.getTime + mins * 60000L)
      t.setNanos(micros * 1000)
      t
    }
    import spark.implicits._
    Seq(
      // user 1: gap of 30:00.000001 -> strictly exceeds the gap, split
      (1L, t0, 1L, "view", 1.0, "{}"),
      (2L, at(30, micros = 1), 1L, "view", 1.0, "{}"),
      // user 2: gap of exactly 30:00 -> adjacent windows merge
      (3L, t0, 2L, "view", 1.0, "{}"),
      (4L, at(30), 2L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events_out")
    // the harness lays events.parquet out as a single FILE (and
    // Tables.stream glob-filters on that name) — rename the part file
    val p = java.nio.file.Paths.get(dir)
    val part = java.nio.file.Files.list(p.resolve("events_out"))
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.move(part, p.resolve("events.parquet"))
    dir
  }

  private val expected = Map(1L -> 2L, 2L -> 1L)

  test("batch sessionize splits on 30:00.000001, merges exactly 30:00") {
    val got = graft.queries.Relational
      .queries("w8_sessionize_batch")(spark, fixtureDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, got.toString)
  }

  test("streaming session_window agrees with the batch twin on both fixtures") {
    val got = EventStream.sessionize(spark, fixtureDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, got.toString)
  }

  test("journey state (flatMapGroupsWithState) agrees on both fixtures") {
    val got = EventStream.userJourney(spark, fixtureDir)
      .groupBy("user_id").agg(max(col("session_idx")).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, got.toString)
  }
}
