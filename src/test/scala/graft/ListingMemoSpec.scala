package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import graft.core.{GraftSession, ListingMemo}

/** `ListingMemo`, the one memo for driver state derived from data files:
  * what it memoizes, when it recomputes, and that every value it lets go
  * of is released exactly once. */
class ListingMemoSpec extends SparkSpec {

  /** A path in a fresh temp dir; `create` makes it a directory. */
  private def tmpPath(create: Boolean): String = {
    val p = Paths.get(Files.createTempDirectory("graft_memo").toString, "t.parquet")
    if (create) Files.createDirectories(p)
    p.toString
  }

  /** A memo of strings that records every value it releases. */
  private def recording() = {
    val released = ArrayBuffer[String]()
    (new ListingMemo[String, String](release = v => released.synchronized(released += v)), released)
  }

  test("a failed probe returns onError and is never cached; " +
      "a table created later is seen on the next call") {
    // the shared gate memo (ANN embeddings gate, graph node bounds,
    // item-item pair-volume probes): only successful counts memoize
    val memo = new ListingMemo[String, Long](onError = Some(Long.MaxValue))
    val path = tmpPath(create = false)
    var computed = 0
    // missing table: the probe fails → onError, nothing memoized
    assert(memo(spark, path, path) { sys.error("missing") } == Long.MaxValue)
    // existing path, failing compute → onError for this call only
    Files.createDirectories(Paths.get(path))
    assert(memo(spark, path, path) { sys.error("transient") } == Long.MaxValue)
    // same (now-existing) path, good compute → memoized value
    assert(memo(spark, path, path) { computed += 1; 7L } == 7L)
    assert(memo(spark, path, path) { computed += 1; 99L } == 7L)
    assert(computed == 1, "successful count must memoize")
  }

  test("a changed listing recomputes, and the replaced value is released once") {
    val (memo, released) = recording()
    val path = tmpPath(create = true)
    assert(memo.get(spark, "k", path)("v1") == "v1")
    assert(memo.get(spark, "k", path)("unused") == "v1")
    Files.write(Paths.get(path, "part-0"), Array[Byte](1))
    assert(memo.get(spark, "k", path)("v2") == "v2")
    assert(memo.get(spark, "k", path)("unused") == "v2")
    assert(released.toSeq == Seq("v1"))
  }

  test("a value that loses the insert race is released once, and the winner is returned") {
    val (memo, released) = recording()
    val path = tmpPath(create = true)
    val computing = new CountDownLatch(1)
    val installed = new CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val late = Future(memo.get(spark, "k", path) {
        computing.countDown()
        installed.await(30, TimeUnit.SECONDS)
        "late"
      })(ExecutionContext.fromExecutor(pool))
      assert(computing.await(30, TimeUnit.SECONDS))
      assert(memo.get(spark, "k", path)("first") == "first")
      installed.countDown()
      assert(Await.result(late, 30.seconds) == "first")
      assert(memo.get(spark, "k", path)("unused") == "first")
      assert(released.toSeq == Seq("late"))
    } finally pool.shutdown()
  }

  test("an entry whose input paths are all gone is dropped and released on the next miss") {
    val (memo, released) = recording()
    val Seq(a, b, c) = Seq.fill(3)(tmpPath(create = true))
    memo.get(spark, "a", a)("va")
    memo.get(spark, "b", b, a)("vb")
    Files.delete(Paths.get(a))
    assert(memo.get(spark, "b", b, a)("vb2") == "vb2") // a's listing changed
    assert(released.toSeq == Seq("va", "vb"), "the miss sweeps `a` before it replaces `b`")
    memo.get(spark, "c", c)("vc")
    assert(memo.keys.toSet == Set("b", "c"), "`b` still has one live input")
    assert(released.toSeq == Seq("va", "vb"))
  }

  test("an entry of a stopped SparkContext is dropped and released on the next miss") {
    // stopping the shared spec session would end every later suite, so
    // the context is started and stopped in a JVM of its own
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = (javaBin +: jvmArgs.toSeq) ++ Seq("-Xmx512m", "-cp", System.getProperty("java.class.path"),
      "graft.ListingMemoStopProbe", tmpPath(create = true))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
    val lines = try out.getLines().toList finally out.close()
    assert(proc.waitFor(120, TimeUnit.SECONDS), "probe JVM did not finish")
    assert(proc.exitValue() == 0, lines.takeRight(30).mkString("\n"))
    assert(lines.contains("probe: keys=b released=v1"), lines.takeRight(30).mkString("\n"))
  }
}

/** Trains nothing: puts an entry on one local context, stops it, and
  * misses on another key under a fresh context. Prints the memo's keys
  * and released values. */
object ListingMemoStopProbe {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val released = ArrayBuffer[String]()
    val memo = new ListingMemo[String, String](release = released += _)
    def session() = GraftSession.builder("graft-memo-stop", "1").master("local[1]").getOrCreate()
    val first = session()
    first.sparkContext.setLogLevel("ERROR")
    memo.get(first, "a", path)("v1")
    first.stop()
    val second = session()
    try {
      memo.get(second, "b", path)("v2")
      println(s"probe: keys=${memo.keys.sorted.mkString(",")} released=${released.mkString(",")}")
    } finally second.stop()
  }
}
