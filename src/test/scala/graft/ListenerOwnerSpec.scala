package graft

import org.scalatest.funsuite.AnyFunSuite

/** One owner for every Spark listener: jobs, stages and actions are
  * counted through `graft.core.Trace.of`, which attributes them by job
  * tag and knows when it has seen them all. Scans the main and test
  * sources, so a change that registers a listener of its own, and with
  * it guesses how long the asynchronous bus takes, fails here. */
class ListenerOwnerSpec extends AnyFunSuite {
  test("only graft.core.Trace registers a Spark listener") {
    val offenders = SourceScan.offenders(Seq("src/main/scala", "src/test/scala"),
      "src/main/scala/graft/core/Trace.scala",
      """\b(add|remove)SparkListener\b|listenerManager\.register""".r)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
