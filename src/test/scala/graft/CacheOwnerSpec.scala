package graft

import org.scalatest.funsuite.AnyFunSuite

/** One owner for every persisted frame: the main sources persist,
  * cache and unpersist only inside `graft.core.Persisted`, whose scopes
  * release what they keep. Scans the main sources, so a change that
  * caches a frame by hand, and with it decides on its own when the
  * frame is released, fails here. */
class CacheOwnerSpec extends AnyFunSuite {
  test("only graft.core.Persisted persists, caches or unpersists a frame") {
    val offenders = SourceScan.offenders(Seq("src/main/scala"),
      "src/main/scala/graft/core/Persisted.scala", """\.(persist\(|cache\(\)|unpersist\()""".r)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
