package graft

import org.scalatest.funsuite.AnyFunSuite

/** One owner for every persisted frame: the main sources persist,
  * cache and unpersist only inside `graft.core.Persisted`, whose scopes
  * release what they keep. Scans the main sources, so a change that
  * caches a frame by hand, and with it decides on its own when the
  * frame is released, fails here. */
class CacheOwnerSpec extends AnyFunSuite {

  private val owner = "src/main/scala/graft/core/Persisted.scala"
  private val calls = """\.(persist\(|cache\(\)|unpersist\()""".r

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("only graft.core.Persisted persists, caches or unpersists a frame") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (${root.getAbsolutePath})")
    assert(new java.io.File(owner).isFile, s"$owner is gone")
    val offenders = sources(root).filter(_.getPath != owner).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if calls.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally src.close()
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
