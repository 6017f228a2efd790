package graft

import scala.util.matching.Regex

/** The Scala sources of the repository, for the specs that pin a law on
  * the code itself. Paths are relative to the repository root, where
  * sbt runs the tests. */
object SourceScan {
  def files(root: String): Seq[java.io.File] = {
    val dir = new java.io.File(root)
    require(dir.isDirectory, s"run from the repository root (${dir.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(dir)
  }

  def lines(f: java.io.File): List[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  /** `path:line: text` of every line under `roots` that `pattern`
    * matches, outside the file `owner`, which must exist. */
  def offenders(roots: Seq[String], owner: String, pattern: Regex): Seq[String] = {
    require(new java.io.File(owner).isFile, s"$owner is gone")
    roots.flatMap(files).filter(_.getPath != owner).flatMap { f =>
      lines(f).zipWithIndex.collect {
        case (l, i) if pattern.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
      }
    }
  }
}
