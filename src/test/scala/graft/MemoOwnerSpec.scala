package graft

import org.scalatest.funsuite.AnyFunSuite

/** One owner for derived per-dir driver state: a value computed from a
  * data dir (a count, a schema, a model, a session with views) is
  * memoized through `graft.core.ListingMemo`, keyed by its input
  * listings, which follows a rewritten dir, releases what it replaces
  * and drops what a deleted dir left. Scans the main sources, so a
  * change that builds a concurrent or weak map of its own fails here,
  * unless it is one of the maps below, which are keyed by something
  * other than a dir. */
class MemoOwnerSpec extends AnyFunSuite {
  private val allowed = Map(
    // the job and stage id sets of one trace
    "src/main/scala/graft/core/Trace.scala" -> 2,
    // the per-application broadcast cache of BPE merge rules
    "src/main/scala/graft/functions/Bpe.scala" -> 1,
    // the per-model FactorIndex, keyed weakly by model instance
    "src/main/scala/graft/ml/Recommender.scala" -> 1)

  test("only graft.core.ListingMemo builds a concurrent or weak map, past the allow-list") {
    val maps = "TrieMap|ConcurrentHashMap|WeakHashMap"
    val constructed = s"""\\bnew\\s+[\\w.]*\\b($maps)\\b|\\b($maps)\\s*(\\[[^=]*\\])?\\s*(\\(|\\.\\s*(empty|newKeySet|apply)\\b)""".r
    val found = SourceScan.offenders(Seq("src/main/scala"),
      "src/main/scala/graft/core/ListingMemo.scala", constructed)
    val byFile = found.groupBy(_.takeWhile(_ != ':'))
    val offenders = byFile.collect {
      case (f, lines) if !allowed.get(f).contains(lines.size) => lines
    }.flatten ++ allowed.keys.filterNot(byFile.contains).map(f => s"$f: allowed, but builds no map")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
