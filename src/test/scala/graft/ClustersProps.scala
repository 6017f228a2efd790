package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.operators.Dedup

/** Property check: on random sparse graphs, BOTH connected-component
  * paths (bounded-collect union-find and the distributed
  * pointer-doubling fixpoint) must equal an independent reference
  * clustering (textbook union-find written here, no shared code).
  * Case count is small because the distributed path pays real Spark
  * jobs per case — the fixtures in ClustersSpec cover the shapes,
  * this covers the randomness. */
object ClustersProps extends Properties("clusters") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session

  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(0, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong) if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges.distinct

  private def reference(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: List[(Long, Long)], threshold: Long): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Dedup.clusters(edges.toDF("id_a", "id_b"), driverMaxEdges = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  property("union-find fast path equals reference") =
    forAll(genEdges) { edges => run(edges, Long.MaxValue) == reference(edges) }

  property("distributed doubling fixpoint equals reference") =
    forAll(genEdges) { edges => run(edges, -1L) == reference(edges) }
}
