package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** A trading-graph fixture with every table the graph queries read:
  * orders/lineitem for the edges, customer/supplier for the node bound,
  * and `s_nationkey` for reachability's seeds.
  *
  * Pairs: c1–s1, c1–s2, c2–s2, c2–s3, c3–s3, c3–s5, c4–s5, c5–s4. The
  * nation-0 suppliers are s1, s4 and s6 (s6 trades with no one), so from
  * s1 the chain s1 → c1 → s2 → c2 → s3 runs one hop past MaxHops. */
trait TradingGraphFixture extends SparkSpec {
  protected val orders = Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L),
    (50L, 5L), (60L, 1L))
  protected val lineitem = Seq((10L, 1L), (10L, 1L), (60L, 2L), (20L, 2L),
    (20L, 3L), (30L, 3L), (30L, 5L), (40L, 5L), (50L, 4L))
  protected val suppliers = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 0L),
    (5L, 3L), (6L, 0L))

  protected lazy val fixtureDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_tg_" +
      java.util.UUID.randomUUID().toString.take(8)
    val sp = spark
    import sp.implicits._
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    writeOne(orders.toDF("o_orderkey", "o_custkey"), "orders")
    writeOne(lineitem.toDF("l_orderkey", "l_suppkey"), "lineitem")
    writeOne((1L to 5L).toDF("c_custkey"), "customer")
    writeOne(suppliers.toDF("s_suppkey", "s_nationkey"), "supplier")
    dir
  }

  protected def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, fixtureDir).collect().map(_.toString).sorted.toSeq
}

/** Pins g_reachability against an in-memory multi-source BFS, on both
  * layouts of the graph round loop. */
class ReachabilitySpec extends TradingGraphFixture {

  /** Min hop count (≤ MaxHops) from the nation-0 suppliers. */
  private def reference: Map[(String, Long), Int] = {
    val custOf = orders.toMap
    val pairs = lineitem.map { case (o, s) => (custOf(o), s) }.distinct
    val nbrs: Map[(String, Long), Seq[(String, Long)]] = pairs
      .flatMap { case (c, s) => Seq((("c", c), ("s", s)), (("s", s), ("c", c))) }
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    var dist = suppliers.collect { case (s, 0L) => ("s", s) -> 0 }.toMap
    var frontier = dist.keySet
    for (h <- 1 to graft.queries.Graph.MaxHops) {
      frontier = frontier.flatMap(n => nbrs.getOrElse(n, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  private def run(): (Map[(String, Long), Int], Seq[Seq[SparkPlan]]) =
    ActionPlans.of(spark, "localCheckpoint") {
      SparkEntry.queries("g_reachability")(spark, fixtureDir).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    }

  private def joinsPerHop(hops: Seq[Seq[SparkPlan]]) = (
    hops.map(_.count(_.isInstanceOf[SortMergeJoinExec])),
    hops.map(_.count(_.isInstanceOf[BroadcastHashJoinExec])))

  test("g_reachability matches an in-memory multi-source BFS on both layouts") {
    val expected = reference
    assert(expected == Map(("s", 1L) -> 0, ("c", 1L) -> 1, ("s", 2L) -> 2,
      ("c", 2L) -> 3, ("s", 4L) -> 0, ("c", 5L) -> 1, ("s", 6L) -> 0))
    val (viaBroadcast, bHops) = run()
    val (viaShuffle, sHops) = ActionPlans.withoutBroadcast(spark)(run())
    assert(viaBroadcast == expected, s"broadcast layout: $viaBroadcast")
    assert(viaShuffle == viaBroadcast, s"shuffled layout: $viaShuffle")
    // one frontier join per hop, broadcast by default and sort-merge
    // with broadcasting disabled
    val one = Seq.fill(graft.queries.Graph.MaxHops)(1)
    val none = Seq.fill(graft.queries.Graph.MaxHops)(0)
    assert(joinsPerHop(bHops) == (none, one), s"broadcast (smj, bhj): ${joinsPerHop(bHops)}")
    assert(joinsPerHop(sHops) == (one, none), s"shuffled (smj, bhj): ${joinsPerHop(sHops)}")
  }
}
