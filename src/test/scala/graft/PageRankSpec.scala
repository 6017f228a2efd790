package graft

/** Pins g_pagerank against an independent in-memory fixed-point
  * implementation on a crafted bipartite graph (3 customers share 2
  * suppliers asymmetrically, so ranks genuinely differ by node), plus
  * the conservation invariant: total rank stays within N floor-losses
  * of the scale constant. */
class PageRankSpec extends SparkSpec {

  private val Scale = 1000000000000L

  private lazy val fixtureDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pr_" +
      java.util.UUID.randomUUID().toString.take(8)
    import spark.implicits._
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/${name}_out")
      val p = java.nio.file.Paths.get(dir)
      val part = java.nio.file.Files.list(p.resolve(s"${name}_out"))
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, p.resolve(s"$name.parquet"))
    }
    // o1(c1)->{s1,s2}, o2(c1)->{s1}, o3(c2)->{s2}, o4(c3)->{s2}
    writeOne(Seq((10L, 1L), (20L, 1L), (30L, 2L), (40L, 3L))
      .toDF("o_orderkey", "o_custkey"), "orders")
    writeOne(Seq((10L, 1L), (10L, 2L), (20L, 1L), (30L, 2L), (40L, 2L))
      .toDF("l_orderkey", "l_suppkey"), "lineitem")
    dir
  }

  // distinct trading pairs implied by the fixture
  private val pairs = Set((1L, 1L), (1L, 2L), (2L, 2L), (3L, 2L))

  private def reference: Map[(String, Long), Long] = {
    val edges = pairs.toSeq.flatMap { case (c, s) =>
      Seq((("c", c), ("s", s)), (("s", s), ("c", c))) }
    val outdeg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    val n = outdeg.size
    val base = Scale / n
    val tele = 15L * base / 100L
    var rank: Map[(String, Long), Long] = outdeg.map { case (k, _) => k -> base }
    for (_ <- 1 to graft.queries.Graph.Iters) {
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum }
      rank = rank.keys.map(v => v -> (tele + 85L * sums(v) / 100L)).toMap
    }
    rank
  }

  test("g_pagerank matches the independent fixed-point reference") {
    val got = graft.queries.Graph.queries("g_pagerank")(spark, fixtureDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == reference, s"got=$got expected=$reference")
    // conservation: damping + floor can only LOSE mass, and at most a
    // few integer units per node per iteration
    val total = got.values.sum
    assert(total <= Scale && total >= Scale - 200L * got.size,
      s"total=$total")
  }

  test("g_pagerank shuffled-scale path is bit-identical to the broadcast path") {
    // fixed-point arithmetic is order-independent by construction, so
    // the post-broadcast-scale path (co-partitioned shuffled joins)
    // must reproduce the broadcast path's ranks EXACTLY — and both
    // must equal the independent reference
    def run(): Map[(String, Long), Long] =
      graft.queries.Graph.queries("g_pagerank")(spark, fixtureDir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaBroadcast = run()
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val (viaShuffle, rounds) = ActionPlans.withoutBroadcast(spark) {
      ActionPlans.of(spark, "localCheckpoint")(run())
    }
    assert(viaShuffle == viaBroadcast)
    assert(viaShuffle == reference)
    // the scale path really took the shuffled form: each round is one
    // checkpointed action whose two joins (edges ⋈ ranks, contributions
    // ⋈ nodes) are sort-merge, none broadcast
    assert(rounds.size == graft.queries.Graph.Iters, s"rounds=${rounds.size}")
    rounds.foreach { ops =>
      val smj = ops.count(_.isInstanceOf[SortMergeJoinExec])
      val bhj = ops.count(_.isInstanceOf[BroadcastHashJoinExec])
      assert(smj == 2, s"smj=$smj")
      assert(bhj == 0, s"broadcast join leaked into the scale path: $bhj")
    }
  }
}

/** Pins g_label_propagation against an independent in-memory
  * synchronous-LP implementation on the PageRank fixture graph, and
  * hand-checks the first round on the star node (s2 touches c1, c2,
  * c3, so its round-1 label is the smallest neighbor label). */
class LabelPropagationSpec extends SparkSpec {

  private lazy val fixtureDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lp_" +
      java.util.UUID.randomUUID().toString.take(8)
    import spark.implicits._
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/${name}_out")
      val p = java.nio.file.Paths.get(dir)
      val part = java.nio.file.Files.list(p.resolve(s"${name}_out"))
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, p.resolve(s"$name.parquet"))
    }
    writeOne(Seq((10L, 1L), (20L, 1L), (30L, 2L), (40L, 3L))
      .toDF("o_orderkey", "o_custkey"), "orders")
    writeOne(Seq((10L, 1L), (10L, 2L), (20L, 1L), (30L, 2L), (40L, 2L))
      .toDF("l_orderkey", "l_suppkey"), "lineitem")
    dir
  }

  private val pairs = Set((1L, 1L), (1L, 2L), (2L, 2L), (3L, 2L))

  private def referenceFor(ps: Set[(Long, Long)]): Map[(String, Long), Long] = {
    val edges = ps.toSeq.flatMap { case (c, s) =>
      Seq((("c", c), ("s", s)), (("s", s), ("c", c))) }
    var label: Map[(String, Long), Long] =
      edges.map(_._1).distinct.map { case k @ (t, id) =>
        k -> (id * 2 + (if (t == "s") 1L else 0L)) }.toMap
    for (_ <- 1 to graft.queries.Graph.Iters) {
      label = edges.groupBy(_._2).map { case (dst, es) =>
        val counts = es.groupBy { case (src, _) => label(src) }
          .map { case (l, g) => (l, g.size) }
        // most frequent, tie -> smallest label
        dst -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    label
  }

  private def reference: Map[(String, Long), Long] = referenceFor(pairs)

  test("synchronous LP matches the independent reference after 5 rounds") {
    val got = SparkEntry.queries("g_label_propagation")(spark, fixtureDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == reference)
  }

  test("g_label_propagation shuffled-scale path is bit-identical to the broadcast path") {
    // the label-frame arithmetic is integer counts + value tie-break —
    // order-independent by construction — so the past-the-ceiling path
    // (co-partitioned shuffled joins) must reproduce the broadcast
    // path's labels EXACTLY, and both must equal the reference. The
    // fixture carries customer/supplier tables, so the node bound is
    // known and the default run takes the broadcast layout.
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lpb_" +
      java.util.UUID.randomUUID().toString.take(8)
    writeFixture(dir, keyOffset = 0L)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def run(): (Map[(String, Long), Long], Seq[Seq[SparkPlan]]) =
      ActionPlans.of(spark, "localCheckpoint") {
        SparkEntry.queries("g_label_propagation")(spark, dir)
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      }
    def joins(rounds: Seq[Seq[SparkPlan]]) = (
      rounds.map(_.count(_.isInstanceOf[SortMergeJoinExec])),
      rounds.map(_.count(_.isInstanceOf[BroadcastHashJoinExec])))
    val (viaBroadcast, bRounds) = run()
    val (viaShuffle, sRounds) = ActionPlans.withoutBroadcast(spark)(run())
    assert(viaShuffle == viaBroadcast)
    assert(viaShuffle == referenceFor(pairsAt(0L)))
    // one label join per round: broadcast by default, sort-merge past
    // the threshold
    val one = Seq.fill(graft.queries.Graph.Iters)(1)
    val none = Seq.fill(graft.queries.Graph.Iters)(0)
    assert(joins(bRounds) == (none, one), s"broadcast layout (smj, bhj) per round: ${joins(bRounds)}")
    assert(joins(sRounds) == (one, none), s"shuffled layout (smj, bhj) per round: ${joins(sRounds)}")
  }

  // --- packed-BIGINT argmax gate (round 18) ---------------------------
  // The per-round argmax is max_by over a packed c·2³² + (2³²−1−label)
  // BIGINT when the memoized dim-key bounds prove it safe (both round
  // aggregates then run as HashAggregates — no per-round sort), and the
  // struct-ordered form past the gate. The two fixtures below force one
  // path each and pin both against the SAME independent reference; the
  // listener asserts the plan shape actually switched.
  // (The legacy fixture above has no customer/supplier tables, so its
  // key probe fails closed onto the struct path and its node bound onto
  // the shuffled layout — the reference test pins that fallback.)

  private def writeFixture(dir: String, keyOffset: Long): Unit = {
    import spark.implicits._
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/${name}_out")
      val p = java.nio.file.Paths.get(dir)
      val part = java.nio.file.Files.list(p.resolve(s"${name}_out"))
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, p.resolve(s"$name.parquet"))
    }
    val o = keyOffset
    writeOne(Seq((10L, 1L + o), (20L, 1L + o), (30L, 2L + o), (40L, 3L + o))
      .toDF("o_orderkey", "o_custkey"), "orders")
    writeOne(Seq((10L, 1L + o), (10L, 2L + o), (20L, 1L + o), (30L, 2L + o),
      (40L, 2L + o)).toDF("l_orderkey", "l_suppkey"), "lineitem")
    writeOne(Seq(1L + o, 2L + o, 3L + o).toDF("c_custkey"), "customer")
    writeOne(Seq(1L + o, 2L + o).toDF("s_suppkey"), "supplier")
  }

  private def pairsAt(o: Long): Set[(Long, Long)] =
    Set((1L + o, 1L + o), (1L + o, 2L + o), (2L + o, 2L + o), (3L + o, 2L + o))

  private def runCountingAggs(dir: String): (Map[(String, Long), Long], Int, Int) = {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val (got, rounds) = ActionPlans.of(spark, "localCheckpoint") {
      SparkEntry.queries("g_label_propagation")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val ops = rounds.flatten
    (got, ops.count(_.isInstanceOf[SortAggregateExec]),
      ops.count(_.isInstanceOf[HashAggregateExec]))
  }

  test("packed-BIGINT argmax: small-key corpus runs sort-free and matches the reference") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lpp_" +
      java.util.UUID.randomUUID().toString.take(8)
    writeFixture(dir, keyOffset = 0L)
    val (got, sortAggs, hashAggs) = runCountingAggs(dir)
    assert(got == referenceFor(pairsAt(0L)), s"got=$got")
    assert(sortAggs == 0,
      s"packed argmax path must not plan SortAggregate, saw $sortAggs")
    assert(hashAggs > 0)
  }

  test("struct argmax fallback: keys past 2^31 take the sort path and match the reference") {
    val off = 3000000000L // > 2^31 — the packed ordering would misorder
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lph_" +
      java.util.UUID.randomUUID().toString.take(8)
    writeFixture(dir, keyOffset = off)
    val (got, sortAggs, _) = runCountingAggs(dir)
    assert(got == referenceFor(pairsAt(off)), s"got=$got")
    assert(sortAggs > 0,
      "huge-key corpus must fall back to the struct (SortAggregate) argmax")
  }

  test("round-1 sanity: the s2 hub adopts its smallest neighbor label") {
    // s2's neighbors are c1, c2, c3 with distinct initial labels
    // (2, 4, 6) — all count 1, so the tie-break picks 2
    val edges = pairs.toSeq.flatMap { case (c, s) =>
      Seq((("c", c), ("s", s)), (("s", s), ("c", c))) }
    val init: Map[(String, Long), Long] =
      edges.map(_._1).distinct.map { case k @ (t, id) =>
        k -> (id * 2 + (if (t == "s") 1L else 0L)) }.toMap
    val s2Neighbors = edges.collect { case (src, ("s", 2L)) => init(src) }
    assert(s2Neighbors.sorted == Seq(2L, 4L, 6L))
  }
}
