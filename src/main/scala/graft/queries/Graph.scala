package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Persisted, Tables}

/** Graph signals over the order interaction graph — the warehouse
  * analog of the link-analysis quality scores (PageRank-family) that
  * large-scale web-corpus pipelines attach to documents before
  * filtering/mixing.
  *
  * The trading graph is bipartite: customer ↔ supplier, one undirected
  * edge per distinct (o_custkey, l_suppkey) trading relationship from
  * orders ⋈ lineitem (both directions materialized, so every node has
  * out-degree ≥ 1 and PageRank's dangling-mass correction vanishes).
  * PageRank, label propagation and reachability all run on it through
  * one round loop (`iterate`): one edge build, one layout choice, one
  * lineage cut per round, one decode.
  *
  * Determinism across engines: floating-point PageRank sums drift
  * under reordering, so DuckDB could never hash-match a Spark run.
  * Ranks are therefore FIXED-POINT: BIGINT scaled by 10^12, all
  * division integer (floor — both engines truncate positive
  * integers), damping 0.85 applied as (85 · x) div 100. Every
  * iteration is then bit-identical in any engine and any execution
  * order — the same trick the decimal-exact streaming sums play.
  *
  * Scale shape: the classic Pregel/GraphX iteration expressed as
  * joins — per round, one join of the O(E) edges against the O(N)
  * vertex frame and one keyed aggregation by destination. The edges
  * are persisted once, pre-partitioned for the chosen layout, and
  * reused by every round. Round count is fixed (5 for PageRank and
  * label propagation, 3 hops for reachability): bounded depth keeps
  * the oracle (one CTE per round) finite.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private val Scale = 1000000000000L // 10^12 fixed-point
  private[graft] val Iters = 5
  private val MaxNbrs = 64   // hub cap for neighborhood joins
  private val TopPairs = 100 // link-prediction candidates served
  private[graft] val MaxHops = 3 // BFS depth for reachability

  /** Memoized dim-key UPPER bound of `table`'s `key`, for
    * g_label_propagation's packed argmax gate: max(key), or Long.MaxValue
    * when a key is negative or the probe fails — the gate then falls
    * back to the struct argmax. */
  private def keyBound(t: Tables, table: String, key: String): Long =
    GraftSession.tableProbe(t, table, s"max_$key", Long.MaxValue) {
      val r = t.table(table).agg(min(col(key)).cast("long"), max(col(key)).cast("long"))
        .first()
      if (r.isNullAt(0)) 0L // empty table — contributes no nodes
      else if (r.getLong(0) < 0) Long.MaxValue // negative keys: never pack
      else r.getLong(1)
    }

  /** Every node is a customer or a supplier, so |customer| + |supplier|
    * bounds the node count from two memoized row counts, with no action
    * on the graph itself. An unknown count fails closed to
    * Long.MaxValue, which `iterate` never broadcasts. */
  private def nodeBound(t: Tables): Long = {
    val c = GraftSession.rowCount(t, "customer", Long.MaxValue)
    val sp = GraftSession.rowCount(t, "supplier", Long.MaxValue)
    if (c == Long.MaxValue || sp == Long.MaxValue) Long.MaxValue else c + sp
  }

  /** The trading graph's directed edges (src, dst), both directions of
    * every distinct customer↔supplier pair. Node keys are packed into
    * one long — 2·id for a customer, 2·id + 1 for a supplier — so every
    * round's join and aggregation keys on a long instead of a
    * (node_type, node_id) pair. The packing is bijective on the two
    * non-negative key spaces, so group sets, counts and tie-breaks are
    * those of the pair keys, and `decode` restores the oracle's rows. */
  private def tradeEdges(t: Tables): DataFrame = {
    val pairs = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(t.lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** Packed `node` key → the oracle's (node_type, node_id), beside `valueCol`. */
  private def decode(df: DataFrame, valueCol: Column): DataFrame =
    df.select(when(col("node") % 2 === 1, "s").otherwise("c").as("node_type"),
      expr("node div 2").as("node_id"), valueCol)

  /** What one round of `iterate` works with: the laid-out edges, how a
    * vertex frame meets them, and the round's number (from 1). */
  private final case class Round(edges: DataFrame, meet: DataFrame => DataFrame,
                                 number: Int)

  /** Run `rounds` synchronous rounds over `edges`: the vertex frame
    * starts as `init` (built from the laid-out edges) and each round
    * maps it to the next.
    *
    * Layout, chosen once: when `nodeBound` rows of the vertex frame fit
    * under `spark.sql.autoBroadcastJoinThreshold` — the ceiling Spark
    * applies to every other broadcast, sized per row as Catalyst does
    * (8 bytes plus each column's default size) — every round broadcasts
    * the vertex frame into the edges, which are partitioned by
    * destination, so the per-destination aggregation needs no exchange
    * and a round shuffles nothing. Past it, the edges are partitioned
    * by source and each vertex frame meets them through a
    * shuffle_merge-hinted join: only the O(n) vertex frame moves onto
    * the persisted layout, and the hint keeps AQE from demoting the
    * join back to a broadcast on small-stats inputs. A threshold of -1
    * disables broadcasting here as everywhere else.
    *
    * Each round's frame is lineage-truncated (eager localCheckpoint),
    * so driver planning stays O(1) per round. The laid-out copy is kept
    * in the caller's scope `p`, and `edges`, if `p` keeps it, is dropped
    * from the scope once laid out. The result, a checkpoint, reads
    * neither, so the scope returns it as is. */
  private def iterate(p: Persisted, edges: DataFrame, init: DataFrame => DataFrame,
                      nodeBound: Long, rounds: Int)(
      round: (Round, DataFrame) => DataFrame): DataFrame = {
    // init's schema is the same over either layout: analyze it on the
    // edges as given, before the layout exists
    val rowBytes = 8 + init(edges).schema.map(_.dataType.defaultSize).sum
    val broadcastable = BigInt(nodeBound) * rowBytes <=
      edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val laid = p.keep(edges.repartition(col(if (broadcastable) "dst" else "src")))
    val meet: DataFrame => DataFrame =
      if (broadcastable) broadcast(_) else _.hint("shuffle_merge")
    laid.count() // built while a caller's cached `edges` still serves it
    p.drop(edges)
    var state = init(laid)
    for (i <- 1 to rounds)
      state = round(Round(laid, meet, i), state).localCheckpoint(true)
    state
  }

  val queries: Map[String, Q] = Map(
    "g_pagerank" -> ((s, dir) => Persisted.scoped { p =>
      // the node table (with each node's out-degree) comes from the
      // edges, which are kept so the layout built inside `iterate`
      // reads them from cache. Counting the nodes yields the exact n
      // for the rank base and the layout gate.
      val edges = p.keep(tradeEdges(Tables(s, dir)))
      val nodes = p.keep(edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg")))
      val n = nodes.count()
      // empty graph (no orders↔lineitem pairs — an empty partition or
      // a fully-filtered slice in production): rank mass is 1/n per
      // node, undefined at n=0. Every frame below is already empty, so
      // any base value yields the correct empty result — guard only
      // the driver-side division.
      val base = if (n == 0) 0L else Scale / n
      val teleport = (15L * base) / 100L
      val init = (_: DataFrame) =>
        nodes.select(col("node"), col("outdeg"), lit(base).as("rank"))
      // contributions aggregate by dst, and the new-rank join against
      // nodes runs on the aggregate's dst partitioning
      val ranks = iterate(p, edges, init, n, Iters) { (r, ranks) =>
        r.edges.join(r.meet(ranks), col("src") === col("node"))
          .select(col("dst"), expr("rank div outdeg").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("csum"))
          .join(r.meet(nodes), col("node") === col("dst"))
          .select(col("node"), col("outdeg"),
            (lit(teleport) + expr("(85 * csum) div 100")).as("rank"))
      }
      decode(ranks, col("rank").as("rank_scaled"))
    }),
    "g_reachability" -> ((s, dir) => Persisted.scoped { p =>
      // multi-source BFS: exact min hop distance (≤ MaxHops) from the
      // nation-0 supplier seed set over the customer↔supplier trading
      // graph — the reachability/blast-radius primitive (fraud rings,
      // recall campaigns). Pure integer semantics, so unlike PageRank
      // no fixed-point scaling is needed. Each hop is one equi-join
      // frontier expansion + a min-agg merge over one row per reached
      // node.
      val t = Tables(s, dir)
      val seeds = t.supplier.filter(col("s_nationkey") === 0)
        .select((col("s_suppkey") * 2 + 1).as("node"), lit(0).as("hops"))
      val dist = iterate(p, tradeEdges(t), _ => seeds, nodeBound(t), MaxHops) {
        (r, dist) =>
          dist.unionByName(r.edges.join(r.meet(dist), col("src") === col("node"))
              .select(col("dst").as("node"), lit(r.number).as("hops")))
            .groupBy(col("node"))
            .agg(min(col("hops")).as("hops"))
      }
      decode(dist, col("hops"))
    }),
    "g_label_propagation" -> ((s, dir) => Persisted.scoped { p =>
      // community detection by SYNCHRONOUS label propagation, fixed 5
      // rounds: every node adopts the most frequent label among its
      // neighbors, ties broken to the SMALLEST label, every round.
      // Classic LP is randomized-order and therefore engine-ambiguous;
      // this variant is deterministic by construction (integer counts,
      // value tie-break, synchronous updates), so DuckDB replays it
      // bit-for-bit with one CTE per round. Labels start as globally
      // unique ids: a node's packed key (2·id for customers, 2·id+1 for
      // suppliers — the two key spaces overlap). Note the graph is
      // bipartite, where purely synchronous LP can oscillate between
      // sides rather than converge — fixed-round output is still
      // well-defined and deterministic; a production run would use
      // semi-synchronous updates (alternate sides) on bipartite inputs.
      val t = Tables(s, dir)
      val nBound = nodeBound(t)
      // per-round argmax form: the struct-ordered max_by is correct at
      // any key range but its struct agg buffer is not HashAggregate-
      // compatible, so every round pays a SortAggregate pair + an
      // explicit Sort of the (node, label, c) count frame. When the
      // label and count ranges provably fit, the same argmax packs into
      // ONE BIGINT ordering — p = c·2³² + (2³² − 1 − label) — which is
      // strictly monotone in (c ASC, label DESC) lexicographic order
      // exactly when 0 ≤ label ≤ 2³²−1 (second term stays in
      // [0, 2³²−1]) and c < 2³¹ (no overflow: c·2³² ≤ 2⁶²), so
      // max_by(label, p) picks the same row as the struct form: highest
      // count, tie → smallest label. Labels only propagate (every
      // round's labels ⊆ initial labels = packed keys ≤ 2·maxKey+1) and
      // c ≤ degree ≤ nBound, so the gate reads the memoized dim-key
      // bounds + the node bound — no extra action on the graph. Past
      // the gate (keys ≥ 2³¹, unknown bounds, negative keys) the struct
      // form stays.
      val packedArgmax = {
        val maxKey = math.max(keyBound(t, "customer", "c_custkey"),
          keyBound(t, "supplier", "s_suppkey"))
        maxKey < (1L << 31) && nBound < (1L << 30)
      }
      // The key is unique per (node, label) group, so max_by's
      // tie-nondeterminism can never engage: highest count wins, then
      // the SMALLEST label. Being order-free, the argmax needs no
      // per-round sort; with the packed ordering both per-round
      // aggregates are codegen'd HashAggregates, and under the
      // broadcast layout both group on a prefix of the edges' dst
      // partitioning, so the round's only exchange is the broadcast.
      val argmax =
        if (packedArgmax)
          expr("max_by(label, c * 4294967296 + (4294967295 - label))")
        else expr("max_by(label, named_struct('c', c, 'nl', -label))")
      val init = (e: DataFrame) => e.select(col("src")).distinct()
        .select(col("src").as("node"), col("src").as("label"))
      val labels = iterate(p, tradeEdges(t), init, nBound, Iters) { (r, labels) =>
        r.edges
          .join(r.meet(labels.withColumnRenamed("node", "src")), Seq("src"))
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("node"))
          .agg(argmax.as("label"))
      }
      decode(labels, col("label"))
    }),
    "g_common_neighbors" -> ((s, dir) => Persisted.scoped { p =>
      // link prediction on the part co-order graph: for non-adjacent
      // pairs, common-neighbor count + Jaccard — the classic
      // friend-of-friend candidate generator. Wedge fan-out at a hub
      // is O(d²), so the adjacency is HUB-CAPPED first: each node
      // keeps its MaxNbrs lowest-id neighbors (deterministic, and
      // Catalyst rewrites the row_number filter to a map-side
      // WindowGroupLimit) — the standard damping that makes
      // neighborhood-join methods feasible at web scale, applied
      // identically in the oracle so results stay bit-exact.
      // After the cap: one self-join on the center node, one count
      // agg, an anti join against existing edges, two degree joins.
      // Jaccard ships ×1e6 via integer div (non-negative, so
      // truncation == floor). Top-100 by (common desc, u, v) is a
      // deterministic TakeOrdered, never a global sort.
      import org.apache.spark.sql.expressions.Window
      val items = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      val edges = p.keep(items.select(col("okey"), col("pk").as("u"))
        .join(items.select(col("okey"), col("pk").as("v")), Seq("okey"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("u"), col("v")))
      val adjAll = edges.select(col("u").as("node"), col("v").as("nbr"))
        .unionByName(edges.select(col("v").as("node"), col("u").as("nbr")))
      val adj = p.keep(adjAll
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("node")).orderBy(col("nbr"))))
        .filter(col("rk") <= MaxNbrs).drop("rk"))
      val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
      val cands = adj.select(col("node"), col("nbr").as("a"))
        .join(adj.select(col("node"), col("nbr").as("b")), Seq("node"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      cands
        .join(edges, cands("a") === edges("u") && cands("b") === edges("v"),
          "left_anti")
        .join(deg.select(col("node").as("a"), col("d").as("deg_u")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("deg_v")), Seq("b"))
        .select(col("a").as("u"), col("b").as("v"), col("common"),
          col("deg_u"), col("deg_v"),
          expr("(1000000 * common) div (deg_u + deg_v - common)").as("jac_x1e6"))
        .orderBy(col("common").desc, col("u"), col("v"))
        .limit(TopPairs)
    }),
    "g_triangle_count" -> ((s, dir) => Persisted.scoped { p =>
      // triangle counting on the part co-order graph (edge = two parts
      // co-ordered in >= 2 distinct orders — the same support floor as
      // w11 keeps the projection sparse; a bipartite projection with
      // no floor densifies quadratically around popular baskets).
      // Degree-ordered counting (the MapReduce-classic): orient every
      // edge from its lower-(degree, id) endpoint, enumerate wedges at
      // the source, close them against the oriented edge list. Each
      // triangle is counted exactly once at its minimum vertex, and
      // the wedge fan-out per edge is bounded by the ORIENTED
      // out-degree ≤ O(√E) — the self-join never sees a high-degree
      // hub's full neighborhood. Two equi-join shuffles on node keys;
      // everything else is map-side.
      val items = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      val edges = p.keep(items.select(col("okey"), col("pk").as("u"))
        .join(items.select(col("okey"), col("pk").as("v")), Seq("okey"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("u"), col("v")))
      val deg = edges.select(col("u").as("x"))
        .unionByName(edges.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val withDeg = edges
        .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      val oriented = p.keep(withDeg.select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst")))
      val wedges = oriented.select(col("src"), col("dst").as("a"))
        .join(oriented.select(col("src"), col("dst").as("b")), Seq("src"))
        .filter(col("a") < col("b"))
      val closed = wedges.join(
        oriented.select(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")),
        Seq("a", "b"), "left_semi")
      val nTri = closed.select(count(lit(1)).as("n_triangles"))
      val nEdge = oriented.select(count(lit(1)).as("n_edges"))
      val nNode = deg.select(count(lit(1)).as("n_nodes"))
      nNode.crossJoin(nEdge).crossJoin(nTri)
    }))

  /** One PageRank iteration as a DuckDB CTE: `cur` from `prev`. */
  private def iterCte(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.node_type, n.node_id, n.outdeg,
       |         CAST((SELECT tele FROM params)
       |              + (85 * SUM(r.rank // r.outdeg)) // 100 AS BIGINT) AS rank
       |  FROM edges e
       |  JOIN $prev r ON e.src_t = r.node_type AND e.src = r.node_id
       |  JOIN nodes n ON e.dst_t = n.node_type AND e.dst = n.node_id
       |  GROUP BY 1, 2, 3)""".stripMargin

  val oracles: Map[String, String] = Map(
    "g_pagerank" -> {
      val iters = (1 to Iters)
        .map(i => iterCte(s"r${i - 1}", s"r$i")).mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT 'c' AS src_t, ck AS src, 's' AS dst_t, sk AS dst FROM pairs
         |  UNION ALL
         |  SELECT 's', sk, 'c', ck FROM pairs),
         |nodes AS (
         |  SELECT src_t AS node_type, src AS node_id, COUNT(*) AS outdeg
         |  FROM edges GROUP BY 1, 2),
         |params AS (
         |  SELECT CAST($Scale // COUNT(*) AS BIGINT) AS base,
         |         CAST((15 * ($Scale // COUNT(*))) // 100 AS BIGINT) AS tele
         |  FROM nodes),
         |r0 AS (
         |  SELECT node_type, node_id, outdeg,
         |         (SELECT base FROM params) AS rank
         |  FROM nodes),
         |$iters
         |SELECT node_type, node_id, CAST(rank AS BIGINT) AS rank_scaled
         |FROM r$Iters""".stripMargin
    },
    "g_label_propagation" -> {
      val rounds = (1 to Iters).map { k =>
        s"""l$k AS (SELECT node_type, node_id, label FROM (
           |  SELECT node_type, node_id, label,
           |         ROW_NUMBER() OVER (PARTITION BY node_type, node_id
           |           ORDER BY c DESC, label) AS rn
           |  FROM (SELECT e.dst_t AS node_type, e.dst AS node_id, p.label,
           |               COUNT(*) AS c
           |        FROM edges e
           |        JOIN l${k - 1} p ON e.src_t = p.node_type AND e.src = p.node_id
           |        GROUP BY 1, 2, 3)) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT 'c' AS src_t, ck AS src, 's' AS dst_t, sk AS dst FROM pairs
         |  UNION ALL
         |  SELECT 's', sk, 'c', ck FROM pairs),
         |l0 AS (
         |  SELECT src_t AS node_type, src AS node_id,
         |         src * 2 + (CASE WHEN src_t = 's' THEN 1 ELSE 0 END) AS label
         |  FROM (SELECT DISTINCT src_t, src FROM edges)),
         |$rounds
         |SELECT node_type, node_id, label FROM l$Iters""".stripMargin
    },
    "g_reachability" -> {
      val hops = (1 to MaxHops).map { h =>
        s"""d$h AS (
           |  SELECT node_type, node_id, MIN(hops) AS hops FROM (
           |    SELECT node_type, node_id, hops FROM d${h - 1}
           |    UNION ALL
           |    SELECT e.dst_t, e.dst, $h
           |    FROM d${h - 1} p
           |    JOIN edges e ON p.node_type = e.src_t AND p.node_id = e.src)
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT 'c' AS src_t, ck AS src, 's' AS dst_t, sk AS dst FROM pairs
         |  UNION ALL
         |  SELECT 's', sk, 'c', ck FROM pairs),
         |d0 AS (
         |  SELECT 's' AS node_type, s_suppkey AS node_id, 0 AS hops
         |  FROM supplier WHERE s_nationkey = 0),
         |$hops
         |SELECT node_type, node_id, hops FROM d$MaxHops""".stripMargin
    },
    "g_common_neighbors" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
         |e AS (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM items a JOIN items b ON a.okey = b.okey AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj_all AS (
         |  SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
         |adj AS (
         |  SELECT node, nbr FROM (
         |    SELECT node, nbr,
         |           row_number() OVER (PARTITION BY node ORDER BY nbr) AS rk
         |    FROM adj_all) WHERE rk <= $MaxNbrs),
         |deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY 1),
         |c AS (
         |  SELECT a1.nbr AS a, a2.nbr AS b, COUNT(*) AS common
         |  FROM adj a1 JOIN adj a2 ON a1.node = a2.node AND a1.nbr < a2.nbr
         |  GROUP BY 1, 2),
         |nw AS (
         |  SELECT c.* FROM c
         |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.a AND e.v = c.b))
         |SELECT nw.a AS u, nw.b AS v, common, d1.d AS deg_u, d2.d AS deg_v,
         |       (1000000 * common) // (d1.d + d2.d - common) AS jac_x1e6
         |FROM nw JOIN deg d1 ON nw.a = d1.node JOIN deg d2 ON nw.b = d2.node
         |ORDER BY common DESC, u, v LIMIT $TopPairs""".stripMargin,
    "g_triangle_count" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT x, COUNT(*) AS d
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS src,
        |         CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg d1 ON e.u = d1.x JOIN deg d2 ON e.v = d2.x),
        |w AS (
        |  SELECT o1.src, o1.dst AS a, o2.dst AS b
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
        |t AS (
        |  SELECT COUNT(*) AS n_triangles FROM w
        |  WHERE EXISTS (SELECT 1 FROM o
        |                WHERE least(o.src, o.dst) = w.a
        |                  AND greatest(o.src, o.dst) = w.b))
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |       (SELECT COUNT(*) FROM o) AS n_edges,
        |       n_triangles
        |FROM t""".stripMargin)
}
