package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Pins BOTH paths of the ANN query-side broadcast gates
  * (Similarity.qJoin / qCross, whose row ceiling `maxBroadcastRows` is
  * derived from `spark.sql.autoBroadcastJoinThreshold`): the harness
  * query stratum is 1% of the corpus — it grows linearly with scale,
  * so past the ceiling every serving entry must switch from broadcast
  * to a shuffle-hash equi-join (bucket/cell keys) or a
  * shuffle-replicated nested loop (brute scans), with BIT-IDENTICAL
  * results. A threshold of -1 puts the ceiling at 0 rows, which drives
  * the scale path on the small fixture. Also pins the ss_knn_ivf
  * quantizer routing (ivfStep): the oracle-exact 1/125 stride at gate
  * scale, √n cells past IvfOracleN — both strides deterministic integer
  * arithmetic the DuckDB oracle replays. The PageRankSpec dual-path
  * precedent. */
class AnnGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // deterministic (oracle-exact) entries covering every gate shape:
  // brute scan (qCross), fixed-LSH probe join (qJoin, exploded probe
  // frame), filtered probe join (two-key qJoin), IVF (centroid qCross
  // + cell qJoinOn + persisted-index serve), quantized scan (qCross
  // over a derived frame)
  private val names = Seq("ss_knn_brute", "ss_knn_lsh_fixed", "ss_knn_filtered",
    "ss_knn_ivf", "ss_index_persist", "ss_knn_sq")

  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case st: QueryStageExec => unwrap(st.plan)
    case other => other +: other.children.flatMap(unwrap)
  }

  private def run(name: String): (Seq[String], Seq[SparkPlan]) = {
    // a frame an earlier query persisted (the brute truth term) would
    // stand in for its subtree as an opaque cached scan, hiding which
    // path built it
    spark.catalog.clearCache()
    // ss_knn_sq keeps its quantized relation in a Persisted scope and
    // returns its result checkpointed: its joins run in that one
    // localCheckpoint action
    if (name == "ss_knn_sq") {
      val (q, plans) = ActionPlans.of(spark, "localCheckpoint") {
        graft.queries.Similarity.queries(name)(spark, dir)
      }
      (q.collect().map(_.toString).sorted.toSeq, plans.flatten)
    } else {
      val q = graft.queries.Similarity.queries(name)(spark, dir)
      val rows = q.collect().map(_.toString).sorted.toSeq
      (rows, unwrap(q.queryExecution.executedPlan))
    }
  }

  test("every gated entry is bit-identical across the broadcast and shuffle paths") {
    val viaBroadcast = names.map(n => n -> run(n)._1).toMap
    ActionPlans.withoutBroadcast(spark) {
      assert(graft.queries.Similarity.maxBroadcastRows(spark) == 0L)
      names.foreach { n =>
        val (rows, ops) = run(n)
        assert(rows == viaBroadcast(n), s"$n: scale path diverged from broadcast path")
        // the scale path really left the driver out of it: no
        // broadcast join of any kind in the final adaptive plan
        val bhj = ops.count(_.isInstanceOf[BroadcastHashJoinExec])
        val bnl = ops.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
        assert(bhj == 0 && bnl == 0,
          s"$n: broadcast leaked into the scale path (bhj=$bhj bnl=$bnl)")
      }
    }
  }

  test("default ceiling takes the broadcast path at gate scale") {
    // the session's 64 MB threshold over 296-byte vector rows
    assert(graft.queries.Similarity.maxBroadcastRows(spark) == 226719L)
    // the small-probe-batch plan the gate exists to PRESERVE: at gate
    // scale every probe frame broadcasts (no shuffle of the corpus side)
    names.foreach { n =>
      val (_, ops) = run(n)
      assert(ops.exists(o => o.isInstanceOf[BroadcastHashJoinExec] ||
        o.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$n: gate-scale probe join lost its broadcast")
    }
  }

  test("a recall entry leaves no cached truth frame behind for ss_knn_brute") {
    // no cache clear between the two: ss_knn_lsh's truth term is
    // ss_knn_brute's whole plan, so a frame it left cached would be
    // served as an opaque in-memory scan in place of the broadcast join
    spark.catalog.clearCache()
    graft.queries.Similarity.queries("ss_knn_lsh")(spark, dir).collect()
    val q = graft.queries.Similarity.queries("ss_knn_brute")(spark, dir)
    q.collect()
    val ops = unwrap(q.queryExecution.executedPlan)
    assert(ops.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "ss_knn_brute lost its broadcast join")
    assert(!ops.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "ss_knn_brute read a frame an earlier query left cached")
  }

  test("ivfStep: oracle stride at gate scale, √n cells past IvfOracleN") {
    import graft.queries.Similarity.{ivfStep, IvfOracleN}
    assert(ivfStep(0L) == 125L)
    assert(ivfStep(60000L) == 125L)
    assert(ivfStep(IvfOracleN) == 125L)
    // just past the bound: stride = n / ceil(√n) — cell count ≈ √n,
    // so assignment is Θ(n^1.5), not Θ(n²/125)
    val n1 = IvfOracleN + 1
    val cells1 = n1 / ivfStep(n1)
    assert(ivfStep(n1) != 125L)
    assert(math.abs(cells1 - math.sqrt(n1.toDouble)) <= math.sqrt(n1.toDouble) * 0.1,
      s"cells=$cells1 for n=$n1")
    // at 10⁹ vectors the centroid table is ~√n ≈ 31.6k rows — well
    // under the broadcast ceiling, which is the point of the routing
    val nBig = 1000000000L
    assert(nBig / ivfStep(nBig) <= 40000L)
  }

  test("CountMemo: a failed probe returns onError and is never cached; " +
      "a table created later is seen on the next call") {
    // the shared gate memo (ANN embeddings gate, graph node bounds,
    // item-item pair-volume probes): only successful counts memoize
    val memo = new graft.core.GraftSession.CountMemo(onError = Long.MaxValue)
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo").toString
    val path = s"$tmp/t.parquet"
    var computed = 0
    // missing table: the probe fails → onError, nothing memoized
    assert(memo(spark, path) { sys.error("missing") } == Long.MaxValue)
    // existing path, failing compute → onError for this call only
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    assert(memo(spark, path) { sys.error("transient") } == Long.MaxValue)
    // same (now-existing) path, good compute → memoized value
    assert(memo(spark, path) { computed += 1; 7L } == 7L)
    assert(memo(spark, path) { computed += 1; 99L } == 7L)
    assert(computed == 1, "successful count must memoize")
  }
}
