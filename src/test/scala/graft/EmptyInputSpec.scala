package graft

import org.apache.spark.sql.SaveMode

/** Degenerate-input robustness: every operator that consults the data
  * driver-side (watermark cuts, layout bounds, model fits, manifest
  * reads) must survive an EMPTY corpus — a routine production input
  * (fully-filtered slice, tenant with no data, backfill window with no
  * rows) — and a single-row corpus whose foreign keys match nothing.
  *
  * This pins the round-10 hardening sweep (tools/EdgeProbe found 29
  * empty-mode + 9 one-row crash sites across six failure classes:
  * typed gets on NULL aggregate rows, ANSI divide-by-zero on
  * zero-count denominators, parquet read-back of zero-part-file
  * layouts, Spark ML solvers rejecting empty/under-k input, AQE
  * eliding observed metrics on statically-empty plans, and a /0 on an
  * empty PageRank node set). The full-surface sweep stays in
  * `graft.tools.EdgeProbe`; this spec reruns exactly the previously
  * crashing entries so a regression in any fix trips in `sbt test`.
  */
class EmptyInputSpec extends SparkSpec {
  private val srcDir = "/root/testdata/sf0.001"

  private lazy val emptyDir: String = degenerate("empty", 0)
  private lazy val oneDir: String = degenerate("one", 1)

  /** n-row-per-table variant of the harness dir, schemas intact. */
  private def degenerate(tag: String, n: Int): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_spec_$tag"
    graft.core.Tables.names.foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet").limit(n)
        .repartition(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Partial-record variant: EdgeProbe's `nulls`-mode transform (the
    * SHARED definition — a spec-local copy drifted once), limited to
    * 200 rows per table for speed. */
  private lazy val nullsDir: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_spec_nulls"
    graft.core.Tables.names.foreach { t =>
      graft.tools.EdgeProbe.nullsVariant(
          spark.read.parquet(s"$srcDir/$t.parquet").limit(200))
        .repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** collect() evaluates every projected column (unlike count(), which
    * lets Catalyst prune the expressions under probe). */
  private def run(name: String, dir: String): Array[org.apache.spark.sql.Row] =
    SparkEntry.queries(name)(spark, dir).collect()

  test("driver-side aggregate probes survive an empty corpus") {
    // typed-get-on-NULL class: min/max/median over zero rows
    val t9 = run("t9_exact_median", emptyDir)
    assert(t9.length == 1 && t9.head.getLong(0) == 0L && t9.head.isNullAt(3))
    assert(run("a18_heavy_hitters", emptyDir).isEmpty)
    assert(run("etl_scd2_merge", emptyDir).isEmpty)
  }

  test("layout write/read-back operators survive an empty corpus") {
    // zero-part-file read-back class: explicit-schema reads
    assert(run("s10_partition_prune", emptyDir).head.getLong(0) == 0L)
    assert(run("s14_zorder_layout", emptyDir).head.getLong(0) == 0L)
    assert(run("s15_manifest_prune", emptyDir).head.getLong(0) == 0L)
    assert(run("s17_time_travel", emptyDir).length == 2) // both versions commit, empty
    assert(run("s18_change_feed", emptyDir).isEmpty)
    assert(run("s19_vacuum", emptyDir).length == 1)
    assert(run("s23_deletion_vectors", emptyDir).length == 4) // all four audit steps
    assert(run("etl_backfill", emptyDir).isEmpty)
  }

  test("graph operators survive empty and one-row corpora") {
    assert(run("g_pagerank", emptyDir).isEmpty)
    // one orders row + one lineitem row that do NOT join → still an
    // empty graph; the n=0 guard must hold downstream of a non-empty scan
    assert(run("g_pagerank", oneDir).isEmpty)
    Seq(emptyDir, oneDir).foreach { d =>
      assert(run("g_label_propagation", d).isEmpty, s"g_label_propagation on $d")
    }
    // no edges: reachability answers with exactly its hop-0 seeds, the
    // nation-0 suppliers
    assert(run("g_reachability", emptyDir).isEmpty)
    val seeds = spark.read.parquet(s"$oneDir/supplier.parquet")
      .filter("s_nationkey = 0").count()
    val reached = run("g_reachability", oneDir)
    assert(reached.length == seeds && reached.forall(_.getInt(2) == 0),
      reached.mkString(", "))
  }

  test("model-backed recommender operators survive an empty model") {
    // ALS rejects empty ratings outright: the guard answers with an
    // empty result of the query's schema instead of a solver crash
    Seq("reco_topk_cosine", "reco_topk_als", "reco_mmr", "reco_eval",
        "reco_coverage", "reco_item_pca", "reco_model_info").foreach { q =>
      assert(run(q, emptyDir).isEmpty, s"$q on empty interactions")
    }
    // one-row tables: FK-mismatched rows → interactions still empty
    assert(run("reco_topk_cosine", oneDir).isEmpty)
    // round-13/14 serving entries: the cold-user contract on an empty
    // model still answers for its fixed probes (known=false, 0 recs)
    // instead of crashing or dropping them; the λ-sweep has no probe
    // user at all → empty of its declared schema
    val cold = run("reco_unknown_user", emptyDir)
    assert(cold.length == 2 &&
      cold.forall(r => !r.getAs[Boolean]("known") && r.getAs[Long]("n_recs") == 0L))
    assert(run("reco_mmr_lambda", emptyDir).isEmpty)
  }

  test("fact-grain and payments-dim operators survive degenerate inputs") {
    // empty orders → empty dim/fact/grain (no typed gets, no explode
    // of a null sequence); one-row orders with no matching lineitem →
    // the left-join grain keeps the order: max(n_items,1) × n_payments
    Seq("etl_dim_payments", "etl_fact_orders", "etl_fact_grain").foreach { q =>
      assert(run(q, emptyDir).isEmpty, s"$q on empty orders")
    }
    val grain = run("etl_fact_grain", oneDir)
    if (grain.nonEmpty) {
      val r = grain.head
      val (nItems, nPay, nRows) = (r.getAs[Long]("n_items"),
        r.getAs[Long]("n_payments"), r.getAs[Long]("n_fact_rows"))
      assert(nRows == math.max(nItems, 1L) * math.max(nPay, 1L),
        s"grain law: $nItems items × $nPay payments = $nRows rows")
    }
    // the fact's explode_outer mirror of the reference's how='left':
    // a null installment count keeps one row with a null payment leg
    // rather than vanishing (nulls-mode EdgeProbe class)
    assert(run("etl_fact_orders", nullsDir).nonEmpty)
  }

  test("ANN operators survive empty and under-k corpora") {
    // recall over zero queries holds vacuously (ANSI makes even the
    // double division an error — the contract must guard, not divide)
    Seq("ss_knn_lsh", "ss_knn_pq", "ss_knn_ivfpq", "ss_knn_mips_lsh",
        "ss_knn_ivf_kmeans").foreach { q =>
      val r = run(q, emptyDir)
      assert(r.length == 1 && r.head.getAs[Boolean]("recall_ok"), s"$q contract")
    }
    assert(run("ss_index_persist", emptyDir).isEmpty)
    val g = run("ss_knn_graph", emptyDir)
    assert(g.length == 1 && g.head.getLong(0) == 0L)
    // 1 vector < nCells: the KMeans quantizer must fall back, not fit
    assert(run("ss_knn_ivf_kmeans", oneDir).length == 1)
  }

  test("streaming gates survive an empty corpus") {
    assert(run("st_sel_gate", emptyDir).isEmpty)
    assert(run("st_late_data", emptyDir).isEmpty)
  }

  test("partial records (NULL non-key columns) survive the null-heavy sweep") {
    // the six nulls-mode crash sites: NULL partition key in the
    // backfill fingerprint map, NULL payloads/embeddings reaching
    // typed lambdas and solver fits, NULL token counts in the packer
    assert(run("etl_backfill", nullsDir).nonEmpty)
    assert(run("mm_features", nullsDir).nonEmpty)
    assert(run("tx_pack", nullsDir).nonEmpty)
    Seq("ss_knn_pq", "ss_knn_ivfpq", "ss_knn_ivf_kmeans").foreach { q =>
      assert(run(q, nullsDir).length == 1, s"$q contract row")
    }
  }
}
