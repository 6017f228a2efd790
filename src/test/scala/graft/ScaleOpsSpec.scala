package graft

import org.apache.spark.sql.Row

/** Semantic invariants for the scale-path operators (ScaleOps) that
  * the row-hash oracle can't express directly. */
class ScaleOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("etl_scd2: dense versions, chained intervals, exactly one current row per key") {
    val rows = SparkEntry.queries("etl_scd2")(spark, dir)
      .select("o_custkey", "version", "valid_from", "valid_to", "is_current")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (key, rs) =>
      val hist = rs.sortBy(_.getAs[Int]("version"))
      // versions are dense 1..n
      assert(hist.map(_.getAs[Int]("version")).toSeq == (1 to hist.length),
        s"non-dense versions for $key")
      // exactly one open (current) interval, and it is the last one
      assert(hist.count(_.getAs[Boolean]("is_current")) == 1, s"current!=1 for $key")
      assert(hist.last.getAs[Boolean]("is_current"), s"current not last for $key")
      // each interval closes where the next opens
      hist.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Date]("valid_to") ==
            b.getAs[java.sql.Date]("valid_from"), s"interval gap for $key")
        case _ =>
      }
    }
  }

  test("a15/a16: sketch error contracts hold on real data") {
    val hll = SparkEntry.queries("a15_approx_distinct")(spark, dir).collect().head
    assert(hll.getAs[Boolean]("approx_within_5pct"))
    val qt = SparkEntry.queries("a16_approx_quantile")(spark, dir).collect().head
    assert(qt.getAs[Boolean]("p50_ok") && qt.getAs[Boolean]("p95_ok"))
  }

  test("ss_knn_sq: quantized ranking recalls most exact-cosine neighbors") {
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, dir)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("ss_knn_brute")
    val quant = pairs("ss_knn_sq")
    val recall = (exact & quant).size.toDouble / exact.size
    // int8 quantization preserves ranking to high fidelity; anything
    // below this means the codes, not the data, are wrong
    assert(recall >= 0.6, s"sq recall $recall")
  }

  test("ann contracts: adaptive LSH / trained IVF / banded near-dup hold their recall and volume bounds") {
    val lsh = SparkEntry.queries("ss_knn_lsh")(spark, dir).collect().head
    assert(lsh.getAs[Boolean]("recall_ok") && lsh.getAs[Boolean]("scan_bounded"), lsh.toString)
    val ivf = SparkEntry.queries("ss_knn_ivf_kmeans")(spark, dir).collect().head
    assert(ivf.getAs[Boolean]("recall_ok") && ivf.getAs[Boolean]("scan_bounded"), ivf.toString)
    val nd = SparkEntry.queries("ss_embed_neardup")(spark, dir).collect().head
    assert(nd.getAs[Boolean]("recall_ok") && nd.getAs[Boolean]("precision_exact") &&
      nd.getAs[Boolean]("cands_linear_in_n"), nd.toString)
  }

  test("lsh scaling: probed index fraction shrinks as the corpus grows") {
    import graft.functions.VectorFunctions.probeFraction
    import graft.queries.Similarity.adaptivePlanes
    // candidate volume per query ≈ probeFraction × corpus: sublinear in
    // n ⇔ the probed fraction falls as the adaptive plane count rises
    val fracs = Seq(1e3, 1e6, 1e9).map(n => probeFraction(adaptivePlanes(n.toLong)))
    assert(fracs.sliding(2).forall { case Seq(a, b) => b < a }, fracs.toString)
    assert(fracs.last < 1e-4, fracs.toString) // 301 of 16.7M buckets at 1e9 rows
    assert(adaptivePlanes(500) == 6 && adaptivePlanes(1000000000L) == 24)
  }

  test("w1b: scale surrogate keys are dense 1..n in natural-key order, no global sort") {
    val rows = SparkEntry.queries("w1b_surrogate_key_scale")(spark, dir)
      .orderBy("customer_key").collect()
    assert(rows.nonEmpty)
    // dense 1..n
    assert(rows.map(_.getAs[Long]("customer_key")).toSeq == (1L to rows.length).toSeq)
    // rank order == natural-key order
    val keys = rows.map(_.getAs[Long]("c_custkey")).toSeq
    assert(keys == keys.sorted && keys.distinct.size == keys.size)
  }

  test("dd_clusters: fixpoint keeps at most one cached label generation") {
    import org.apache.spark.sql.graftbridge.CacheBridge
    import graft.operators.Dedup
    // the pairs are a checkpoint of their own (simhashPairs keeps its
    // signatures in a scope); the property under test is what the
    // distributed fixpoint (driverMaxEdges = 0) adds on top of them
    val pairs = Dedup.simhashPairs(Dedup.simhash(graft.core.Tables(spark, dir).documents))
    val entries = CacheBridge.entries(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.clusters(pairs, driverMaxEdges = 0)
    assert(out.count() > 0)
    assert(CacheBridge.entries(spark) == entries,
      s"cache entries added by clusters: ${CacheBridge.entries(spark) - entries}")
    // no label generation outlives the fixpoint: the one RDD it leaves
    // persisted is the checkpoint the result reads
    val roots = out.queryExecution.analyzed.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    val added = spark.sparkContext.getPersistentRDDs.filterNot {
      case (id, _) => before.contains(id)
    }
    assert(added.size <= 1 && added.keySet.subsetOf(roots),
      s"persistent RDDs added by clusters: ${added.size} (result reads $roots)\n" +
        added.values.map(r => s"  rdd ${r.id}: ${r.toString.take(120)}").mkString("\n"))
  }

  test("dd_clusters: deep-diameter chain converges (per-iteration plans stay O(1))") {
    import spark.implicits._
    // a 17-node chain needs 16 min-label iterations; without lineage
    // re-rooting the analyzed plan doubles per iteration (2^16 tree)
    // and the driver stalls — this converging in seconds IS the assert
    val pairs = (0L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.clusters(pairs).collect()
    assert(out.length == 17)
    assert(out.forall(_.getAs[Long]("cluster_id") == 0L))
    spark.catalog.clearCache()
  }

  test("st_upsert_sink: merged target equals last-event-per-user with total counts") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("st_upsert_sink")(spark, dir)
      .select("user_id", "last_event_id", "n_events").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = graft.core.Tables(spark, dir).events
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "n").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("s17_time_travel: a lost v1 manifest rebuilds; snapshots stay stable") {
    def run() = SparkEntry.queries("s17_time_travel")(spark, dir)
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getDouble(2), r.getInt(3), r.getInt(4)))).toMap
    val first = run()
    assert(first(0)._3 == 10 && first(0)._4 == 10)
    assert(first(1)._3 == 10 && first(1)._4 == 9) // copy-on-write proof
    assert(first(1)._2 > first(0)._2)             // the update landed
    // crash between v1 data write and manifest commit: the manifest IS
    // the commit marker, so deleting it must roll the table back to a
    // state where v0 still reads clean and the build is re-runnable
    val root = graft.core.GraftSession.scratchDir(spark, "ttr", dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "m1.txt"), false)
    assert(run() == first)
  }

  test("s23: deletes are merge-on-read — base data files physically untouched") {
    // the property the DuckDB oracle cannot see: DELETE writes only a
    // position sidecar. Run once (builds base + DVs + compaction),
    // fingerprint the base data files, run again (recomputes DVs and
    // compaction over the SAME base), and require byte-identical base
    // files — a DV implementation that rewrote or appended would
    // change lengths or mtimes.
    def result() = SparkEntry.queries("s23_deletion_vectors")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val first = result()
    // semantic shape: each delete strictly shrinks, compaction doesn't
    assert(first("base")._1 > first("delete_returned")._1)
    assert(first("delete_returned")._1 > first("delete_highqty")._1)
    assert(first("compacted")._1 == first("delete_highqty")._1)
    assert(first("compacted")._3 == 0 && first("base")._3 == 0)
    val root = graft.core.GraftSession.scratchDir(spark, "dvec", dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // base is a bk=0..3 partitioned layout: list the leaf data files
    def baseFiles() = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$root/base/bk=*/*.parquet")).toSeq
      .map(st => (st.getPath.getParent.getName + "/" + st.getPath.getName,
        st.getLen, st.getModificationTime))
      .sortBy(_._1)
    val before = baseFiles()
    assert(before.map(_._1.split("/").head).toSet ==
      Set("bk=0", "bk=1", "bk=2", "bk=3"), s"expected 4 buckets: $before")
    assert(result() == first)
    assert(baseFiles() == before, "a delete touched a base data file")
  }
}
