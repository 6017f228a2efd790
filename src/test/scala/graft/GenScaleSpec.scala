package graft

import org.apache.spark.sql.functions._

/** Pins the invariants of the scale-rehearsal generator
  * (tools.GenScale) on a tiny factor-3 run: exact row-count scaling,
  * replica-0 byte-identity, disjoint key ranges, preserved referential
  * integrity, and the faithfulness tweaks (shuffled text keeps length
  * and term frequencies; jittered embeddings keep dimension and stay
  * within the stated bound). */
class GenScaleSpec extends SparkSpec {

  private val factor = 3
  private lazy val out: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_genscale_" +
      java.util.UUID.randomUUID().toString.take(8)
    graft.tools.GenScale.run(spark, "/root/testdata/sf0.001", dir, factor)
    dir
  }

  test("row counts scale exactly; fixed dims stay fixed") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")) {
      val n0 = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").count()
      val n1 = spark.read.parquet(s"$out/$t.parquet").count()
      assert(n1 == factor * n0, s"$t: $n0 -> $n1")
    }
    for (t <- Seq("region", "nation")) {
      val n0 = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").count()
      assert(spark.read.parquet(s"$out/$t.parquet").count() == n0, t)
    }
  }

  test("replica 0 is identical to the source; replica keys are disjoint") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scaled = spark.read.parquet(s"$out/documents.parquet")
    val span = src.agg(max(col("doc_id"))).first().getLong(0) + 1
    // replica 0 = the doc_id range of the source, byte-identical
    assert(scaled.filter(col("doc_id") < span).exceptAll(src).isEmpty)
    assert(src.exceptAll(scaled.filter(col("doc_id") < span)).isEmpty)
    // all keys unique across replicas
    assert(scaled.select("doc_id").distinct().count() == scaled.count())
  }

  test("referential integrity holds inside every replica") {
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val o = spark.read.parquet(s"$out/orders.parquet")
    val dangling = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
    assert(dangling.count() == 0)
  }

  test("shuffled text keeps length and term frequencies, breaks order") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val span = src.agg(max(col("doc_id"))).first().getLong(0) + 1
    val rep1 = spark.read.parquet(s"$out/documents.parquet")
      .filter(col("doc_id") >= span && col("doc_id") < 2 * span)
      .select((col("doc_id") - span).as("doc_id"), col("text").as("text1"))
    val joined = src.join(rep1, "doc_id")
      .select(
        (length(col("text")) === length(col("text1"))).as("len_eq"),
        (sort_array(split(col("text"), " ")) ===
          sort_array(split(col("text1"), " "))).as("tf_eq"),
        (col("text") === col("text1")).as("order_eq"))
      .agg(expr("bool_and(len_eq)"), expr("bool_and(tf_eq)"),
        sum(when(col("order_eq"), 1).otherwise(0)))
      .first()
    assert(joined.getBoolean(0), "length not preserved")
    assert(joined.getBoolean(1), "term frequencies not preserved")
    // a Fisher-Yates shuffle of multi-word salads essentially never
    // reproduces the original order for ALL docs
    assert(joined.getLong(2) < src.count(), "no doc was actually shuffled")
  }

  test("jittered embeddings keep dimension and stay within the bound") {
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // vec_id is a doc_id subset, so replicas shift by the DOCUMENT span
    val span = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .agg(max(col("doc_id"))).first().getLong(0) + 1
    val rep1 = spark.read.parquet(s"$out/embeddings.parquet")
      .filter(col("vec_id") >= span && col("vec_id") < 2 * span)
      .select((col("vec_id") - span).as("vec_id"), col("embedding").as("e1"))
    val joined = src.join(rep1, "vec_id")
    // guard against a silently-empty join (wrong replica window)
    assert(joined.count() == src.count())
    val bad = joined
      .select(size(col("embedding")).as("d0"), size(col("e1")).as("d1"),
        expr("aggregate(zip_with(embedding, e1, (a, b) -> abs(a - b))," +
          " 0D, (acc, x) -> greatest(acc, CAST(x AS DOUBLE)))").as("maxdiff"))
      .filter(col("d0") =!= col("d1") || col("maxdiff") > 0.0011 ||
        col("maxdiff") === 0.0)
    assert(bad.count() == 0)
  }

  test("foreign keys shift by the REFERENCED table's span (join fidelity)") {
    // events.user_id joins c_custkey/o_custkey; embeddings.vec_id is a
    // doc_id subset. A same-span shift would still equi-join (customer/
    // doc keys are dense across all replicas) — but every replica's rows
    // would land in replica 0's block, 10×ing its fan-in while replicas
    // ≥1 get nothing. The discriminating invariant is the number of
    // DISTINCT referenced keys matched: it scales ×factor only when
    // foreign keys shift by the referenced table's span.
    def matched(dir: String, f: Int) = {
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      (ev.join(cust, col("user_id") === col("c_custkey"))
          .select("c_custkey").distinct().count() / f,
        emb.join(docs, col("vec_id") === col("doc_id"))
          .select("doc_id").distinct().count() / f)
    }
    assert(matched(out, factor) == matched("/root/testdata/sf0.001", 1))
  }

  test("manifest round-trips: written by run(), verified against the corpus") {
    // happy path: hash in the file = recomputed hash = verify result
    val h = graft.tools.GenScale.verifyManifest(spark, out)
    assert(h.isDefined, "run() wrote no MANIFEST.json")
    val rows = graft.core.Tables.names.map(t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count())
    assert(h.contains(graft.tools.GenScale.manifestHash(
      "/root/testdata/sf0.001", factor, rows)))
    // unmanifested dirs (the driver's sf dirs) skip the check entirely
    assert(graft.tools.GenScale.verifyManifest(
      spark, "/root/testdata/sf0.001").isEmpty)
    // tampered corpus: a manifest whose row counts no longer match the
    // files must REFUSE (self-hash recomputed over the tampered counts
    // so the row-count check, not the self-hash check, is what fires)
    val mPath = java.nio.file.Paths.get(s"$out/MANIFEST.json")
    val orig = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
    try {
      val badRows = rows.map { case (t, n) =>
        if (t == "lineitem") t -> (n + 1) else t -> n }
      val badHash = graft.tools.GenScale.manifestHash(
        "/root/testdata/sf0.001", factor, badRows)
      val tampered = orig
        .replace(s""""lineitem":${rows.toMap.apply("lineitem")}""",
          s""""lineitem":${rows.toMap.apply("lineitem") + 1}""")
        .replaceAll(""""manifest_hash":"[0-9a-f]+"""",
          s""""manifest_hash":"$badHash"""")
      java.nio.file.Files.write(mPath, tampered.getBytes("UTF-8"))
      // drop hadoop's .crc sidecar — the tamper is deliberate and the
      // test targets the row-count refusal, not the checksum layer
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$out/.MANIFEST.json.crc"))
      val e = intercept[IllegalArgumentException] {
        graft.tools.GenScale.verifyManifest(spark, out)
      }
      assert(e.getMessage.contains("refusing"), e.getMessage)
    } finally java.nio.file.Files.write(mPath, orig.getBytes("UTF-8"))
  }

  test("skew knob reassigns exactly the o_orderkey % N orders to customer 1") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_genscale_skew_" +
      java.util.UUID.randomUUID().toString.take(8)
    try {
      graft.tools.GenScale.run(spark, "/root/testdata/sf0.001", dir,
        factor = 1, skewOneIn = 5)
      val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey").as("c0"))
      val skewed = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey").as("c1"))
      val j = src.join(skewed, "o_orderkey").persist()
      // hit set → mega customer 1; everything else byte-unchanged
      assert(j.filter(pmod(col("o_orderkey"), lit(5)) === 0 &&
        col("c1") =!= 1L).count() == 0)
      assert(j.filter(pmod(col("o_orderkey"), lit(5)) =!= 0 &&
        col("c1") =!= col("c0")).count() == 0)
      // the mega user really is heavy: ≥ ~1/5 of orders
      val mega = skewed.filter(col("c1") === 1L).count()
      assert(mega * 5 >= src.count(), s"mega user owns only $mega orders")
      j.unpersist()
      // manifest round-trips with the skew field in the hash
      assert(graft.tools.GenScale.verifyManifest(spark, dir).isDefined)
    } finally scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  override def afterAll(): Unit = {
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    super.afterAll()
  }
}
