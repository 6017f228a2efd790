package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deterministic scale-up of a harness data directory: replicate every
  * table `factor`× with per-replica key offsets — the "database
  * scaling" construction that preserves every per-replica distribution,
  * join fan-out and selectivity exactly, so a 10× run isolates the
  * ENGINE's scaling behavior from data-shape drift. Used for the sf1
  * rehearsal recorded in BASELINE.md.
  *
  * Faithfulness details beyond plain replication:
  *  - `documents.text` is word-SHUFFLED per replica (Fisher–Yates,
  *    seeded by (replica, doc_id)): length, vocabulary and term
  *    frequencies are preserved exactly, but shingles are destroyed —
  *    plain copies would hand the dedup family an artificial corpus
  *    where EVERY doc has factor−1 exact/near duplicates and pair
  *    counts explode quadratically, which is a worst case, not a
  *    scale-up. Replica 0 stays byte-identical to the source.
  *  - `embeddings.embedding` gets per-replica deterministic jitter
  *    (±0.1% of unit scale) so the ANN family doesn't see every
  *    vector with factor−1 zero-distance twins.
  *  - `region`/`nation` stay fixed — constant-size dimensions at
  *    every TPC-H scale factor.
  *  - key domains are read from the data (max+1), not hard-coded.
  */
object GenScale {

  /** Deterministic fingerprint of a generated corpus: the generator is
    * seed-fixed, so (source, factor, skew knob, per-table row counts)
    * identifies the byte content — two corpora with equal hashes came
    * from the same generator inputs and are byte-for-byte
    * reproducible. skewOneIn = 0 (the default) contributes nothing to
    * the canonical string, so every pre-skew-knob manifest hash is
    * unchanged. */
  def manifestHash(source: String, factor: Int,
                   rows: Seq[(String, Long)], skewOneIn: Int = 0): String = {
    val canonical = s"$source|$factor|" +
      (if (skewOneIn > 0) s"skew=$skewOneIn|" else "") +
      rows.sortBy(_._1).map { case (t, n) => s"$t=$n" }.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def writeManifest(spark: SparkSession, out: String, source: String,
                            factor: Int, rows: Seq[(String, Long)],
                            skewOneIn: Int): Unit = {
    val rowsJson = rows.map { case (t, n) => s""""$t":$n""" }
      .mkString("{", ",", "}")
    val h = manifestHash(source, factor, rows, skewOneIn)
    val skewJson = if (skewOneIn > 0) s""""skew_one_in":$skewOneIn,""" else ""
    val json = s"""{"source":"$source","factor":$factor,$skewJson""" +
      s""""text_seed":1000003,"embed_seed":999983,""" +
      s""""rows":$rowsJson,"manifest_hash":"$h"}"""
    val p = new org.apache.hadoop.fs.Path(s"$out/MANIFEST.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
    println(s"[genscale] manifest $h written")
  }

  /** Check a corpus dir against its MANIFEST.json, if one exists.
    * Returns Some(manifest_hash) when verified, None when the dir
    * carries no manifest (the driver-generated sf dirs), and FAILS
    * when a manifest is present but the corpus doesn't match it —
    * rehearsal runs must refuse a half-regenerated or swept corpus
    * rather than publish numbers against unknown bytes. Row counts are
    * parquet-metadata reads: cheap at any scale. */
  def verifyManifest(spark: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/MANIFEST.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val txt = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val source = """"source"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(sys.error(s"[genscale] $dir/MANIFEST.json: no source"))
    val factor = """"factor"\s*:\s*(\d+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toInt)
      .getOrElse(sys.error(s"[genscale] $dir/MANIFEST.json: no factor"))
    val declaredHash = """"manifest_hash"\s*:\s*"([0-9a-f]+)"""".r
      .findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(sys.error(s"[genscale] $dir/MANIFEST.json: no hash"))
    val skewOneIn = """"skew_one_in"\s*:\s*(\d+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(0)
    val rowsBlock = txt.substring(txt.indexOf("\"rows\""))
    val declaredRows = """"([a-z]+)"\s*:\s*(\d+)""".r
      .findAllMatchIn(rowsBlock)
      .map(m => m.group(1) -> m.group(2).toLong).toSeq
      .filter(kv => Tables.names.contains(kv._1))
    require(declaredRows.map(_._1).toSet == Tables.names.toSet,
      s"[genscale] $dir/MANIFEST.json: incomplete rows block")
    val recomputed = manifestHash(source, factor, declaredRows, skewOneIn)
    require(recomputed == declaredHash,
      s"[genscale] $dir manifest self-hash mismatch: " +
        s"declared $declaredHash, content hashes to $recomputed")
    for ((t, n) <- declaredRows) {
      val actual = spark.read.parquet(s"$dir/$t.parquet").count()
      require(actual == n,
        s"[genscale] $dir/$t.parquet: manifest says $n rows, found " +
          s"$actual — corpus does not match its manifest, refusing")
    }
    Some(declaredHash)
  }

  private def keySpan(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).first().getLong(0) + 1L

  private val shuffleWords = udf((text: String, seed: Long) =>
    if (seed == 0L || text == null) text
    else {
      val words = text.split(" ")
      val rnd = new java.util.Random(seed)
      var k = words.length - 1
      while (k > 0) {
        val j = rnd.nextInt(k + 1)
        val t = words(k); words(k) = words(j); words(j) = t
        k -= 1
      }
      words.mkString(" ")
    })

  private val jitter = udf((v: Seq[Float], seed: Long) =>
    if (seed == 0L || v == null) v
    else {
      val rnd = new java.util.Random(seed)
      v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.002f)
    })

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_sf_scaled")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val skewOneIn = args.lift(3).map(_.toInt).getOrElse(0)
    // getOrCreate may return a PRE-EXISTING session (tests); only the
    // main owns the stop, and run() owns nothing
    val spark = graft.core.GraftSession.local("graft-genscale")
    run(spark, src, out, factor, skewOneIn)
    spark.stop()
  }

  /** Write a table as ONE FILE named <t>.parquet under `out` — the
    * harness layout (the streaming readers' pathGlobFilter matches
    * leaf file names, so a directory-shaped table would stream zero
    * rows). A single parquet file stays scan-parallel through its row
    * groups. Shared by GenScale and GenSample. */
  private[tools] def writeSingleFile(spark: SparkSession, out: String,
                                     df: DataFrame, t: String): Unit = {
    val tmpDir = s"$out/_stage_$t"
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val dst = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
    fs.delete(dst, true)
    if (!fs.rename(part, dst))
      sys.error(s"[genscale] rename $part -> $dst failed")
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
  }

  /** skewOneIn > 0 injects ORDER-OWNERSHIP SKEW on top of the faithful
    * replication: every skewOneIn-th order (o_orderkey % skewOneIn ==
    * 0 — deterministic, seedless) is reassigned to the single mega
    * customer c_custkey = 1, concentrating ~1/skewOneIn of orders
    * (and with them that share of lineitems) on one user. This is the
    * power-law fixture for skew-sensitive plans (the item-item pair
    * kernel's AQE-skew-split guard, salted joins): the per-replica
    * join STRUCTURE elsewhere stays faithful, only the user-degree
    * distribution grows the heavy head a real marketplace corpus has.
    * The knob participates in the manifest hash (0 = legacy hashes
    * unchanged). */
  def run(spark: SparkSession, src: String, out: String, factor: Int,
          skewOneIn: Int = 0): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    def writeOne(df: DataFrame, t: String): Unit = {
      writeSingleFile(spark, out, df, t)
      println(s"[genscale] $t x$factor done")
    }

    def replicate(t: String, shifts: Map[String, Long],
                  tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = read(t)
      val reps = (0 until factor).map { i =>
        val shifted = shifts.foldLeft(base) { case (d, (k, span)) =>
          d.withColumn(k, col(k) + lit(i * span))
        }
        tweak(shifted, i)
      }
      writeOne(reps.reduce(_ unionByName _), t)
    }

    for (t <- Seq("region", "nation"))
      writeOne(read(t), t)

    val custSpan = keySpan(read("customer"), "c_custkey")
    val suppSpan = keySpan(read("supplier"), "s_suppkey")
    val partSpan = keySpan(read("part"), "p_partkey")
    val orderSpan = keySpan(read("orders"), "o_orderkey")
    val eventSpan = keySpan(read("events"), "event_id")
    val docSpan = keySpan(read("documents"), "doc_id")

    // key-derived names must follow their shifted keys ("Customer#%09d"
    // per the TPC-H convention the harness data uses): copied verbatim,
    // every name would exist factor× — an artificial duplicate corpus
    // that explodes any name-blocking join quadratically (dd_fuzzy_pairs
    // measured 372 s at sf1 on verbatim names vs ~4 s on faithful ones)
    replicate("customer", Map("c_custkey" -> custSpan), (d, _) =>
      d.withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0"))))
    replicate("supplier", Map("s_suppkey" -> suppSpan), (d, _) =>
      d.withColumn("s_name",
        concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0"))))
    replicate("part", Map("p_partkey" -> partSpan))
    replicate("orders", Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan),
      (d, _) =>
        if (skewOneIn <= 0) d
        else d.withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(skewOneIn)) === 0, lit(1L))
            .otherwise(col("o_custkey"))))
    replicate("lineitem", Map("l_orderkey" -> orderSpan,
      "l_partkey" -> partSpan, "l_suppkey" -> suppSpan))
    // FOREIGN-key columns shift by the REFERENCED table's span, even
    // when their own value range is narrower: events.user_id joins
    // c_custkey/o_custkey (user_id ⊂ custkey domain — max 1499 vs
    // 14999 at sf0.1), and embeddings.vec_id is a doc_id subset
    // (2000 of 5000 docs embedded). Shifting them by their OWN span
    // would land every replica's events/vectors inside replica 0's
    // customer/document block — zero cross-modal overlap for replicas
    // ≥1 and 10× fan-in on replica 0, distorting exactly the join
    // structure this tool promises to hold fixed.
    replicate("events", Map("event_id" -> eventSpan, "user_id" -> custSpan))
    replicate("documents", Map("doc_id" -> docSpan), (d, i) =>
      d.withColumn("text", shuffleWords(col("text"),
          if (i == 0) lit(0L) else lit(i * 1000003L) + col("doc_id")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", Map("vec_id" -> docSpan), (d, i) =>
      d.withColumn("embedding", jitter(col("embedding"),
        if (i == 0) lit(0L) else lit(i * 999983L) + col("vec_id"))))

    // manifest LAST — its presence certifies a complete generation run
    // (a crashed run leaves no manifest, and rehearsal runs refuse an
    // unmanifested-but-expected or mismatched corpus)
    val rows = Tables.names.map(t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count())
    writeManifest(spark, out, src, factor, rows, skewOneIn)
  }
}
