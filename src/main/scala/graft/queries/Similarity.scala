package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Persisted, PlanStats, Tables}
import graft.functions.VectorFunctions._
import graft.functions.{PqAdc, PqEncode, PqExpressions}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline,
  * sign-LSH and IVF bucketed ANN as the scale paths, and
  * embedding-cosine near-dup pairs.
  *
  * Scale shape: the brute-force variant broadcasts the (tiny) query
  * set against the corpus — linear scan, embarrassingly parallel, the
  * right baseline up to ~10^7 corpus rows per executor-batch. The ANN
  * variants replace the scan with an equi-join on a bucket key (one
  * shuffle): buckets come from hyperplane signs (LSH), a trained
  * coarse quantizer (IVF), or a deterministic quantizer subset (the
  * oracle-exact IVF form).
  *
  * Two verification styles, both hash-green against DuckDB:
  *  - `*_fixed` / `ss_knn_ivf` / `ss_knn_sq`: the index parameters are
  *    engine-independent constants, the oracle REBUILDS the identical
  *    index, and results match bit-for-bit (proves the bucketing math
  *    is exactly portable);
  *  - adaptive variants (`ss_knn_lsh`, `ss_knn_ivf_kmeans`,
  *    `ss_embed_neardup`): index parameters scale with corpus size
  *    (and IVF centroids come from a trained model), so the oracle
  *    cannot rebuild the index; instead the query emits a RECALL
  *    CONTRACT — deterministic facts (query/pair counts from brute
  *    force, exact arithmetic) plus booleans asserting measured
  *    recall-vs-brute and candidate-volume bounds.
  *
  * A note on the thresholds: this corpus is isotropic (no planted
  * high-cosine structure — the nearest neighbors sit at cos 0.3–0.5
  * against a cos≈0 bulk), which is the provably-hard case for any ANN
  * method, so the asserted recalls are deliberately modest (measured
  * 0.48–0.59 for multi-probe LSH at ~1/3 scan here; the same config
  * on clustered corpora sits at 0.8+). The contracts pin the measured
  * value with margin so a regression in the bucketing, probing, or
  * ranking — not data difficulty — is what trips them.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val DIM = 64
  private val PLANES = 6
  private val K = 5
  private val NPROBE = 2

  /** Adaptive plane count: target ~64 vectors per bucket, floor at the
    * 6-plane small-corpus form, cap at 24 (16.7M buckets — beyond that
    * bucket keys should become a two-level index, not longer strings). */
  private[graft] def adaptivePlanes(n: Long): Int =
    math.min(24, math.max(6, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt))

  /** Banded near-dup planes per band: target ~32 vectors per bucket. */
  private[graft] def neardupPlanes(n: Long): Int =
    math.min(16, math.max(4, math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt))

  private val NEARDUP_BANDS = 8
  private val NEARDUP_TAU = 0.3

  // ---- query-side join gates ----------------------------------------
  //
  // Every serving entry joins the corpus against a derived QUERY frame
  // (the every-100th stratum — 1% of the corpus, i.e. it GROWS
  // LINEARLY with scale) or a centroid table (n/125 or √n rows).
  // Broadcasting those unconditionally is a driver-OOM at ~10⁹ corpus
  // rows: the query stratum alone is ~10⁷ rows of 64-float vectors,
  // multiplied further by multi-probe explosion. Below the ceiling,
  // broadcast — zero shuffle of the corpus side, the right plan for a
  // small probe batch. Past it, fall back to a size-safe distributed
  // form: a shuffle-hash equi-join on the bucket/cell key where one
  // exists, a shuffle-replicated nested loop (partitioned cartesian —
  // nothing routes through the driver) for the brute/assignment scans
  // whose all-pairs shape is the declared semantics. Mirrors
  // Recommender.MaxQueryUsers and the fail-closed GraftSession.tableProbe
  // probes; both paths of every gated entry are pinned by AnnGateSpec.

  /** Bytes of one broadcast vector row, sized as Catalyst sizes a row
    * (8 bytes plus each column) but with the vector's real width, which
    * the per-type default size (one array element) cannot estimate: a
    * key and an id long, the float array's header (length word plus
    * one null-bit word) and 4·DIM bytes of floats. */
  private val VecRowBytes: Long = 8 + 2 * 8 + 16 + 4L * DIM

  /** Broadcast ceiling in ROWS of the (possibly probe-exploded)
    * broadcast frame: as many vector rows as fit under
    * `spark.sql.autoBroadcastJoinThreshold`, the ceiling Spark applies
    * to every other broadcast and the graph loop. A threshold of -1
    * disables broadcasting here as everywhere else. */
  private[graft] def maxBroadcastRows(s: SparkSession): Long =
    math.max(0L, s.sessionState.conf.autoBroadcastJoinThreshold / VecRowBytes)

  /** Rows a Hamming≤2 multi-probe explode emits per query vector. */
  private[graft] def probeCount(p: Int): Long = 1L + p + p.toLong * (p - 1) / 2

  private def satMul(a: Long, b: Long): Long =
    if (b > 0 && a > Long.MaxValue / b) Long.MaxValue else a * b

  /** Memoized corpus row count, the gate probe. A failed probe is
    * Long.MaxValue: the size-safe non-broadcast path. */
  private def embCountFor(s: SparkSession, dir: String): Long =
    graft.core.GraftSession.rowCount(Tables(s, dir), "embeddings", Long.MaxValue)

  /** Upper bound on the every-100th query-stratum size (MaxValue when
    * the probe failed — the gates then fail closed). */
  private def nQueryEst(s: SparkSession, dir: String): Long = {
    val n = embCountFor(s, dir)
    if (n == Long.MaxValue) Long.MaxValue else n / 100 + 1
  }

  /** Gated corpus × query equi-join: `bRows` is the row count of the
    * frame that would be broadcast. */
  private def qJoin(corpus: DataFrame, q: DataFrame, bRows: Long, on: Column): DataFrame =
    if (bRows <= maxBroadcastRows(corpus.sparkSession)) corpus.join(broadcast(q), on)
    else corpus.join(q.hint("shuffle_hash"), on)

  private def qJoinOn(corpus: DataFrame, q: DataFrame, bRows: Long,
                      cols: Seq[String]): DataFrame =
    if (bRows <= maxBroadcastRows(corpus.sparkSession)) corpus.join(broadcast(q), cols)
    else corpus.join(q.hint("shuffle_hash"), cols)

  /** Gated all-pairs scan (brute top-k, centroid assignment): past the
    * ceiling the hint forces the shuffle-replicated nested loop — each
    * task streams one corpus-slice × query-slice block — and keeps AQE
    * from promoting it back to a driver-side broadcast. */
  private def qCross(corpus: DataFrame, q: DataFrame, bRows: Long): DataFrame =
    if (bRows <= maxBroadcastRows(corpus.sparkSession)) corpus.crossJoin(broadcast(q))
    else corpus.crossJoin(q.hint("shuffle_replicate_nl"))

  /** Coarse-quantizer stride for the deterministic IVF entries. Below
    * IvfOracleN, the historical 1/125 modulus form — its assignment is
    * Θ(n²/125): exact and fast at gate scale, a scale-killer past it.
    * Above, √n cells via the same integer arithmetic (stride =
    * n / ceil(√n)), dropping assignment to Θ(n^1.5) — still fully
    * deterministic, and the oracle computes the identical CASE in SQL,
    * so the entry stays bit-exact at EVERY scale. */
  private[graft] val IvfOracleN = 100000L
  private[graft] def ivfStep(n: Long): Long =
    if (n <= IvfOracleN) 125L
    else math.max(1L, n / math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong))

  /** PQ encode / ADC columns, shared by ss_knn_pq and ss_knn_ivfpq:
    * native codegen'd Catalyst expressions (PqExpressions — the HOF
    * formulation is CodegenFallback, i.e. an interpreted lambda per
    * multiply-add, on exactly the stage that touches every corpus
    * vector). The flat codebook ships once per task inside the
    * serialized expression. */
  private def pqEncodeCol(embedding: Column, cbFlat: Array[Float]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(embedding), cbFlat))
  private def pqAdcCol(qe: Column, codes: Column, cbFlat: Array[Float]): Column =
    ColumnBridge.column(PqAdc(
      ColumnBridge.expression(qe), ColumnBridge.expression(codes), cbFlat))

  /** Deterministic bounded corpus sample (≤2048 vectors ≈ 0.5 MB) and
    * per-subspace Lloyd fit — the PQ codebook. The only collect in the
    * PQ path, constant-size by construction. */
  private def pqCodebook(e: DataFrame, n: Long): Seq[Seq[Seq[Float]]] = {
    val step = math.max(1L, n / 2048)
    // null embeddings (partial records) carry no geometry to fit on
    val sample = e.filter(pmod(col("vec_id"), lit(step)) === 0 &&
        col("embedding").isNotNull)
      .orderBy("vec_id").limit(2048)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    if (sample.isEmpty) Seq.fill(8, 16)(Seq.fill(8)(0f))
    else (0 until 8).map { m =>
      val subs = sample.map(_.slice(m * 8, m * 8 + 8))
      kmeansLocal(subs, k = 16, iters = 10)
        .map(_.map(_.toFloat).toSeq).toSeq
    }
  }

  /** Deterministic Lloyd k-means on the driver over a BOUNDED sample
    * (the PQ codebook fit: ≤2048 points × 8 dims × 16 centers × a few
    * iterations — microseconds of arithmetic, so spinning up
    * distributed solver jobs per subspace would be pure overhead).
    * Strided init + fixed iteration count keep it engine- and
    * run-deterministic. Empty clusters keep their previous center. */
  private def kmeansLocal(pts: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    val cents = Array.tabulate(k)(c => pts((c.toLong * pts.length / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var i = 0
          while (i < dim) { cents(c)(i) = sums(c)(i) / cnts(c); i += 1 }
        }
        c += 1
      }
    }
    cents
  }

  /** Exact brute-force top-K pairs for the every-100th query set —
    * shared by the baseline query and the ANN recall contracts.
    * `nQ` = (an upper bound on) the query-stratum size, for the
    * broadcast gate. */
  private def bruteTopK(e: DataFrame, nQ: Long): DataFrame = {
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    qCross(PlanStats.spread(e, "vec_id"), q, nQ)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
  }

  /** Shared machinery of the kNN-graph family (full build +
    * incremental maintenance) — one definition so the two queries
    * cannot drift apart (the incrementality argument "batch seeds are
    * band-identical to the full build's" is then true by construction).
    *
    * Banded signature: ALL nBands·p plane projections are computed
    * ONCE per vector as a single signature string (the native
    * vec_sign_bucket expression), then bands slice it by substring —
    * the naive per-band-per-join-side formulation evaluates the plane
    * expression 2·nBands times per vector and its projection dominated
    * the whole query (measured ~20 s → ~3 s at sf0.1). */
  private def knnBandedSig(e: DataFrame, nBands: Int, p: Int): DataFrame =
    e.select(col("vec_id"),
        expr(signBucketSql("embedding", DIM, nBands * p)).as("sig"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(1, $nBands), b -> substr(sig, (b - 1) * $p + 1, $p))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")

  /** Exact cosine rerank keeping K edges per source. NO join-strategy
    * hint on the vector attach: the embeddings side is a stats-visible
    * table, so AQE broadcasts it while it fits (removing two shuffles
    * of wide arrays per rerank — measured) and falls back to a
    * shuffled hash join when a real corpus outgrows the threshold;
    * forcing shuffle_hash pessimized the case the optimizer already
    * wins. */
  private def knnRerank(e: DataFrame, pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    pairs
      .join(e.select(col("vec_id").as("src"), col("embedding").as("e_s")), "src")
      .join(e.select(col("vec_id").as("dst"), col("embedding").as("e_d")), "dst")
      .select(col("src"), col("dst"),
        expr(cosineSql("e_s", "e_d", DIM)).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("src", "dst", "cosine")
  }

  /** One NN-Descent candidate expansion: 2K-capped undirected
    * adjacency + 2-hop closure from the `dirty` sources (None = every
    * node, the full build). The cap bounds hub fan-out — out-degree is
    * K by construction but IN-degree is not, and an uncapped hub of
    * in-degree h would contribute h·|in-edges| 2-hop rows; with it,
    * |hop2| ≤ 2K·|und| regardless of skew (Dong et al.'s reverse-list
    * sampling, deterministically: the 2K lowest-id partners). The
    * UNCAPPED current out-edges of the dirty sources are always
    * retained: the cap alone could evict a node's found top-K before
    * the rerank, making descent non-monotone in recall. Mids route
    * through ANY node, so a dirty node reaches its neighbors'
    * neighbors even when those neighbors are clean. */
  private def descentExpand(graph: DataFrame, dirty: Option[DataFrame]): DataFrame = {
    val und = graph.select(col("src"), col("dst")).unionByName(
        graph.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("urk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))))
      .filter(col("urk") <= 2 * K).drop("urk")
    val dirtyUnd = dirty.map(d => und.join(d, Seq("src"), "left_semi")).getOrElse(und)
    val hop2 = dirtyUnd.select(col("src"), col("dst").as("mid"))
      .join(und.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val kept = dirty.map(d => graph.join(d, Seq("src"), "left_semi")).getOrElse(graph)
    kept.select("src", "dst").unionByName(dirtyUnd).unionByName(hop2).distinct()
  }

  /** Exact brute-force top-K by INNER PRODUCT (MIPS) for the same
    * every-100th query set — truth for ss_knn_mips and the contract
    * baseline for the norm-augmented LSH reduction. */
  private def bruteMipsTopK(e: DataFrame, nQ: Long): DataFrame = {
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    qCross(PlanStats.spread(e, "vec_id"), q, nQ)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr(dotSql("qe", "embedding", DIM)).as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
  }

  /** One-row recall contract: |ann ∩ brute| / (K·nq) ≥ minRecall, and
    * the candidate volume stayed under maxScanFrac of a full scan. The
    * hit count is collected here, once, and the row returned is a local
    * frame: re-executing it runs nothing, and no cache entry is left
    * behind to stand in for the truth term's subtree in a later query. */
  private def recallContract(ann: DataFrame, brute: DataFrame, nQueries: Long,
                             corpusN: Long, candRows: Long, minRecall: Double,
                             maxScanFrac: Double): DataFrame = {
    val spark = ann.sparkSession
    import spark.implicits._
    val hits = ann.select("qid", "vec_id")
      .join(brute.select("qid", "vec_id"), Seq("qid", "vec_id"), "left_semi")
      .count()
    // vacuous cases: zero queries (empty corpus / fully-filtered
    // slice), or a corpus of ≤ K vectors, where no query HAS K true
    // neighbors and the fixed K·nQueries denominator would fail a
    // perfectly-working index on data shape rather than on broken code
    val recallOk = nQueries == 0 || corpusN <= K ||
      hits.toDouble / (K.toDouble * nQueries) >= minRecall
    Seq((nQueries, recallOk, candRows <= (maxScanFrac * corpusN * nQueries).toLong))
      .toDF("n_queries", "recall_ok", "scan_bounded")
  }

  val queries: Map[String, Q] = Map(
    // exact cosine top-k: query set = every 100th vector.
    "ss_knn_brute" -> ((s, dir) =>
      bruteTopK(Tables(s, dir).embeddings, nQueryEst(s, dir))),
    // HYBRID retrieval — the modern search stack: a lexical leg
    // (df-capped shared-vocabulary overlap, set semantics) and a
    // vector leg (cosine), fused by Reciprocal Rank Fusion. RRF works
    // on RANKS, not scores, so the whole fusion is integer arithmetic
    // (Σ 10⁶ div (60 + rank)) — no score normalization across
    // incomparable scales, and bit-exact in any engine. Scale shape:
    // the lexical leg is a posting-list equi-join (dd_cosine_pairs'
    // candidate machinery), the vector leg broadcasts the query set,
    // each leg keeps Depth rows per query via map-side WindowGroupLimit,
    // and fusion joins two (n_queries × Depth)-row frames — tiny.
    "ss_hybrid_rrf" -> ((s, dir) => {
      val RrfK = 60; val Depth = 20
      val docs = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val nDocs = docs.count()
      val tf = docs.select(col("doc_id"), explode(split(
          graft.functions.TextFunctions.normText(col("text")), " ")).as("w"))
        .distinct()
      val keep = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") * 5 <= nDocs).select(col("w"))
      val tfk = tf.join(keep, Seq("w"), "left_semi")
      val lexW = Window.partitionBy(col("qid"))
        .orderBy(col("n_shared").desc, col("doc_id"))
      val lex = tfk.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("w"))
        .join(tfk, Seq("w"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .withColumn("lrank", row_number().over(lexW))
        .filter(col("lrank") <= Depth)
        .select(col("qid"), col("doc_id"), col("lrank"))
      val e = Tables(s, dir).embeddings
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val vecW = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("doc_id"))
      val vec = qCross(PlanStats.spread(e, "vec_id"), q, nQueryEst(s, dir))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("doc_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("vrank", row_number().over(vecW))
        .filter(col("vrank") <= Depth)
        .select(col("qid"), col("doc_id"), col("vrank"))
      val fusedW = Window.partitionBy(col("qid"))
        .orderBy(col("rrf_x1e6").desc, col("doc_id"))
      lex.join(vec, Seq("qid", "doc_id"), "full")
        .withColumn("rrf_x1e6",
          coalesce(expr(s"1000000 div ($RrfK + lrank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + vrank)"), lit(0L)))
        .withColumn("rank", row_number().over(fusedW))
        .filter(col("rank") <= K)
    }),
    // exact maximum-inner-product top-k — the retrieval objective of
    // factorization recommenders (score = u·v, NOT cosine: a vector's
    // own norm matters). Same broadcast-scan shape as ss_knn_brute.
    "ss_knn_mips" -> ((s, dir) =>
      bruteMipsTopK(Tables(s, dir).embeddings, nQueryEst(s, dir))),
    // the scale path for MIPS: inner product is not a metric (no
    // triangle inequality), so bucketing can't index it directly —
    // reduce to ANGULAR search first (Bachrach et al. 2014): append
    // sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus norm)
    // and 0 to every query; then q'·x' = q·x while every corpus
    // vector has norm M, so sign-LSH bucket collisions in the
    // augmented space order by inner product. One agg for M², the
    // same adaptive-plane multi-probe machinery as ss_knn_lsh in
    // dim+1, exact-dot rerank of candidates, recall contract vs the
    // in-query brute MIPS truth.
    "ss_knn_mips_lsh" -> ((s, dir) => Persisted.scoped { p =>
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val nQ = e.filter(col("vec_id") % 100 === 0).count()
      val m2Row = PlanStats.spread(e, "vec_id")
        .agg(max(expr(dotSql("embedding", "embedding", DIM)))).head()
      // empty corpus: no max norm exists; 0 keeps the augmentation
      // sqrt well-defined and every frame below is empty anyway
      val m2 = if (m2Row.isNullAt(0)) 0.0 else m2Row.getDouble(0)
      val nP = adaptivePlanes(n)
      // greatest(…, 0): the max-norm vector itself can go ε-negative
      // under float re-association; its augmented coordinate is 0
      val aug = PlanStats.spread(e, "vec_id").withColumn("aemb",
        expr(s"array_append(CAST(embedding AS ARRAY<DOUBLE>), " +
          s"sqrt(greatest($m2 - vec_dot(embedding, embedding), 0.0D)))"))
        .withColumn("bucket", expr(signBucketSql("aemb", DIM + 1, nP)))
      val q = aug.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(s"array_append(CAST(embedding AS ARRAY<DOUBLE>), 0.0D)").as("aqe"))
        .withColumn("qbucket", expr(signBucketSql("aqe", DIM + 1, nP)))
        .withColumn("probe", explode(expr(probeArraySql("qbucket", nP))))
        .select("qid", "qe", "probe")
      val cands = p.keep(qJoin(aug, q, satMul(nQ, probeCount(nP)),
          col("bucket") === col("probe"))
        .filter(col("vec_id") =!= col("qid")))
      val candRows = cands.count()
      val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
      val ann = cands
        .select(col("qid"), col("vec_id"),
          expr(dotSql("qe", "embedding", DIM)).as("dot"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
      recallContract(ann, bruteMipsTopK(e, nQ), nQ, n, candRows,
        minRecall = 0.3, maxScanFrac = 0.5)
    }),
    // Scale-path ANN: plane count adapts to corpus size (buckets ∝ n)
    // and queries probe every bucket within Hamming distance 2 of
    // their own — the probed fraction of the index SHRINKS as n grows
    // (22/64 at 6 planes → 301/16.7M at 24), so sharper buckets never
    // starve the candidate set. Verified by a recall contract against
    // the in-query brute-force truth.
    "ss_knn_lsh" -> ((s, dir) => Persisted.scoped { p =>
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val nQ = e.filter(col("vec_id") % 100 === 0).count()
      val nP = adaptivePlanes(n)
      val eb = PlanStats.spread(e, "vec_id")
        .withColumn("bucket", expr(signBucketSql("embedding", DIM, nP)))
      val q = eb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
        .withColumn("probe", explode(expr(probeArraySql("bucket", nP))))
        .select("qid", "qe", "probe")
      val cands = p.keep(qJoin(eb, q, satMul(nQ, probeCount(nP)),
          col("bucket") === col("probe"))
        .filter(col("vec_id") =!= col("qid")))
      val candRows = cands.count()
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val ann = cands
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
      // measured 0.48 (sf0.01) / 0.59 (sf0.1) at ~1/3 scan on this
      // isotropic corpus; asserted with margin. The contract is a
      // local row, so the scope releases cands without a checkpoint.
      recallContract(ann, bruteTopK(e, nQ), nQ, n, candRows,
        minRecall = 0.3, maxScanFrac = 0.5)
    }),
    // Oracle-exact LSH form: constant 6-plane index with the SAME
    // Hamming≤2 multi-probe as the adaptive path (22/64 buckets per
    // query), and DuckDB rebuilds index AND probe set bit-for-bit —
    // pins the portability of the bucketing and probing math itself.
    // Each probe is a distinct bucket and each corpus vector lives in
    // exactly one, so candidates need no dedup. Right at ≤ ~10^5
    // corpus rows; beyond that, ss_knn_lsh's adaptive planes are the
    // real path.
    "ss_knn_lsh_fixed" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
        .withColumn("bucket", expr(signBucketSql("embedding", DIM, PLANES)))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
        .withColumn("probe", explode(expr(probeArraySql("bucket", PLANES))))
        .select("qid", "qe", "probe")
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      qJoin(e, q, satMul(nQueryEst(s, dir), probeCount(PLANES)),
          col("bucket") === col("probe"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
    }),
    // Filtered vector search — the vector-DB capability every serving
    // stack needs: top-k among vectors satisfying a metadata
    // predicate (here: same class label as the query). The filter is
    // FOLDED INTO the join key — candidates match on (bucket, label),
    // so filtering costs nothing extra: no post-filter starvation, no
    // second pass, still one equi-join. At selectivity 1/10 this also
    // probes ~10× fewer candidate rows than unfiltered search. Same
    // oracle-exact fixed index + Hamming≤2 probe set as
    // ss_knn_lsh_fixed.
    "ss_knn_filtered" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
        .withColumn("bucket", expr(signBucketSql("embedding", DIM, PLANES)))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("bucket"), col("label").as("qlabel"))
        .withColumn("probe", explode(expr(probeArraySql("bucket", PLANES))))
        .select("qid", "qe", "probe", "qlabel")
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      qJoin(e, q, satMul(nQueryEst(s, dir), probeCount(PLANES)),
          col("bucket") === col("probe") && col("label") === col("qlabel"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("label"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
    }),
    // IVF ANN: coarse-quantize the corpus to inverted cells (one
    // linear assignment pass over broadcast centroids), probe the
    // nprobe=2 nearest cells per query. Centroids are a deterministic
    // stride through the corpus — 1/125 at gate scale, √n cells past
    // IvfOracleN (see ivfStep) — so the oracle replicates the index
    // exactly at EVERY scale; ss_knn_ivf_kmeans is the
    // trained-centroid form (corpus never shuffles — cells are a
    // projection, search is one equi-join).
    "ss_knn_ivf" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      // the stride parameterizes the index the oracle rebuilds, so it
      // needs the REAL count: a failed memo probe falls through to a
      // direct count whose failure is the query's own failure
      val n0 = embCountFor(s, dir)
      val n = if (n0 == Long.MaxValue) e.count() else n0
      val step = ivfStep(n)
      val nCents = n / step + 1
      val nQ = n / 100 + 1
      val cents = e.filter(pmod(col("vec_id"), lit(step)) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val wa = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
      val assigned = qCross(PlanStats.spread(e, "vec_id"), cents, nCents)
        .select(col("vec_id"), col("embedding"), col("cid"),
          expr(cosineSql("embedding", "ce", DIM)).as("csim"))
        .withColumn("arn", row_number().over(wa)).filter(col("arn") === 1)
        .select("vec_id", "embedding", "cid")
      val wq = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
      val probes = qCross(e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
          cents, nCents)
        .select(col("qid"), col("qe"), col("cid"),
          expr(cosineSql("qe", "ce", DIM)).as("qsim"))
        .withColumn("qrn", row_number().over(wq)).filter(col("qrn") <= NPROBE)
        .select("qid", "qe", "cid")
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      qJoinOn(assigned, probes, satMul(nQ, NPROBE), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
    }),
    // index BUILD / SERVE separation — the lifecycle every production
    // vector store has and inline rebuilds don't: the IVF index
    // (centroid table + per-vector assignments, partitioned by cell)
    // is PERSISTED to parquet once, and the query path reads only the
    // index — it never touches, scans, or re-assigns the raw corpus.
    // At 100 TB this split is the whole point: build amortizes over
    // every future query batch, serve prunes to nprobe cells via
    // partition pruning on the cell directory key. Same deterministic
    // quantizer as ss_knn_ivf, so results are bit-identical to the
    // inline form and the oracle re-derives them exactly.
    "ss_index_persist" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      val idx = graft.core.GraftSession.scratchDir(s, "ivfidx", dir)
      val n0 = embCountFor(s, dir)
      val n = if (n0 == Long.MaxValue) e.count() else n0
      val step = ivfStep(n)
      val nCents = n / step + 1
      val nQ = n / 100 + 1
      val cents = e.filter(pmod(col("vec_id"), lit(step)) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val wa = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
      val assignedDf = qCross(PlanStats.spread(e, "vec_id"), cents, nCents)
        .select(col("vec_id"), col("embedding"), col("cid"),
          expr(cosineSql("embedding", "ce", DIM)).as("csim"))
        .withColumn("arn", row_number().over(wa)).filter(col("arn") === 1)
        .select(col("cid"), col("vec_id"), col("embedding"))
      assignedDf.write.mode("overwrite").partitionBy("cid")
        .parquet(s"$idx/assigned")
      cents.write.mode("overwrite").parquet(s"$idx/centroids")
      // ---- serve path: INDEX tables only (read with the writer's
      // schemas — no footer inference, and an empty corpus leaves no
      // part files to infer from) ----
      val ic = s.read.schema(cents.schema).parquet(s"$idx/centroids")
      val ia = s.read.schema(assignedDf.schema).parquet(s"$idx/assigned")
      val wq = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
      val probes = qCross(e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
          ic, nCents)
        .select(col("qid"), col("qe"), col("cid"),
          expr(cosineSql("qe", "ce", DIM)).as("qsim"))
        .withColumn("qrn", row_number().over(wq)).filter(col("qrn") <= NPROBE)
        .select("qid", "qe", "cid")
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      qJoinOn(ia, probes, satMul(nQ, NPROBE), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
    }),
    // IVF with TRAINED centroids: seeded MLlib KMeans (√n cells), same
    // assignment/probe plan as ss_knn_ivf — the quantizer improves,
    // the data path doesn't change. Centroids are solver output, so
    // verification is the recall contract. nprobe=4 to hold recall on
    // this unclustered corpus.
    "ss_knn_ivf_kmeans" -> ((s, dir) => Persisted.scoped { p =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = Tables(s, dir).embeddings
      // count(embedding) skips nulls — both counts ride one job; only
      // rows WITH geometry can seed or fit centers
      val cntRow = e.agg(count(lit(1)), count(col("embedding"))).head()
      val n = cntRow.getLong(0)
      val nFit = cntRow.getLong(1)
      val nQ = e.filter(col("vec_id") % 100 === 0).count()
      val nCells = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
      val s2 = e.sparkSession
      // fewer fittable vectors than the cell count: the solver rejects
      // empty input and over-k fits — every vector is then its own
      // cell, the same deterministic quantizer shape as ss_knn_ivf,
      // degrading IVF to exact search on a tiny slice
      val cents =
        if (nFit < nCells)
          // cid stays the raw long id: an ANSI int cast would throw on
          // large (snowflake-style) vec_ids — exactly the degenerate
          // slice this branch exists to survive. cid never leaves the
          // query, so the branch-local type is free to differ.
          e.filter(col("embedding").isNotNull)
            .select(col("vec_id").as("cid"),
              col("embedding").cast("array<double>").as("ce"))
        else {
          // null embeddings carry no geometry — array_to_vector's
          // lambda rejects them, and a center fit on them is undefined
          val km = new KMeans().setK(nCells).setSeed(42).setMaxIter(10)
            .fit(e.filter(col("embedding").isNotNull)
              .select(array_to_vector(col("embedding")).as("features")))
          s2.createDataFrame(
            km.clusterCenters.toSeq.zipWithIndex.map { case (v, i) => (i, v.toArray) })
            .toDF("cid", "ce")
        }
      val wa = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
      val assigned = qCross(PlanStats.spread(e, "vec_id"), cents, nCells)
        .select(col("vec_id"), col("embedding"), col("cid"),
          expr(cosineSql("embedding", "ce", DIM)).as("csim"))
        .withColumn("arn", row_number().over(wa)).filter(col("arn") === 1)
        .select("vec_id", "embedding", "cid")
      val nProbeK = 4
      val wq = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
      val probes = qCross(e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
          cents, nCells)
        .select(col("qid"), col("qe"), col("cid"),
          expr(cosineSql("qe", "ce", DIM)).as("qsim"))
        .withColumn("qrn", row_number().over(wq)).filter(col("qrn") <= nProbeK)
        .select("qid", "qe", "cid")
      val cands = p.keep(qJoinOn(assigned, probes, satMul(nQ, nProbeK), Seq("cid"))
        .filter(col("vec_id") =!= col("qid")))
      val candRows = cands.count()
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val ann = cands
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
      recallContract(ann, bruteTopK(e, nQ), nQ, n, candRows,
        minRecall = 0.2, maxScanFrac = 0.5)
    }),
    // scalar-quantized (int8) ANN: compress every float to an 8-bit
    // code against the global [min, max] range — 4x less memory and
    // bandwidth per vector, the standard first compression step before
    // IVF/PQ at corpus scale. Ranking runs entirely on the quantized
    // codes; scores are integer dot products (exact in double whatever
    // the accumulation order), so unlike float-sum ANN this variant is
    // bit-identical across engines BY CONSTRUCTION, and the oracle
    // checks it exactly.
    "ss_knn_sq" -> ((s, dir) => Persisted.scoped { p =>
      val e = Tables(s, dir).embeddings
      val stats = e.agg(
        min(expr("array_min(embedding)")).cast("double").as("mn"),
        max(expr("array_max(embedding)")).cast("double").as("mx"))
      val quant = "transform(embedding, x -> CAST(least(255, " +
        "floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0)) AS DOUBLE))"
      // kept: the quantized relation feeds both sides of the
      // query×corpus scoring join — without it the quantization
      // lineage runs twice.
      val eq = p.keep(PlanStats.spread(e, "vec_id").crossJoin(broadcast(stats))
        .select(col("vec_id"), expr(quant).as("qv")))
      val q = eq.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("qv").as("qq"))
      val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("vec_id"))
      qCross(eq, q, nQueryEst(s, dir))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qq", "qv", DIM)).as("qcos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
    }),
    // Product quantization (PQ 8×16): each 64-dim float vector
    // compresses to 8 four-bit codes — 32× less memory — by
    // quantizing every 8-dim subvector against a 16-entry per-subspace
    // codebook; search ranks by asymmetric distance (true query
    // subvector vs the corpus vector's RECONSTRUCTED centroid). This
    // is the compression layer that makes billion-vector serving fit
    // in RAM (IVF prunes candidates, PQ shrinks what remains). The
    // codebook is TRAINED: deterministic driver-local Lloyd k-means
    // (kmeansLocal, k=16) per subspace on a
    // deterministic bounded corpus sample (≤2048 vectors — the
    // scale-safe fit size), shipped inside the native PqEncode/PqAdc
    // expressions (PqExpressions) — encode and search stay pure
    // codegen'd expression pipelines, no shuffle of the embedding
    // column at all. Codes are argmin output (solver-style), so
    // verification is the recall contract vs in-query brute force;
    // the vectors are L2-normalized (‖v‖=1), making L2-argmin and
    // cosine-argmax rankings identical.
    "ss_knn_pq" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val nQ = e.filter(col("vec_id") % 100 === 0).count()
      val cbFlat = PqExpressions.flatten(pqCodebook(e, n))
      // encode: per subspace, distances to all 16 centroids, then the
      // argmin index — one native codegen'd expression
      val enc = PlanStats.spread(e, "vec_id")
        .select(col("vec_id"), pqEncodeCol(col("embedding"), cbFlat).as("codes"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // stage 1 — ADC shortlist: rank by asymmetric distance on the
      // compressed codes only, keep top RERANK candidates per query
      val rerankR = 10 * K
      val wAdc = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("vec_id"))
      val shortlist = qCross(enc, q, nQ)
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qe"), col("vec_id"),
          pqAdcCol(col("qe"), col("codes"), cbFlat).as("adist"))
        .withColumn("arank", row_number().over(wAdc))
        .filter(col("arank") <= rerankR)
      // stage 2 — exact rerank (the FAISS refine step): fetch the FULL
      // vector for just the R shortlisted candidates per query and
      // re-rank by true cosine. Memory story intact: the scan ranks on
      // 32×-compressed codes; exact vectors are touched for O(R) rows
      // per query, not the corpus.
      val wX = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val ann = shortlist
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(wX))
        .filter(col("rank") <= K)
      // measured recall@5 vs brute with the trained codebook + rerank:
      // 0.68 (sf0.001) / 0.80 (sf0.01) / 0.53 (sf0.1) — up from
      // 0.08–0.20 for the round-4 raw-sample codebook without rerank.
      // The 0.3 pin trips on a broken encode/ADC/rerank (which scores
      // ≈ random, K/n ≈ 0.0025–0.01), not on data difficulty (this
      // isotropic corpus is PQ's worst case).
      // zero queries or a ≤K-vector corpus: recall holds vacuously
      // (and ANSI errors on the double division) — same guard as
      // recallContract
      val recallOk =
        if (nQ == 0 || n <= K) lit(true)
        else col("_hits").cast("double") / lit(K.toDouble * nQ) >= lit(0.3)
      ann.select("qid", "vec_id")
        .join(bruteTopK(e, nQ).select("qid", "vec_id"),
          Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("_hits"))
        .select(
          lit(nQ).as("n_queries"),
          recallOk.as("recall_ok"),
          lit(32).as("compression_x"))
    }),
    // IVF + PQ + exact rerank — the composed billion-scale serving
    // pipeline (FAISS's IVFPQ with refine): the coarse quantizer
    // prunes the corpus to nprobe cells, PQ codes rank the survivors
    // at 32× less memory bandwidth, and the top-R shortlist reranks
    // on true vectors. The index pass computes cell AND codes in ONE
    // projection over the corpus (broadcast centroids + codebook
    // literal — the embedding column never shuffles); search is one
    // equi-join on the cell id against broadcast probes. Codebook is
    // trained (pqCodebook), so verification is the recall contract.
    "ss_knn_ivfpq" -> ((s, dir) => Persisted.scoped { p =>
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val nQ = e.filter(col("vec_id") % 100 === 0).count()
      val cbFlat = PqExpressions.flatten(pqCodebook(e, n))
      // √n cells (standard IVF sizing — probed fraction shrinks as
      // nprobe/√n), centroids a deterministic stride through the
      // corpus so the index needs no training pass beyond the codebook
      val nCells = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
      val cents = e.filter(pmod(col("vec_id"), lit(math.max(1L, n / nCells))) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      // index pass: nearest cell (argmax cosine over broadcast
      // centroids) + PQ codes, one corpus scan, all codegen'd
      val wa = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
      val assigned = qCross(PlanStats.spread(e, "vec_id"), cents, nCells)
        .select(col("vec_id"), col("embedding"), col("cid"),
          expr(cosineSql("embedding", "ce", DIM)).as("csim"))
        .withColumn("arn", row_number().over(wa)).filter(col("arn") === 1)
        .withColumn("codes", pqEncodeCol(col("embedding"), cbFlat))
        .select("vec_id", "cid", "codes")
      val nProbeC = 4
      val wq = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
      val probes = qCross(e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
          cents, nCells)
        .select(col("qid"), col("qe"), col("cid"),
          expr(cosineSql("qe", "ce", DIM)).as("qsim"))
        .withColumn("qrn", row_number().over(wq)).filter(col("qrn") <= nProbeC)
        .select("qid", "qe", "cid")
      val cands = p.keep(qJoinOn(assigned, probes, satMul(nQ, nProbeC), Seq("cid"))
        .filter(col("vec_id") =!= col("qid")))
      val candRows = cands.count()
      // ADC ranking on codes within the probed cells, then exact
      // rerank of the top-R shortlist on true vectors
      val rerankR = 10 * K
      val wAdc = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("vec_id"))
      val wX = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
      val ann = cands
        .select(col("qid"), col("qe"), col("vec_id"),
          pqAdcCol(col("qe"), col("codes"), cbFlat).as("adist"))
        .withColumn("arank", row_number().over(wAdc))
        .filter(col("arank") <= rerankR)
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("qid"), col("vec_id"),
          expr(cosineSql("qe", "embedding", DIM)).as("cosine"))
        .withColumn("rank", row_number().over(wX))
        .filter(col("rank") <= K)
      // measured recall@5 vs brute: 0.44 (sf0.001) / 0.36 (sf0.01) /
      // 0.31 (sf0.1) at candidate scan fractions 0.16 / 0.16 / 0.09 —
      // 2× margin over the 0.15 pin on this isotropic worst case.
      recallContract(ann, bruteTopK(e, nQ), nQ, n, candRows,
        minRecall = 0.15, maxScanFrac = 0.5)
    }),
    // Scale-path near-dup pairs: 8 independent LSH bands, planes per
    // band adaptive (buckets ∝ n ⇒ candidate pairs O(n·bucket), never
    // O(n²/2^const)). Candidate generation joins only (id, band, key)
    // — embeddings are fetched AFTER the distinct, so wide arrays
    // never shuffle per band. Verified by a recall/precision contract
    // against stratified brute-force truth (every-50th smaller id;
    // n_true_pairs is exact arithmetic, so the oracle recomputes it
    // bit-for-bit).
    "ss_knn_graph" -> ((s, dir) => Persisted.scoped { p =>
      // full k-NN GRAPH construction — every vector's top-K
      // neighbors, the structure semantic-dedup clustering, graph-
      // based ANN serving (HNSW-ish), and diversity sampling all
      // start from. Candidates come from the banded signature join
      // (12 bands × adaptive planes — union of 12 chances to
      // collide, so close pairs are found with high probability); the exact
      // cosine rerank + per-source row_number keeps K edges per node
      // (Catalyst runs it as a map-side WindowGroupLimit before the
      // one window shuffle). Contract: out-degree ≤ K everywhere
      // (exact, by construction), ≥80% of nodes covered, recall vs
      // the exact brute truth on the every-100th source stratum, and
      // candidate volume linear in n — solver facts as booleans, the
      // same contract shape as the other ANN entries.
      val e = Tables(s, dir).embeddings
      val n = e.count()
      // empty corpus: no graph to build — and AQE's empty-relation
      // propagation can elide the CollectMetrics nodes the candidate
      // audit reads, so exit before the observed jobs, not after
      if (n == 0) {
        val s2e = e.sparkSession
        import s2e.implicits._
        Seq((0L, true, true, true, true))
          .toDF("n_nodes", "degree_bounded", "coverage_ok", "recall_ok",
            "cands_within_band_budget")
      } else {
      val planes = neardupPlanes(n)
      val nBands = 12 // more seed chances than the near-dup join: top-K
                      // targets sit at lower cosine than τ-near-dups
      // deliberately NOT PlanStats.spread: r18 measured the estimate-gated
      // repartition here (to widen the 0.8 s single-task seed-join
      // probe over the 1-split sf0.1 cache) and REJECTED it — the
      // 32-partition cache makes each of this query's ~26 small jobs
      // pay full-width task scheduling, a consistent net loss
      // (alternating A/B: 3.63 → 4.17 s; incremental 8.96 → 9.67 s),
      // while at corpus scale the gate no-ops (the source's own splits
      // parallelize). Evidence: plans/r18/ss_knn_graph_rejected_*.txt.
      val banded = p.keep(knnBandedSig(e, nBands, planes))
      // the candidate-volume contract stat rides the rerank job as an
      // observed metric instead of a separate persist + count action —
      // at bench scale the audit's cost was dominated by job-launch
      // floors, not compute, and at cluster scale one fewer
      // materialization of the widest intermediate is strictly better
      val obsSeed = org.apache.spark.sql.Observation("knn_seed_cands")
      val cands = banded.select(col("vec_id").as("src"), col("band"), col("bk"))
        .join(banded.select(col("vec_id").as("dst"), col("band"), col("bk")),
          Seq("band", "bk"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
        .observe(obsSeed, count(lit(1)).as("c"))
      def rerank(pairs: DataFrame): DataFrame = knnRerank(e, pairs)
      // each round's graph is LINEAGE-TRUNCATED (eager localCheckpoint,
      // the standard iterative-algorithm discipline): without it the
      // logical plan embeds ~3 copies of the previous round's whole
      // tree per round — including the 4.6k-literal signature
      // projection — and driver-side analysis, not execution,
      // dominates the query (measured ~23 s → ~8 s at sf0.1).
      var graph = rerank(cands).localCheckpoint(true)
      var candRows = obsSeed.get("c").asInstanceOf[Long]
      // NN-Descent refinement: a neighbor's neighbor is a likely
      // neighbor — undirected 2-hop candidate expansion + exact
      // rerank. Each round adds ≤ (2K)² candidates per node (O(n·K²),
      // independent of corpus geometry), and lifts recall where
      // hashing alone is weakest (isotropic corpora with no cluster
      // structure for buckets to exploit). This is the standard
      // construction (Dong et al., WWW'11) — hash for seeds, descend
      // to converge. ONE round: measured on the current corpus at
      // n=2000 (sf0.1), recall@5 is 0.42 seed-only → 0.52 after round
      // 1 → 0.53 after round 2 — the second round's +0.01 never buys
      // back its full expansion + rerank pass (and at n=500 one round
      // already sits at 0.96), so descent stops at one.
      val descentRounds = 1
      for (r <- 1 to descentRounds) {
        val obsExp = org.apache.spark.sql.Observation(s"knn_descent_$r")
        val expanded = descentExpand(graph, dirty = None)
          .observe(obsExp, count(lit(1)).as("c"))
        graph = rerank(expanded).localCheckpoint(true)
        candRows += obsExp.get("c").asInstanceOf[Long]
      }
      // ALL the audit scalars ride ONE action: the graph stats agg,
      // the recall join-agg and the banding-occupancy agg are
      // independent single-row subtrees, so a crossJoin of the three
      // executes them as one job instead of three serialized
      // job-launch barriers (the checkpointed graph and persisted
      // banding make each branch cheap; the barriers were the cost).
      val statAgg = graph.agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_src"))
      // recall audit: outer-join truth against the graph's sampled
      // adjacency, count queries and hits in the same agg (nq =
      // distinct truth qids ≡ the every-100th query count when n ≥ 2,
      // since every query has n-1 truth candidates)
      val truth = bruteTopK(e, n / 100 + 1)
      val hitAgg = truth.select(col("qid"), col("vec_id"))
        .join(graph.filter(col("src") % 100 === 0)
          .select(col("src").as("qid"), col("dst").as("vec_id"),
            lit(1L).as("hit")),
          Seq("qid", "vec_id"), "left_outer")
        .agg(countDistinct(col("qid")).as("nq"),
          coalesce(sum(col("hit")), lit(0L)).as("hits"))
      // density-adaptive candidate budget, DERIVED not fitted: each
      // (band, bucket) of size c emits exactly c·(c−1) ordered seed
      // pairs, so Σ c·(c−1) over the banding table — one cheap agg on
      // the already-persisted signature frame (≤ nBands·n tiny rows)
      // — is an exact upper bound on the observed (post-distinct)
      // seed volume, and each descent round adds ≤ (4K² + 2K + K)·n
      // rows (2K-capped undirected adjacency × 2K fan-out, plus the
      // retained dirty lists — see descentExpand). Safety factor 1 BY
      // CONSTRUCTION: the inequality is algebraic, unlike the fitted
      // 512n → 2048n constants of rounds 12-13 that needed re-tuning
      // per corpus shape (duplication multiplies occupancy — here it
      // raises the budget by exactly the corpus's genuine near-pair
      // mass, which is output, not waste). The all-pairs tripwire is
      // preserved: a regression that bypasses banding (cartesian
      // seeds) emits ~n² candidates while the budget stays at the
      // banding table's true occupancy (~600n on the duplicated sf10
      // rehearsal corpus, 5 orders below n² at that scale), so it
      // still trips instantly. Decimal sum (not Long): at 100 TB a
      // single degenerate bucket's c·(c−1) can pass 2⁶³.
      val occAgg = banded.groupBy(col("band"), col("bk"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum((col("c") * (col("c") - 1))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0))
          .as("occ"))
      val auditRow = statAgg.crossJoin(hitAgg).crossJoin(occAgg).first()
      val (nEdges, nSrc) = (auditRow.getLong(0), auditRow.getLong(1))
      val (nq, hits) = (auditRow.getLong(2), auditRow.getLong(3))
      val occPairs = {
        val d = auditRow.getDecimal(4)
        if (d.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) >= 0)
          Long.MaxValue else d.longValue()
      }
      val candBudget = occPairs + descentRounds.toLong * (4 * K * K + 3 * K) * n
      graft.log.debug(f"[knn-graph] n=$n edges=$nEdges srcCov=${nSrc.toDouble / n}%.3f " +
          f"recall=${if (nq > 0) hits.toDouble / (K * nq) else 1.0}%.3f " +
          f"scanFrac=${candRows.toDouble / (n.toDouble * n)}%.4f " +
          f"cands=$candRows budget=$candBudget occ=${occPairs / math.max(n, 1)}·n")
      val s2 = e.sparkSession
      import s2.implicits._
      Seq((n,
        nEdges <= K * n,
        nSrc.toDouble / n >= 0.8,
        // measured (1 descent round): 0.96 at n=500, 0.52 at n=2000 on
        // this isotropic corpus (the hard case — nothing for buckets
        // or descent to exploit; clustered corpora sit far higher).
        // Floor pinned with margin so bucketing/descent regressions
        // trip, not data difficulty — the same calibration as the
        // other ANN entries.
        nq == 0L || hits.toDouble / (K * nq) >= 0.45,
        // candidate volume within the occupancy-derived budget (exact
        // algebraic bound — see candBudget above); AnnBudgetSpec pins
        // it on a duplicated AND a high-entropy fixture with no
        // constant to retune at the next corpus shape
        candRows <= candBudget))
        .toDF("n_nodes", "degree_bounded", "coverage_ok", "recall_ok",
          "cands_within_band_budget")
      }
    }),
    // incremental k-NN-graph MAINTENANCE — ss_knn_graph without the
    // rebuild: the new crawl batch (vec_id % 5 == 4, the same
    // deterministic stand-in as dd_incremental / dd_lsh_incremental)
    // probes the PERSISTED band index of the existing corpus, existing
    // nodes that collide with a new vector re-rank only their own
    // K-list ∪ the new arrivals, and one NN-Descent round runs only
    // from DIRTY nodes (the batch + the collided). Untouched nodes'
    // adjacency rows pass through untouched. Scale shape: the prior
    // state (band index + adjacency) is the artifact kept warm between
    // batches — its build cost is NOT per-batch cost; per-batch work
    // is one index probe + rerank of O(batch · bucket) candidates and
    // a descent expansion of O(dirty · K²) — never O(corpus). The
    // contract pins exactly that: per-batch candidate volume linear in
    // the BATCH size, with the same recall floor as the full build
    // (the batch's seed candidates are band-identical to the full
    // build's, so incrementality loses no recall by construction).
    "ss_knn_graph_incremental" -> ((s, dir) => Persisted.scoped { p =>
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val planes = neardupPlanes(n)
      val nBands = 12
      val isNew = col("vec_id") % 5 === 4
      val banded = p.keep(knnBandedSig(e, nBands, planes)
        .withColumn("is_new", isNew))
      def rerank(pairs: DataFrame): DataFrame = knnRerank(e, pairs)
      // ---- prior state (kept warm in production; built once here) ----
      val oldBand = banded.filter(!col("is_new"))
        .select(col("vec_id"), col("band"), col("bk"))
      val oldCands = oldBand.select(col("vec_id").as("src"), col("band"), col("bk"))
        .join(oldBand.select(col("vec_id").as("dst"), col("band"), col("bk")),
          Seq("band", "bk"))
        .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
      val seedOld = rerank(oldCands).localCheckpoint(true)
      val oldGraph = rerank(descentExpand(seedOld, dirty = None)).localCheckpoint(true)
      // ---- per-batch work (everything counted from here) ----
      val probe = p.keep(banded.filter(col("is_new"))
        .select(col("vec_id").as("src"), col("band"), col("bk"))
        .join(banded.select(col("vec_id").as("dst"), col("band"), col("bk")),
          Seq("band", "bk"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct())
      var batchCands = probe.count()
      val newEdges = rerank(probe)
      // existing nodes that collided re-rank their K-list ∪ arrivals
      val rev = probe.filter(col("dst") % 5 =!= 4)
        .select(col("dst").as("src"), col("src").as("dst"))
      val affected = p.keep(rev.select("src").distinct())
      val updatedOld = rerank(oldGraph.join(affected, Seq("src"), "left_semi")
        .select("src", "dst").unionByName(rev).distinct())
      val merged = oldGraph.join(affected, Seq("src"), "left_anti")
        .unionByName(updatedOld).unionByName(newEdges).localCheckpoint(true)
      // one descent round from the dirty nodes only
      val dirty = affected
        .unionByName(e.filter(isNew).select(col("vec_id").as("src"))).distinct()
      val expanded = p.keep(descentExpand(merged, Some(dirty)))
      batchCands += expanded.count()
      val graph = merged.join(dirty, Seq("src"), "left_anti")
        .unionByName(rerank(expanded)).localCheckpoint(true)
      // derived per-batch budget (same discipline as the full build's
      // occupancy bound): the probe join emits exactly
      // Σ c_new·(c_all − 1) pre-distinct pairs over the banding table,
      // and the dirty-node descent adds ≤ (4K² + 3K)·|dirty| rows —
      // both computed from this batch's own frames, no fitted constant
      // (the retired 1024·batchN needed recalibration per corpus
      // shape). A regression that re-probes the whole corpus (old×old
      // pairs) exceeds the new-row occupancy budget immediately — the
      // incrementality claim stays a tripwire.
      val occNewPairs = {
        val d = banded.groupBy(col("band"), col("bk"))
          .agg(count(lit(1)).as("c"),
            sum(when(col("is_new"), 1L).otherwise(0L)).as("cn"))
          .agg(coalesce(sum((col("cn") * (col("c") - 1))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0)))
          .first().getDecimal(0)
        if (d.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) >= 0)
          Long.MaxValue else d.longValue()
      }
      val nDirty = dirty.count()
      val batchBudget = occNewPairs + (4 * K * K + 3 * K).toLong * nDirty
      val batchN = e.filter(isNew).count()
      val statRow = graph.agg(count(lit(1)), countDistinct(col("src"))).first()
      val (nEdges, nSrc) = (statRow.getLong(0), statRow.getLong(1))
      val truth = bruteTopK(e, n / 100 + 1)
      val hits = graph.filter(col("src") % 100 === 0)
        .select(col("src").as("qid"), col("dst").as("vec_id"))
        .join(truth.select("qid", "vec_id"), Seq("qid", "vec_id"), "left_semi")
        .count()
      val nq = e.filter(col("vec_id") % 100 === 0).count()
      graft.log.debug(f"[knn-graph-inc] n=$n batch=$batchN edges=$nEdges " +
          f"srcCov=${nSrc.toDouble / n}%.3f " +
          f"recall=${if (nq > 0) hits.toDouble / (K * nq) else 1.0}%.3f " +
          f"batchCands=$batchCands perBatchVec=${batchCands / math.max(batchN, 1)}")
      val s2 = e.sparkSession
      import s2.implicits._
      Seq((n,
        nEdges <= K * n,
        nSrc.toDouble / n >= 0.8,
        nq == 0L || hits.toDouble / (K * nq) >= 0.45,
        // per-batch candidates within the derived batch budget — the
        // incrementality claim itself, made algebraic (see batchBudget
        // above). batchN only gates the degenerate no-batch case.
        (batchN == 0L || batchCands <= batchBudget)))
        .toDF("n_nodes", "degree_bounded", "coverage_ok", "recall_ok",
          "batch_cost_linear_in_batch")
    }),
    "ss_embed_neardup" -> ((s, dir) => Persisted.scoped { p =>
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val planes = neardupPlanes(n)
      val bandCols = (0 until NEARDUP_BANDS).map { b =>
        expr(signBucketSql("embedding", DIM, planes, offset = b * planes))
      }
      val banded = e.select(col("vec_id"),
          posexplode(array(bandCols: _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
      val a = banded.select(col("vec_id").as("id_a"), col("band"), col("bk"))
      val b = banded.select(col("vec_id").as("id_b"), col("band"), col("bk"))
      val cands = p.keep(a.join(b, Seq("band", "bk")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct())
      val candRows = cands.count()
      val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
      val found = cands.join(ea.hint("shuffle_hash"), "id_a")
        .join(eb.hint("shuffle_hash"), "id_b")
        .select(col("id_a"), col("id_b"),
          expr(cosineSql("e_a", "e_b", DIM)).as("cosine"))
        .filter(col("cosine") >= NEARDUP_TAU)
      // the contract is asserted over the deterministic stratum of
      // pairs whose SMALLER id is ≡ 0 (mod 50) — the same trick
      // bruteTopK plays with its every-100th query set. Truth for the
      // stratum is a BROADCAST join of the n/50 stratum rows against
      // the corpus (one corpus scan, no shuffle) instead of the
      // all-pairs crossJoin a full-corpus truth term would need —
      // that O(n²) shape lives nowhere in this query. Statistically
      // the stratum is an unbiased 1/50 sample of the pair
      // population, so the recall floor carries over unchanged.
      val nFoundStratum = found.filter(col("id_a") % 50 === 0).count()
      val x = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      val y = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
      // the stratum is 2% of the corpus — same linear-growth class as
      // the query broadcasts, same gate: replicated nested loop past
      // the ceiling (the non-equi condition leaves no equi fallback)
      val xG = if (n / 50 + 1 <= maxBroadcastRows(s))
        broadcast(x) else x.hint("shuffle_replicate_nl")
      val nTrue = xG.join(y, col("id_a") < col("id_b"))
        .filter(expr(cosineSql("e_a", "e_b", DIM)) >= NEARDUP_TAU).count()
      val s2 = e.sparkSession
      import s2.implicits._
      // measured stratum recall ≈ overall recall (0.67 sf0.01 / 0.34
      // sf0.1) on this isotropic corpus where "near" means cos
      // 0.3-0.5 — the hard case; banding holds ≥0.9 on
      // genuinely-duplicated corpora. Vacuously true when the stratum
      // holds no true pairs (tiny SFs).
      Seq((nTrue,
        nTrue == 0L || nFoundStratum.toDouble / nTrue >= 0.25,
        nFoundStratum <= nTrue, // found ⊆ true (same exact arithmetic)
        candRows <= 256L * n))
        .toDF("n_true_pairs", "recall_ok", "precision_exact", "cands_linear_in_n")
    }),
    // Oracle-exact near-dup form: constant 6-plane single-band buckets
    // that DuckDB rebuilds exactly.
    "ss_embed_neardup_fixed" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
        .withColumn("bucket", expr(signBucketSql("embedding", DIM, PLANES)))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("bucket"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("bucket"))
      a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr(cosineSql("e_a", "e_b", DIM)).as("cosine"))
        .filter(col("cosine") >= 0.3)
    }),
    // SEMANTIC dedup end-to-end — the embedding-space analog of
    // dd_dedup_corpus: near-dup pairs (the oracle-exact fixed-form
    // bucketing, so DuckDB replays every edge) → min-label connected
    // components (Dedup.clusters — the same generation-disciplined
    // fixpoint) → per-vector keep/drop, keeping each cluster's min-id
    // representative. Vectors with no near-dup edge are their own
    // cluster and always keep. This is the pipeline that actually
    // shrinks a corpus: pairs alone can't drive a drop decision.
    "ss_semantic_dedup" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
        .withColumn("bucket", expr(signBucketSql("embedding", DIM, PLANES)))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("bucket"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("bucket"))
      val pairs = a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .filter(expr(cosineSql("e_a", "e_b", DIM)) >= 0.3)
        .select("id_a", "id_b")
      val cl = graft.operators.Dedup.clusters(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      Tables(s, dir).embeddings.select(col("vec_id"))
        .join(cl, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("keep", col("cluster_id") === col("vec_id"))
    }),
    // EMBEDDING-SPACE decontamination — the semantic sibling of
    // dd_decontaminate: an eval vector is contaminated when any train
    // vector sits within cos ≥ 0.3 of it (the split is vec_id parity,
    // standing in for two real corpora). Candidates come from the
    // oracle-exact fixed bucketing — one slim equi-join on the bucket
    // key, never eval × train — and every eval vector is emitted with
    // its exact same-bucket hit count, so misses (the bucketing's
    // false negatives) are part of the DECLARED semantics and DuckDB
    // replays the whole thing bit-for-bit.
    "ss_decontaminate" -> ((s, dir) => {
      val e = Tables(s, dir).embeddings
        .withColumn("bucket", expr(signBucketSql("embedding", DIM, PLANES)))
      val train = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("tid"), col("embedding").as("te"), col("bucket"))
      val eval = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"), col("bucket"))
      val hits = eval.join(train, Seq("bucket"))
        .filter(expr(cosineSql("embedding", "te", DIM)) >= NEARDUP_TAU)
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_train_hits"))
      eval.select(col("vec_id"))
        .join(hits, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_train_hits"), lit(0L)).as("n_train_hits"),
          (coalesce(col("n_train_hits"), lit(0L)) > 0).as("contaminated"))
    }))

  private def contractOracle(extra: String): String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
       |       TRUE AS scan_bounded$extra
       |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin

  /** Shared by ss_knn_ivf and ss_index_persist: the persisted-index
    * serve path is bit-identical to the inline build. The stride CTE
    * is the SQL rendering of ivfStep — 125 at gate scale, n/ceil(√n)
    * past IvfOracleN — same integer arithmetic, so the index (and the
    * whole entry) stays bit-exact at every scale. */
  private lazy val ivfOracleSql: String =
    s"""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
         |stp AS (SELECT CASE WHEN n <= $IvfOracleN THEN CAST(125 AS BIGINT)
         |               ELSE GREATEST(CAST(1 AS BIGINT),
         |                 n // GREATEST(CAST(4 AS BIGINT),
         |                   CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS BIGINT))) END AS step
         |        FROM nn),
         |cents AS (
         |  SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings, stp WHERE vec_id % step = 0),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosineDuck("e.embedding", "c.ce", DIM)} DESC, c.cid) AS arn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE arn = 1),
         |probes AS (
         |  SELECT qid, qe, cid FROM (
         |    SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosineDuck("q.embedding", "c.ce", DIM)} DESC, c.cid) AS qrn
         |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0)
         |  WHERE qrn <= $NPROBE),
         |scored AS (
         |  SELECT p.qid, a.vec_id,
         |         ${cosineDuck("p.qe", "a.embedding", DIM)} AS cosine
         |  FROM assigned a JOIN probes p USING (cid)
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, vec_id, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin

  val oracles: Map[String, String] = Map(
    "ss_knn_mips" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |         ${dotDuck("qe", "embedding", DIM)} AS dot
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.qid)
         |SELECT qid, vec_id, dot, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "ss_knn_mips_lsh" -> contractOracle(""),
    "ss_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |         ${cosineDuck("qe", "embedding", DIM)} AS cosine
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.qid)
         |SELECT qid, vec_id, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "ss_knn_lsh" -> contractOracle(""),
    "ss_knn_ivf_kmeans" -> contractOracle(""),
    "ss_knn_ivfpq" -> contractOracle(""),
    "ss_knn_pq" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
        |       CAST(32 AS INT) AS compression_x
        |FROM embeddings WHERE vec_id % 100 = 0""".stripMargin,
    "ss_knn_lsh_fixed" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |                  ${signBucketDuck("embedding", DIM, PLANES)} AS bucket
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe,
         |             unnest(${probeArrayDuck("bucket", PLANES)}) AS probe
         |      FROM e WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |         ${cosineDuck("qe", "embedding", DIM)} AS cosine
         |  FROM e JOIN q ON e.bucket = q.probe
         |  WHERE e.vec_id <> q.qid)
         |SELECT qid, vec_id, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "ss_knn_filtered" ->
      s"""WITH e AS (SELECT vec_id, embedding, label,
         |                  ${signBucketDuck("embedding", DIM, PLANES)} AS bucket
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel,
         |             unnest(${probeArrayDuck("bucket", PLANES)}) AS probe
         |      FROM e WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id, e.label,
         |         ${cosineDuck("qe", "embedding", DIM)} AS cosine
         |  FROM e JOIN q ON e.bucket = q.probe AND e.label = q.qlabel
         |  WHERE e.vec_id <> q.qid)
         |SELECT qid, vec_id, label, cosine, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "ss_knn_ivf" -> ivfOracleSql,
    "ss_index_persist" -> ivfOracleSql,
    "ss_hybrid_rrf" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
         |  FROM documents),
         |tf AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS w FROM d),
         |nd AS (SELECT COUNT(*) AS n FROM documents),
         |keep AS (SELECT w FROM tf GROUP BY w
         |         HAVING COUNT(*) * 5 <= (SELECT n FROM nd)),
         |tfk AS (SELECT tf.* FROM tf JOIN keep USING (w)),
         |lex AS (
         |  SELECT qid, doc_id, lrank FROM (
         |    SELECT q.doc_id AS qid, c.doc_id,
         |           COUNT(*) AS n_shared,
         |           ROW_NUMBER() OVER (PARTITION BY q.doc_id
         |             ORDER BY COUNT(*) DESC, c.doc_id) AS lrank
         |    FROM tfk q JOIN tfk c ON q.w = c.w AND c.doc_id <> q.doc_id
         |    WHERE q.doc_id % 100 = 0
         |    GROUP BY 1, 2)
         |  WHERE lrank <= 20),
         |vec AS (
         |  SELECT qid, doc_id, vrank FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS doc_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosineDuck("q.embedding", "e.embedding", DIM)} DESC,
         |                      e.vec_id) AS vrank
         |    FROM embeddings q CROSS JOIN embeddings e
         |    WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)
         |  WHERE vrank <= 20),
         |fused AS (
         |  SELECT qid, doc_id, lrank, vrank,
         |         CAST(coalesce(1000000 // (60 + lrank), 0)
         |              + coalesce(1000000 // (60 + vrank), 0) AS BIGINT)
         |           AS rrf_x1e6
         |  FROM lex FULL JOIN vec USING (qid, doc_id))
         |SELECT qid, doc_id, CAST(lrank AS INTEGER) AS lrank,
         |       CAST(vrank AS INTEGER) AS vrank, rrf_x1e6,
         |       CAST(rk AS INTEGER) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |            ORDER BY rrf_x1e6 DESC, doc_id) AS rk
         |  FROM fused)
         |WHERE rk <= $K""".stripMargin,
    "ss_knn_sq" ->
      s"""WITH st AS (SELECT CAST(MIN(list_min(embedding)) AS DOUBLE) AS mn,
         |                   CAST(MAX(list_max(embedding)) AS DOUBLE) AS mx
         |            FROM embeddings),
         |eq AS (SELECT vec_id,
         |              list_transform(embedding, x -> CAST(least(255,
         |                floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0)) AS DOUBLE)) AS qv
         |       FROM embeddings CROSS JOIN st),
         |q AS (SELECT vec_id AS qid, qv AS qq FROM eq WHERE vec_id % 100 = 0),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |         ${cosineDuck("qq", "qv", DIM)} AS qcos
         |  FROM eq e CROSS JOIN q
         |  WHERE e.vec_id <> q.qid)
         |SELECT qid, vec_id, qcos, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= $K""".stripMargin,
    "ss_knn_graph" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, TRUE AS degree_bounded,
        |       TRUE AS coverage_ok, TRUE AS recall_ok,
        |       TRUE AS cands_within_band_budget
        |FROM embeddings""".stripMargin,
    "ss_knn_graph_incremental" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, TRUE AS degree_bounded,
        |       TRUE AS coverage_ok, TRUE AS recall_ok,
        |       TRUE AS batch_cost_linear_in_batch
        |FROM embeddings""".stripMargin,
    "ss_embed_neardup" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok,
         |       TRUE AS precision_exact, TRUE AS cands_linear_in_n
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE a.vec_id % 50 = 0
         |  AND ${cosineDuck("a.embedding", "b.embedding", DIM)} >= $NEARDUP_TAU""".stripMargin,
    "ss_embed_neardup_fixed" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |                  ${signBucketDuck("embedding", DIM, PLANES)} AS bucket
         |           FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${cosineDuck("a.embedding", "b.embedding", DIM)} AS cosine
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosineDuck("a.embedding", "b.embedding", DIM)} >= 0.3""".stripMargin,
    "ss_decontaminate" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |                  ${signBucketDuck("embedding", DIM, PLANES)} AS bucket
         |           FROM embeddings),
         |hits AS (
         |  SELECT ev.vec_id, COUNT(*) AS n_train_hits
         |  FROM e ev JOIN e tr USING (bucket)
         |  WHERE ev.vec_id % 2 = 1 AND tr.vec_id % 2 = 0
         |    AND ${cosineDuck("ev.embedding", "tr.embedding", DIM)} >= $NEARDUP_TAU
         |  GROUP BY 1)
         |SELECT v.vec_id, coalesce(h.n_train_hits, 0) AS n_train_hits,
         |       coalesce(h.n_train_hits, 0) > 0 AS contaminated
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) v
         |LEFT JOIN hits h USING (vec_id)""".stripMargin,
    // min-label connected components over the fixed-form pair list as
    // a recursive transitive closure (the dd_clusters oracle shape),
    // then keep = is-own-cluster-representative.
    "ss_semantic_dedup" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding,
         |                  ${signBucketDuck("embedding", DIM, PLANES)} AS bucket
         |           FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |      WHERE ${cosineDuck("a.embedding", "b.embedding", DIM)} >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION ALL SELECT id_b, id_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.src, r.label FROM edges e2 JOIN reach r ON e2.dst = r.id),
         |cl AS (SELECT id AS vec_id, MIN(label) AS cluster_id FROM reach GROUP BY id)
         |SELECT v.vec_id, coalesce(cl.cluster_id, v.vec_id) AS cluster_id,
         |       coalesce(cl.cluster_id, v.vec_id) = v.vec_id AS keep
         |FROM (SELECT vec_id FROM embeddings) v LEFT JOIN cl USING (vec_id)""".stripMargin)
}
