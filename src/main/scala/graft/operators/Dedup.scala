package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Persisted, PlanStats}
import graft.functions.TextFunctions.normText

/** Document deduplication operators for training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Design rules (these must survive 100 TB):
  *  - NO pairwise cartesian anywhere — every near-dup algorithm
  *    generates candidate pairs through an equi-join on a blocking key
  *    (LSH band hash / sign bucket / 1-perm min-hash), i.e. one shuffle
  *    on the key, then verifies only the candidates;
  *  - hashing is md5-based (built-in, and available in DuckDB so
  *    every operator is oracle-verifiable bit-for-bit);
  *  - signatures are computed in a single projection pass with
  *    higher-order array functions (transform/aggregate — interpreted,
  *    not codegen'd: the price of exact DuckDB-replayable md5 shapes,
  *    paid once per corpus and bounded by the digest count) — no
  *    explode of the shingle set into a row-multiplied intermediate
  *    for the signature path.
  */
object Dedup {

  /** Word n-gram shingle set (distinct) of the canonical text.
    * `normalize = false` declares textCol ALREADY canonical (the
    * caller ran normText once and cached it) — the regex chain is the
    * dominant per-row cost of every text-dedup pass, so a pipeline
    * touching the corpus several times normalizes once and passes the
    * stored column; semantics are identical because normText is
    * idempotent. */
  def withShingles(docs: DataFrame, textCol: String = "text", n: Int = 3,
                   normalize: Boolean = true): DataFrame =
    PlanStats.spread(docs, "doc_id")
      .withColumn("_words", split(
        if (normalize) normText(col(textCol)) else col(textCol), " "))
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(1), greatest(size(col("_words")) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(col("_words"), i, lit(n))))))
      .drop("_words")

  /** Exact dedup: group by canonical-content hash, keep the smallest
    * id as the representative, report group size. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            normalize: Boolean = true): DataFrame =
    docs
      .groupBy(md5(if (normalize) normText(col(textCol)) else col(textCol))
        .as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: k permutations from k/4 salted md5 passes —
    * each md5 hex digest is sliced into four independent 8-hex-char
    * (32-bit) hashes, and the string-min of a uniform hex hash over
    * the element set is a valid min-hash. Hashing is the dominant
    * interpreted-HOF cost of the dedup suite (measured 9s → ~2.5s on
    * the signature stage at 4× fewer digests), so we pay one digest
    * per (salt, element) and amortize it across 4 signature slots.
    * The whole signature is a single expression (inner transform
    * binds the per-salt digest array exactly once) so optimizer
    * projection-collapsing can never duplicate the md5 work. */
  def minhashSignatures(shingled: DataFrame, k: Int = 16): DataFrame = {
    require(k % 4 == 0, s"k must be a multiple of 4, got $k")
    shingled.withColumn("sig", minhashSig(col("shingles"), k))
  }

  /** The native one-pass signature expression (same slots, same bytes
    * as the md5-HOF reference formulation that MinhashSigSpec pins it
    * against and that DedupQueries.sigDuck renders for the DuckDB
    * oracle). */
  private[graft] def minhashSig(arr: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MinhashSig(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(arr), k))

  /** LSH banding: split the k-length signature into bands of r rows;
    * docs sharing any band hash become candidate pairs (one equi-join
    * shuffle on (band, hash) — never a cartesian). Pairs are verified
    * with exact Jaccard over the shingle sets. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
                      minJaccard: Double = 0.5, textCol: String = "text",
                      normalize: Boolean = true): DataFrame = Persisted.scoped { p =>
    val r = k / bands
    // kept: feeds banding AND both sides of the verify join (at
    // warehouse scale this signature table is written to storage once).
    val sigs = p.keep(minhashSignatures(
      withShingles(docs, textCol = textCol, n = n, normalize = normalize), k = k)
      .select(col("doc_id"), col("shingles"), col("sig")))
    val banded = sigs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", slice(col("sig"), b * r + 1, lit(r)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    // hash-hinted: never sort-merge the wide shingle arrays.
    // |A∪B| = |A|+|B|−|A∩B| for the distinct shingle sets — same
    // integer, same IEEE division, HALF the per-pair set work (the
    // union hash set was built per candidate just to be counted)
    cands.join(sa.hint("shuffle_hash"), "id_a")
      .join(sb.hint("shuffle_hash"), "id_b")
      .withColumn("_i", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("_i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("_i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  private val hexChars = "0123456789abcdef"
  /** popcount lookup for a 4-bit value v: '0112122312232334'[v]. */
  private val popLookup = "0112122312232334"

  /** 64-bit SimHash as a 16-hex-digit string, built from per-word md5
    * digests: every hex digit position contributes 4 bit-votes weighted
    * by word frequency (each occurrence votes). Pure SQL expressions so
    * the oracle reproduces it exactly. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // decode each hex digit of the word digest ONCE in a projection
    // (16 substr+instr string ops per word); the 64 bit-vote sums then
    // run on small ints — quartering the per-word string work vs
    // evaluating substr/instr inside every vote expression.
    val digitCols = (1 to 16).map { g =>
      expr(s"instr('$hexChars', substr(m, $g, 1)) - 1").as(s"d_$g")
    }
    val words = PlanStats.spread(docs, idCol).select(
      col(idCol).as("doc_id"),
      explode(split(normText(col(textCol)), " ")).as("w"))
      .withColumn("m", md5(col("w")))
      .select(col("doc_id") +: digitCols: _*)
    // vote_{g}_{j}: sum over words of ±1 for bit j of hex digit g.
    val votes = (1 to 16).flatMap { g =>
      (0 to 3).map { j =>
        sum(expr(s"((d_$g div ${1 << j}) % 2) * 2 - 1")).as(s"v_${g}_$j")
      }
    }
    val agg = words.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val digits = (1 to 16).map { g =>
      val dig = (0 to 3).map { j =>
        s"(CASE WHEN v_${g}_$j > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      expr(s"substr('$hexChars', ($dig) + 1, 1)")
    }
    agg.select(col("doc_id"), concat(digits: _*).as("simhash"))
  }

  /** SimHash near-dup candidate pairs: block on 4-hex-digit bands
    * (docs agreeing on any 16-bit quarter of the signature), then
    * compute the exact 64-bit Hamming distance per candidate pair and
    * keep pairs under the threshold. */
  def simhashPairs(simsIn: DataFrame, maxHamming: Int = 16): DataFrame =
      Persisted.scoped { p =>
    // the 64-agg signature build feeds both sides of the self-join —
    // compute it once.
    val sims = p.keep(simsIn)
    val banded = sims.select(
      col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> substr(simhash, b * 4 + 1, 4))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
    val a = banded.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"), col("band"), col("bk"))
    val b = banded.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"), col("band"), col("bk"))
    a.join(b, Seq("band", "bk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr(hammingExpr("sh_a", "sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming distance between two 16-hex-digit signatures, as a column
    * expression valid in Spark SQL (uses ^ for xor). */
  def hammingExpr(a: String, b: String): String =
    (1 to 16).map { g =>
      val da = s"(instr('$hexChars', substr($a, $g, 1)) - 1)"
      val db = s"(instr('$hexChars', substr($b, $g, 1)) - 1)"
      s"CAST(substr('$popLookup', ($da ^ $db) + 1, 1) AS INT)"
    }.mkString(" + ")

  /** Near-dup cluster assignment: connected components over a pair
    * list, by iterative min-label propagation to fixpoint — each
    * member gets the smallest doc_id of its component as cluster_id
    * (the canonical survivor under keep-min dedup policy).
    *
    * This is the step between candidate pairs and actually dropping
    * duplicates: near-dup is transitive in practice (A~B, B~C ⇒ one
    * cluster) and pair output alone can't drive a keep/drop decision.
    * Sparse edge sets (≤ driverMaxEdges) take a bounded-collect
    * union-find fast path; above it, a distributed fixpoint where
    * each round is one neighbor-min hop (join + min-aggregation, the
    * standard scalable CC shape) plus one pointer-doubling hop, so
    * convergence is O(log diameter) — a pathological million-node
    * chain costs ~20 rounds, not a million. The driver loop only
    * checks the converged count — all data stays distributed. */
  def clusters(pairs: DataFrame, driverMaxEdges: Long = 1L << 20): DataFrame =
      Persisted.scoped { p =>
    // Small-graph fast path: near-dup edge sets are SPARSE (dedup
    // pairs, not social graphs), and below ~1M edges (≤ ~16 MB — a
    // bounded, documented collect) a driver union-find finishes in
    // milliseconds where the distributed fixpoint pays seconds of
    // fixed per-round scheduling. Same output by construction (min
    // member id per component). Above the bound, the distributed
    // doubling loop below takes over; ClustersSpec pins both paths to
    // identical results.
    val slim = p.keep(pairs.select(col("id_a"), col("id_b")))
    // ONE parallel materializing job decides the path (a count over
    // the kept frame — map-side partials, every partition at
    // once). The r17 probe, limit(cap+1).collect(), looked like one
    // bounded action but planned CollectLimitExec, whose executeTake
    // scans 1, 4, 16, … partitions in SERIALIZED jobs until the limit
    // fills — ~log₄(P) driver barriers per clusters() call, each a
    // full job round-trip (measured: the dominant fixed cost of every
    // clusters-riding entry at small SFs, where data is ~zero). The
    // fast path then fetches the now-cached edges with a single plain
    // collect (one job, all partitions in parallel); the distributed
    // path fetches nothing at all — the old probe collected up to
    // cap+1 rows just to discard them (driver pressure, wasted fetch).
    val cap = math.min(driverMaxEdges, (Int.MaxValue - 2).toLong)
    if (slim.count() <= cap) unionFind(slim) else fixpoint(p, slim)
  }

  private def unionFind(slim: DataFrame): DataFrame = {
    val spark = slim.sparkSession
    val arr = slim.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    arr.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = parent.keys.toSeq.map(id => (id, find(id))).sorted
    import spark.implicits._
    out.toDF("doc_id", "cluster_id").repartition(
      spark.sparkContext.defaultParallelism, col("cluster_id"))
  }

  /** clusters' distributed fixpoint; its result reads the last label
    * generation, which the scope checkpoints before releasing it. */
  private def fixpoint(p: Persisted, slim: DataFrame): DataFrame = {
    val spark = slim.sparkSession
    val edges = p.keep(slim.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(slim.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // Generation discipline — the two failure modes of iterative plans,
    // both fatal long before 100 TB, handled explicitly:
    //  - PLAN growth: labels_k naively references labels_{k-1} twice
    //    (join input + neighbor lookup), so the analyzed tree doubles
    //    per iteration and the ANALYZER, not the cluster, becomes the
    //    bottleneck (measured: a diameter-10 component stalls the
    //    driver for minutes). Each generation is therefore re-rooted
    //    as a LogicalRDD over its materialized cache — iteration plans
    //    stay O(1).
    //  - CACHE growth: the previous generation is dropped from the
    //    scope once the new one is materialized, so a long fixpoint
    //    holds exactly one labels copy in executor memory, not one per
    //    iteration.
    var cachedGen: Option[DataFrame] = None
    // materialize a generation with ONE action — the changed-count IS
    // the materializing job (a separate count() per generation would
    // double the fixed per-round job cost that dominates sparse edge
    // sets) — then re-root it as a LogicalRDD over the cache.
    def advance(df: DataFrame): (DataFrame, Long) = {
      val next = p.keep(df)
      val changed = next.filter(col("new_label") < col("label")).count()
      cachedGen.foreach(p.drop)
      cachedGen = Some(next)
      (spark.createDataFrame(next.rdd, next.schema)
        .select(col("id"), col("new_label").as("label")), changed)
    }
    var labels = {
      val init = p.keep(edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      init.count()
      cachedGen = Some(init)
      spark.createDataFrame(init.rdd, init.schema)
    }
    var changed = 1L
    while (changed > 0) {
      // one round = one neighbor-min hop + one pointer-doubling hop
      // (adopt the label OF my label). Doubling turns the round count
      // from O(component diameter) into O(log diameter) — on a
      // pathological million-node chain that is 20 rounds, not a
      // million, and each round stays join + agg + map-side lookup.
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nmin"))
      val stepped = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("slabel"))
      // keyed by node id (unique per stepped row), so the left join
      // can't multiply rows; stepped is deliberately referenced twice
      // within ONE round — bounded duplication, unlike the
      // generation-to-generation growth advance() exists to stop
      val jump = stepped
        .select(col("id").as("slabel"), col("slabel").as("jlabel"))
      val (next, ch) = advance(stepped
        .join(jump, Seq("slabel"), "left")
        .select(col("id"), col("label"),
          least(col("slabel"), coalesce(col("jlabel"), col("slabel")))
            .as("new_label")))
      labels = next
      changed = ch
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Character n-gram Jaccard near-dup: banded min-hash LSH blocking
    * over the char-gram sets + length bucket, exact Jaccard verify.
    *
    * A single min-hash block degenerates on corpora with heavy shared
    * vocabulary (the globally-min gram lands in most docs → the block
    * join tends toward all-pairs; measured 622k candidate pairs on 5k
    * synthetic docs). Banding k=16 signatures into 4 bands of r=4
    * requires agreement on 4 consecutive min-hashes, which cut the
    * candidate set 10× (59.6k) with the identical verified output.
    * Additional guards, both exactly mirrored by the oracle:
    *  - a 64-char length bucket in the block key — docs of very
    *    different length can't reach J >= 0.8;
    *  - a size-ratio pre-filter before the expensive intersection:
    *    J(A,B) <= min(|A|,|B|)/max(|A|,|B|) is a LOSSLESS bound for
    *    the thresholded output.
    * The signature relation is kept: it feeds candidate
    * generation AND both sides of the verify join (at warehouse scale
    * this intermediate would be written to storage once instead).
    * Verify joins are hash-hinted so the wide gram arrays are never
    * sort-merged. */
  /** Bijective Latin-1 packing of one ≤4-char gram into an int (one
    * byte per char, zero-padded — NUL is excluded from the packable
    * charset by the caller's gate, so padding can't alias a real
    * char). Packing is LOSSLESS on its domain: distinct/intersect/
    * union sizes over packed ints equal the string-set sizes, so the
    * verified jaccard is bit-identical — which is why the oracle
    * stays in string form. */
  private def packGram(g: Column): Column =
    (shiftleft(ascii(g.substr(lit(1), lit(1))), 24) +
      shiftleft(ascii(g.substr(lit(2), lit(1))), 16) +
      shiftleft(ascii(g.substr(lit(3), lit(1))), 8) +
      ascii(g.substr(lit(4), lit(1)))).cast("int")

  /** TEST HOOK: packGram applied to a one-column ("g") frame —
    * OperatorSpec pins the packing against a reference byte packer. */
  private[graft] def packGramProbe(df: DataFrame): DataFrame =
    df.select(col("g"), packGram(col("g")).as("p"))

  def charGramPairs(docs: DataFrame, n: Int = 4, k: Int = 16, bands: Int = 4,
                    minJaccard: Double = 0.8, packVerify: Boolean = false)
      : DataFrame = Persisted.scoped { p =>
    val r = k / bands
    // t and the gram array are bound ONCE per row as single-element-
    // transform lambda VALUES (the DocumentStream lesson). As a
    // withColumn chain this site happened to be safe — CollapseProject
    // refuses to inline a non-cheap alias referenced more than once —
    // but that protection is one optimizer cost-model decision away
    // from gone, and it does NOT extend to predicate pushdown: a
    // filter landing above the chain gets the aliases SUBSTITUTED into
    // its condition unconditionally, which is exactly how the
    // streaming gate re-ran the normText chain O(words) per row
    // (DocumentStream.scala, measured 38 s vs <1 s at sf1). Binding as
    // lambda values makes single evaluation a property of the
    // EXPRESSION, not of which optimizer rules fire around it; A/B'd
    // perf-neutral here (1.2 s sf0.1 / ~24 s sf1 both forms). The
    // kept frame carries the packed struct so the cache build
    // evaluates it once.
    // same one-pass native signature as minhashSignatures (bit-equal
    // to the old per-salt HOF chain — MinhashSigSpec)
    val sigOf = (arr: Column) => minhashSig(arr, k)
    // the kept verify arrays: packed ints (8→4 B/gram of array
    // payload vs 16 B/gram for 4-char strings — the gram arrays are
    // what every candidate pair ships through the verify exchange, so
    // this is the dominant byte count of the whole entry at scale)
    // when the caller's charset gate allows, strings otherwise. Packed
    // arrays are SORTED once per document at build time so the verify
    // can run SortedJaccardGe's early-exit merge instead of a per-pair
    // hash intersection — O(g log g) once per doc against Θ(candidate
    // pairs) merge work, and sorting a set changes no set size. The
    // SIGNATURES always come from the string grams — the banding is
    // mirrored byte-for-byte by the DuckDB oracle and must not move.
    val gramsOf = (gs: Column) =>
      if (packVerify) array_sort(transform(gs, packGram(_))) else gs
    // gram generation is the native one-pass window expression (same
    // output strings as the old transform/substr HOF, minus its
    // O(len²) per-window code-point re-scan — CharNgrams.scala)
    val charNgrams = (t: Column) =>
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.CharNgrams(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(t), n))
    val packed = element_at(transform(array(normText(col("text"))), t =>
      element_at(transform(array(array_distinct(charNgrams(t))), gs =>
        struct(gramsOf(gs).as("grams"),
          // length div 64; exact as floor(x/64.0) — 64 is a power of
          // two, the division is lossless in double
          floor(length(t) / lit(64)).cast("long").as("lb"),
          sigOf(gs).as("sig"))), lit(1))), lit(1))
    val grams = p.keep(PlanStats.spread(docs, "doc_id")
      .select(col("doc_id"), packed.as("s")))
      .select(col("doc_id"), col("s.grams").as("grams"),
        col("s.lb").as("lb"), col("s.sig").as("sig"))
    // candidate generation joins only (id, set-size, band key) — the
    // gram arrays are fetched AFTER the cheap filters, so wide rows
    // never shuffle for pairs that can't pass the threshold.
    val banded = grams.select(
      col("doc_id"), size(col("grams")).as("sz"), col("lb"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", slice(col("sig"), b * lit(r) + 1, lit(r)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val a = banded.select(col("doc_id").as("id_a"), col("sz").as("sz_a"),
      col("band"), col("bh"), col("lb"))
    val b = banded.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
      col("band"), col("bh"), col("lb"))
    val cands = a.join(b, Seq("band", "bh", "lb")).filter(col("id_a") < col("id_b"))
      .filter( // lossless Jaccard upper bound on set sizes
        least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")) >= minJaccard)
      .select("id_a", "id_b").distinct()
    val ga = grams.select(col("doc_id").as("id_a"), col("grams").as("g_a"))
    val gb = grams.select(col("doc_id").as("id_b"), col("grams").as("g_b"))
    // packed path: thresholded early-exit merge over the pre-sorted
    // int arrays (codegen'd, allocation-free) — survivors carry the
    // bit-identical jaccard of the portable form, dead pairs return
    // -1.0 and die in the same filter, so the oracle sees no change.
    // String path: the portable intersect/union formulation.
    val jaccard =
      if (packVerify)
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.SortedJaccardGe(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("g_a")),
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("g_b")),
            minJaccard))
      else {
        // |A∪B| = |A|+|B|−|A∩B| over the distinct gram sets (same
        // integer, same division — see the minhash verify above)
        val i = size(array_intersect(col("g_a"), col("g_b")))
        i.cast("double") / (size(col("g_a")) + size(col("g_b")) - i)
      }
    cands.join(ga.hint("shuffle_hash"), "id_a")
      .join(gb.hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
