package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Persisted, Tables}
import graft.operators.Dedup

/** Deduplication surface over `documents` (SURVEY.md north-star
  * operators). Every near-dup variant is blocked-join based — the
  * oracle SQL reproduces the identical md5-based signatures, so even
  * the approximate algorithms are verified bit-for-bit. */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Gram-packing gate for the chargram verify stage: packed-int gram
    * arrays are only bijective (hence bit-exact) when every char of
    * the NORMALIZED text is Latin-1 in [0x01, 0xFF] — NUL excluded so
    * the packer's zero-padding of sub-4-char grams can't alias a real
    * char. The probe runs over normText(text), NOT the raw column,
    * because grams are built from the normalized form and lower() can
    * move characters across the Latin-1 boundary (a locale-sensitive
    * JVM lowers ASCII 'I' to U+0131 inside non-ASCII strings) — the
    * gate must certify exactly the domain that gets packed. One
    * early-exit scan per JVM + dir + file-listing fingerprint; shared
    * CountMemo sentinel convention (see Similarity/Graph): the result
    * here is a FOUND-WIDE-CHARS count (0 = packable, 1 = wide — both
    * legitimate, both memoized), and Long.MaxValue marks a FAILED
    * probe, which fails CLOSED onto the always-correct string path
    * and re-probes next call. */
  private val wideCharDocs =
    new graft.core.GraftSession.CountMemo(onError = Long.MaxValue)
  private def packableCorpus(s: SparkSession, dir: String): Boolean =
    wideCharDocs(s, s"$dir/documents.parquet")(
      Tables(s, dir).documents
        .filter(graft.functions.TextFunctions.normText(col("text"))
          .rlike("[^\\x01-\\xff]"))
        .limit(1).count()) == 0L

  val queries: Map[String, Q] = Map(
    "dd_exact" -> ((s, dir) => Dedup.exact(Tables(s, dir).documents)),
    "dd_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables(s, dir).documents)),
    "dd_simhash" -> ((s, dir) => Dedup.simhash(Tables(s, dir).documents)),
    "dd_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.simhash(Tables(s, dir).documents))),
    "dd_chargram_pairs" -> ((s, dir) =>
      Dedup.charGramPairs(Tables(s, dir).documents,
        packVerify = packableCorpus(s, dir))),
    "dd_clusters" -> ((s, dir) =>
      Dedup.clusters(Dedup.minhashLshPairs(Tables(s, dir).documents))),
    // record linkage / entity-level fuzzy matching: every pair of
    // customer names at edit distance exactly 1, found by SymSpell
    // deletion blocking — each name keys on itself plus its
    // one-char-deleted variants, pairs meet in an equi-join on the
    // key. The blocking is LOSSLESS for distance 1 (substitution ⇒
    // shared deletion at that position; insert/delete ⇒ one side's
    // identity equals the other's deletion), so the oracle derives
    // the answer INDEPENDENTLY from the O(N²) definition and the
    // equi-join must reproduce it exactly. Scale shape: the deletion
    // index is O(N · name_len) slim rows; candidates meet in one
    // equi-join — never name × name (the oracle's cross join is the
    // shape this operator exists to avoid).
    "dd_fuzzy_pairs" -> ((s, dir) => {
      val names = Tables(s, dir).customer
        .select(col("c_custkey"), col("c_name"))
      val dels = names.select(col("c_custkey"), col("c_name"), explode(expr(
        """array_union(array(c_name), transform(sequence(1, length(c_name)),
          |  k -> concat(substr(c_name, 1, k - 1),
          |              substr(c_name, k + 1, length(c_name)))))"""
          .stripMargin)).as("key"))
      val a = dels.select(col("c_custkey").as("key_a"),
        col("c_name").as("name_a"), col("key"))
      val b = dels.select(col("c_custkey").as("key_b"),
        col("c_name").as("name_b"), col("key"))
      a.join(b, Seq("key"))
        .filter(col("name_a") < col("name_b"))
        .select("key_a", "key_b", "name_a", "name_b").distinct()
        .filter(levenshtein(col("name_a"), col("name_b")) === 1)
    }),
    // cross-snapshot incremental dedup — the production shape for a
    // continuously-crawled corpus: the NEW batch (doc_id % 5 == 4, a
    // deterministic stand-in for the latest crawl) dedups against the
    // EXISTING corpus and against its own earlier rows, never
    // re-deduping the existing corpus against itself. dup_of points at
    // the canonical copy: the existing corpus's min doc_id for that
    // content hash if any, else the smallest earlier in-batch doc_id.
    // Scale shape: the existing side reduces to one (hash, min_id) row
    // per distinct content before the join — at 100 TB that index is
    // the thing you keep warm between crawls; per-crawl cost is
    // O(batch + matched hashes), not O(corpus).
    "dd_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hashed = Tables(s, dir).documents
        .select(col("doc_id"),
          md5(graft.functions.TextFunctions.normText(col("text"))).as("h"),
          (col("doc_id") % 5 === 4).as("is_new"))
      val existing = hashed.filter(!col("is_new"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("ex_min"))
      val wb = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hashed.filter(col("is_new"))
        .withColumn("batch_min", min(col("doc_id")).over(wb))
        .join(existing, Seq("h"), "left")
        .select(col("doc_id"),
          when(col("ex_min").isNotNull &&
              (col("batch_min").isNull || col("ex_min") < col("batch_min")),
            col("ex_min")).otherwise(col("batch_min")).as("dup_of"))
        .withColumn("is_novel", col("dup_of").isNull)
    }),
    // incremental NEAR-dup — dd_incremental one level up: the new
    // crawl batch (doc_id % 5 == 4, same deterministic stand-in)
    // probes the LSH band index of the existing corpus plus its own
    // earlier rows, and never re-pairs the existing corpus against
    // itself. Emits every verified (new doc, matched doc) pair at
    // Jaccard >= 0.5. Scale shape: the (band, hash, id) index is the
    // artifact you keep warm between crawls — built once, appended
    // per batch; per-crawl cost is ONE equi-join of the batch's bands
    // against the index plus a Jaccard verify of the O(candidates)
    // survivors — never O(corpus²) and never O(batch × corpus). The
    // oracle recomputes the pairs from the full-corpus definition
    // under the same blocking — hash-equality proves probe-side
    // incrementality loses nothing.
    "dd_lsh_incremental" -> ((s, dir) => Persisted.scoped { p =>
      val sigs = p.keep(Dedup.minhashSignatures(
          Dedup.withShingles(Tables(s, dir).documents))
        .select(col("doc_id"), col("shingles"), col("sig"),
          (col("doc_id") % 5 === 4).as("is_new")))
      val banded = sigs.select(col("doc_id"), col("is_new"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => md5(concat_ws("|", slice(col("sig"), b * 4 + 1, lit(4)))))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      val probe = banded.filter(col("is_new"))
        .select(col("doc_id").as("new_id"), col("band"), col("bh"))
      val index = banded.select(col("doc_id").as("match_id"),
        col("is_new").as("m_new"), col("band"), col("bh"))
      val cands = probe.join(index, Seq("band", "bh"))
        .filter(col("match_id") =!= col("new_id") &&
          (!col("m_new") || col("match_id") < col("new_id")))
        .select("new_id", "match_id").distinct()
      val sa = sigs.select(col("doc_id").as("new_id"), col("shingles").as("sh_a"))
      val sb = sigs.select(col("doc_id").as("match_id"), col("shingles").as("sh_b"))
      // hash-hinted: never sort-merge the wide shingle arrays
      cands.join(sa.hint("shuffle_hash"), "new_id")
        .join(sb.hint("shuffle_hash"), "match_id")
        // |A∪B| = |A|+|B|−|A∩B| over distinct shingle sets — same
        // integer, same division, half the per-pair set work
        .withColumn("_i", size(array_intersect(col("sh_a"), col("sh_b"))))
        .select(col("new_id"), col("match_id"),
          (col("_i").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("_i"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }),
    // asymmetric containment — doc-IN-doc detection, the case Jaccard
    // near-dup structurally misses: a short doc fully quoted inside a
    // long one has |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but |A∩B|/|A| ≈ 1.
    // Candidates come from an equi-join on RARE shingles only
    // (document frequency ≤ 50): a high-DF shingle is boilerplate
    // that would quadratically explode the join while adding no
    // discriminative power — the standard prefix/DF-filter trade. The
    // containment score itself is computed over the FULL shingle
    // sets of each surviving pair, so scores are exact; only pairs
    // sharing nothing but boilerplate are (deliberately) out of
    // scope, and the oracle applies the identical candidate rule.
    "dd_containment" -> ((s, dir) => Persisted.scoped { p =>
      val sh = p.keep(Dedup.withShingles(Tables(s, dir).documents)
        .select(col("doc_id"), col("shingles")))
      val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val rare = ex.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 50)
        .select("shingle")
      val rex = ex.join(rare, Seq("shingle"))
      val cands = rex.select(col("shingle"), col("doc_id").as("id_a"))
        .join(rex.select(col("shingle"), col("doc_id").as("id_b")), Seq("shingle"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b").distinct()
      val sa = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      val sb = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
      // hash-hinted: never sort-merge the wide shingle arrays
      cands.join(sa.hint("shuffle_hash"), Seq("id_a"))
        .join(sb.hint("shuffle_hash"), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(col("sh_a"))).as("containment"))
        .filter(col("containment") >= 0.8 && col("n_a") <= col("n_b"))
    }),
    // the end-to-end payoff: the corpus that survives dedup. Keep the
    // min-id representative of each exact-content group, then drop
    // near-dup cluster members that aren't their cluster's
    // representative. Two semi/anti joins on doc_id — the survivors
    // never rewrite, only filter.
    "dd_dedup_corpus" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val exactKeep = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
      val nearDrop = Dedup.clusters(Dedup.minhashLshPairs(docs))
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      docs.join(exactKeep, Seq("doc_id"), "left_semi")
        .join(nearDrop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars"))
    }),
    // train/eval decontamination — the gate that keeps benchmark
    // answers out of training data: an eval document is contaminated
    // if it shares ANY 3-word shingle with any train document (the
    // split here is doc_id parity, a deterministic stand-in for two
    // real corpora). Scale shape: both sides reduce to slim
    // (shingle, doc_id) rows meeting in ONE equi-join on the shingle;
    // the train side ships DISTINCT shingles only, and no document
    // text ever reaches the join (at 100 TB you'd front the probe
    // with a bloom filter of the train shingle set — see
    // j8_bloom_filter_join for that machinery).
    "dd_decontaminate" -> ((s, dir) => {
      // the parity filter runs BEFORE shingling, so the two branches
      // shingle DISJOINT halves — every document is normalized and
      // shingled exactly once with no cache to manage (the filter
      // reaches the parquet scan on both branches)
      val docs = Tables(s, dir).documents
      def shingled(half: DataFrame) = Dedup.withShingles(half)
        .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val train = shingled(docs.filter(col("doc_id") % 2 === 0))
        .select("shingle").distinct()
      // count, not countDistinct: shingles are distinct WITHIN a doc
      // (withShingles array_distincts) and the train side is distinct,
      // so each (eval doc, shingle) row joins at most once — the
      // countDistinct dedup pass would be pure waste
      shingled(docs.filter(col("doc_id") % 2 === 1))
        .join(train, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_shingles"))
    }),
    // bloom-filter-fronted decontamination — the promise in
    // dd_decontaminate's comment, kept. Spark's own InjectRuntimeFilter
    // can NEVER produce this plan: the rule only fires when the
    // probe-side key is a plain scan column, and both keys here are
    // explode(shingles) outputs. So the engine builds the identical
    // expression tree explicitly (BloomFilterSupport): a distributed
    // BloomFilterAggregate over xxhash64(train shingle) in a scalar
    // subquery, probed with might_contain on the eval side BEFORE its
    // shuffle — at 100 TB the eval corpus ships only
    // probably-contaminated shingles instead of all of them. Results
    // are hash-identical to dd_decontaminate: blooms have no false
    // negatives, and false positives die in the join. PlanSpec pins
    // the might_contain probe in the executed plan.
    "dd_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      def shingled(half: DataFrame) = Dedup.withShingles(half)
        .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val train = shingled(docs.filter(col("doc_id") % 2 === 0))
        .select("shingle").distinct()
      val eval = shingled(docs.filter(col("doc_id") % 2 === 1))
      // sized like Spark's own injected runtime filters (1M items →
      // 1 MB bloom); at real scale size to the train-corpus NDV —
      // undersizing only raises the FP rate, never loses a match
      val probe = graft.functions.BloomFilterSupport
        .mightContainProbe(train, "shingle", col("shingle"), 1L * 1000 * 1000)
      eval.filter(probe)
        .join(train, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_shingles"))
    }),
    // graded decontamination — the production form most pipelines
    // actually run: an eval doc sharing ONE shingle with train is
    // usually a stock phrase, not contamination, so the gate is the
    // OVERLAP FRACTION (shared / own shingles) against a threshold.
    // Emits every eval doc (zero-overlap docs included) with its exact
    // fraction and the ≥10% flag. Same slim-equi-join scale shape as
    // dd_decontaminate plus one broadcast-joinable per-doc size table;
    // the division is a single IEEE op so the oracle matches
    // bit-for-bit.
    "dd_decontaminate_overlap" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      def shingled(half: DataFrame) = Dedup.withShingles(half)
        .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val train = shingled(docs.filter(col("doc_id") % 2 === 0))
        .select("shingle").distinct()
      val shared = shingled(docs.filter(col("doc_id") % 2 === 1))
        .join(train, Seq("shingle"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      Dedup.withShingles(docs.filter(col("doc_id") % 2 === 1))
        .select(col("doc_id"), size(col("shingles")).as("n_shingles"))
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_shingles")
            >= 0.1).as("contaminated"))
    }),
    // exact TF-weighted cosine similarity join (the AllPairs family):
    // pairs meet through a posting-list equi-join on shared words, so
    // the cost is Σ_w df(w)² — bounded by dropping stop-grade words
    // (df > 20% of the corpus) from the similarity space first, the
    // relative-frequency analog of AllPairs' prefix filter (they
    // carry no discriminative weight anyway). The threshold needs NO
    // sqrt and NO floats: cos(a,b) ≥ τ ⟺ 10⁴·dot² ≥ 10⁴τ²·‖a‖²·‖b‖²
    // with every term an integer — cross-multiplying the squares
    // keeps an approximate-looking predicate bit-exact in any engine.
    // cos²·10⁴ ships as the score (monotone in cosine). The corpus
    // count is a bounded driver scalar (one number, like g_pagerank's
    // node count).
    "dd_cosine_pairs" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val nDocs = docs.count()
      val tf = docs.select(col("doc_id"),
          explode(split(graft.functions.TextFunctions.normText(col("text")), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val keep = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") * 5 <= nDocs).select(col("w"))
      val tfk = tf.join(keep, Seq("w"), "left_semi")
      val norms = tfk.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("n2"))
      tfk.select(col("w"), col("doc_id").as("id_a"), col("tf").as("tf_a"))
        .join(tfk.select(col("w"), col("doc_id").as("id_b"), col("tf").as("tf_b")),
          Seq("w"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
        .join(norms.select(col("doc_id").as("id_a"), col("n2").as("n2_a")), Seq("id_a"))
        .join(norms.select(col("doc_id").as("id_b"), col("n2").as("n2_b")), Seq("id_b"))
        .withColumn("cos2_x1e4", expr("(10000 * dot * dot) div (n2_a * n2_b)"))
        .filter(col("cos2_x1e4") >= 2500)
        .select(col("id_a"), col("id_b"), col("dot"),
          col("n2_a"), col("n2_b"), col("cos2_x1e4"))
    }))

  private[queries] val norm = """regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"""

  /** DuckDB rendering of the minhash signature (MinhashSig): k
    * min-hash slots from k/4 salted md5 passes, each digest sliced
    * into four 32-bit hashes. */
  private[queries] def sigDuck(arr: String, k: Int): String =
    s"""flatten(list_transform(
       |  list_transform(range(0, ${k / 4}), p -> list_transform($arr, g -> md5(concat(p, ':', g)))),
       |  hp -> list_transform(range(0, 4), s -> list_min(list_transform(hp, h -> substr(h, s*8+1, 8))))))""".stripMargin
  private val hexChars = "0123456789abcdef"
  private val popLookup = "0112122312232334"

  /** DuckDB rendering of the SimHash signature query (mirrors
    * Dedup.simhash exactly; `//` is DuckDB integer division). */
  private def simhashSql: String = {
    val sums = (1 to 16).flatMap { g =>
      (0 to 3).map { j =>
        val d = s"(instr('$hexChars', substr(m, $g, 1)) - 1)"
        s"SUM(((($d // ${1 << j}) % 2) * 2 - 1)) AS v_${g}_$j"
      }
    }.mkString(",\n       ")
    val digits = (1 to 16).map { g =>
      val dig = (0 to 3).map { j =>
        s"(CASE WHEN v_${g}_$j > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"substr('$hexChars', ($dig) + 1, 1)"
    }.mkString(" || ")
    s"""WITH words AS (
       |  SELECT doc_id, md5(unnest(string_split($norm, ' '))) AS m
       |  FROM documents),
       |v AS (SELECT doc_id, $sums FROM words GROUP BY doc_id)
       |SELECT doc_id, $digits AS simhash FROM v""".stripMargin
  }

  private def hammingSql(a: String, b: String): String =
    (1 to 16).map { g =>
      val da = s"(instr('$hexChars', substr($a, $g, 1)) - 1)"
      val db = s"(instr('$hexChars', substr($b, $g, 1)) - 1)"
      s"CAST(substr('$popLookup', xor($da, $db) + 1, 1) AS INT)"
    }.mkString(" + ")

  /** The dd_minhash_pairs oracle, reusable as a subquery (for the
    * cluster oracle's edge list, and over any earlier CTE — the
    * flagship corpus build runs it over its quality-filtered set). */
  private[queries] def minhashPairsSql(from: String = "documents"): String =
      s"""WITH sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(
         |           range(1, greatest(len(string_split($norm, ' ')) - 2, 1) + 1),
         |           i -> array_to_string((string_split($norm, ' '))[i:i+2], ' '))) AS shingles
         |  FROM $from),
         |sig AS (
         |  SELECT doc_id, shingles,
         |         ${sigDuck("shingles", 16)} AS sig
         |  FROM sh),
         |bands AS (
         |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
         |  FROM sig, range(0, 4) t(b)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b,
         |       CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |         / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM pairs
         |JOIN sh x ON id_a = x.doc_id
         |JOIN sh y ON id_b = y.doc_id
         |WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.5""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_exact" ->
      s"""SELECT md5($norm) AS content_hash,
         |       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         |FROM documents GROUP BY 1""".stripMargin,
    "dd_cosine_pairs" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS w FROM documents),
         |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
         |nd AS (SELECT COUNT(*) AS n FROM documents),
         |keep AS (SELECT w FROM tf GROUP BY w
         |         HAVING COUNT(*) * 5 <= (SELECT n FROM nd)),
         |tfk AS (SELECT tf.* FROM tf JOIN keep USING (w)),
         |norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
         |          FROM tfk GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM tfk a JOIN tfk b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
         |       (10000 * dot * dot) // (na.n2 * nb.n2) AS cos2_x1e4
         |FROM dots
         |JOIN norms na ON id_a = na.doc_id
         |JOIN norms nb ON id_b = nb.doc_id
         |WHERE (10000 * dot * dot) // (na.n2 * nb.n2) >= 2500""".stripMargin,
    // the oracle is the DEFINITION, not the blocking: all pairs at
    // levenshtein distance exactly 1 from the O(N²) cross join —
    // hash-equality proves the deletion blocking loses nothing
    "dd_fuzzy_pairs" ->
      """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
        |       a.c_name AS name_a, b.c_name AS name_b
        |FROM customer a JOIN customer b ON a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) = 1""".stripMargin,
    "dd_incremental" ->
      s"""WITH hs AS (SELECT doc_id, md5($norm) AS h, doc_id % 5 = 4 AS is_new
         |            FROM documents),
         |ex AS (SELECT h, MIN(doc_id) AS ex_min FROM hs WHERE NOT is_new GROUP BY 1),
         |nb AS (SELECT doc_id, h,
         |              MIN(doc_id) OVER (PARTITION BY h ORDER BY doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS batch_min
         |       FROM hs WHERE is_new)
         |SELECT doc_id,
         |       CASE WHEN ex_min IS NOT NULL
         |                 AND (batch_min IS NULL OR ex_min < batch_min)
         |            THEN ex_min ELSE batch_min END AS dup_of,
         |       (CASE WHEN ex_min IS NOT NULL
         |                  AND (batch_min IS NULL OR ex_min < batch_min)
         |             THEN ex_min ELSE batch_min END) IS NULL AS is_novel
         |FROM nb LEFT JOIN ex USING (h)""".stripMargin,
    "dd_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(string_split($norm, ' ')) - 2, 1) + 1),
         |    i -> array_to_string((string_split($norm, ' '))[i:i+2], ' ')))) AS shingle
         |  FROM documents),
         |train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0)
         |SELECT e.doc_id, COUNT(DISTINCT e.shingle) AS n_shared_shingles
         |FROM sh e JOIN train USING (shingle)
         |WHERE e.doc_id % 2 = 1
         |GROUP BY 1""".stripMargin,
    "dd_decontaminate_bloom" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(string_split($norm, ' ')) - 2, 1) + 1),
         |    i -> array_to_string((string_split($norm, ' '))[i:i+2], ' ')))) AS shingle
         |  FROM documents),
         |train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0)
         |SELECT e.doc_id, COUNT(DISTINCT e.shingle) AS n_shared_shingles
         |FROM sh e JOIN train USING (shingle)
         |WHERE e.doc_id % 2 = 1
         |GROUP BY 1""".stripMargin,
    "dd_decontaminate_overlap" ->
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(string_split($norm, ' ')) - 2, 1) + 1),
         |    i -> array_to_string((string_split($norm, ' '))[i:i+2], ' '))) AS shingles
         |  FROM documents),
         |train AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 2 = 0),
         |ev AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 2 = 1),
         |sc AS (SELECT doc_id, COUNT(*) AS n_shared
         |       FROM ev JOIN train USING (shingle) GROUP BY 1),
         |evd AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh WHERE doc_id % 2 = 1)
         |SELECT evd.doc_id, n_shingles,
         |       coalesce(n_shared, 0) AS n_shared,
         |       CAST(coalesce(n_shared, 0) AS DOUBLE) / n_shingles >= 0.1 AS contaminated
         |FROM evd LEFT JOIN sc USING (doc_id)""".stripMargin,
    "dd_minhash_pairs" -> minhashPairsSql(),
    "dd_containment" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(
         |           range(1, greatest(len(string_split($norm, ' ')) - 2, 1) + 1),
         |           i -> array_to_string((string_split($norm, ' '))[i:i+2], ' '))) AS shingles
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |rare AS (SELECT shingle FROM ex GROUP BY 1 HAVING COUNT(*) <= 50),
         |rex AS (SELECT e.doc_id, e.shingle FROM ex e JOIN rare USING (shingle)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM rex a JOIN rex b ON a.shingle = b.shingle
         |  WHERE a.doc_id <> b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(len(x.shingles) AS INTEGER) AS n_a,
         |       CAST(len(y.shingles) AS INTEGER) AS n_b,
         |       CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |         / len(x.shingles) AS containment
         |FROM cands
         |JOIN sh x ON id_a = x.doc_id
         |JOIN sh y ON id_b = y.doc_id
         |WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / len(x.shingles) >= 0.8
         |  AND len(x.shingles) <= len(y.shingles)""".stripMargin,
    "dd_lsh_incremental" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(
         |           range(1, greatest(len(string_split($norm, ' ')) - 2, 1) + 1),
         |           i -> array_to_string((string_split($norm, ' '))[i:i+2], ' '))) AS shingles
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, shingles,
         |         ${sigDuck("shingles", 16)} AS sig
         |  FROM sh),
         |bands AS (
         |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
         |  FROM sig, range(0, 4) t(b)),
         |cands AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS match_id
         |  FROM bands n JOIN bands o ON n.b = o.b AND n.bh = o.bh
         |  WHERE n.doc_id % 5 = 4 AND o.doc_id <> n.doc_id
         |    AND (o.doc_id % 5 <> 4 OR o.doc_id < n.doc_id))
         |SELECT new_id, match_id,
         |       CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |         / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
         |FROM cands
         |JOIN sh x ON new_id = x.doc_id
         |JOIN sh y ON match_id = y.doc_id
         |WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |        / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.5""".stripMargin,
    // connected components over the minhash pair list as a recursive
    // transitive closure; cluster_id = min reachable doc_id — exactly
    // the min-label fixpoint the Spark operator converges to.
    "dd_clusters" ->
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM (${minhashPairsSql()}) q),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION ALL SELECT id_b, id_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, MIN(label) AS cluster_id
         |FROM reach GROUP BY id""".stripMargin,
    "dd_dedup_corpus" ->
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM (${minhashPairsSql()}) q),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION ALL SELECT id_b, id_a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
         |near_drop AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id),
         |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5($norm))
         |SELECT d.doc_id, d.lang, length(d.text) AS n_chars
         |FROM documents d
         |JOIN exact_keep k ON d.doc_id = k.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM near_drop)""".stripMargin,
    "dd_simhash" -> simhashSql,
    "dd_simhash_pairs" ->
      s"""WITH sims AS ($simhashSql),
         |banded AS (
         |  SELECT doc_id, simhash, b, substr(simhash, b*4+1, 4) AS bk
         |  FROM sims, range(0, 4) t(b)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |         ${hammingSql("a.simhash", "c.simhash")} AS hamming
         |  FROM banded a JOIN banded c
         |    ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 16""".stripMargin,
    "dd_chargram_pairs" ->
      s"""WITH g AS (
         |  SELECT doc_id, t,
         |         list_distinct(list_transform(
         |           range(1, greatest(length(t) - 3, 1) + 1),
         |           i -> substr(t, i, 4))) AS grams
         |  FROM (SELECT doc_id, $norm AS t FROM documents)),
         |s AS (
         |  SELECT doc_id, grams, len(grams) AS sz, length(t) // 64 AS lb,
         |         ${sigDuck("grams", 16)} AS sig
         |  FROM g),
         |banded AS (
         |  SELECT doc_id, sz, lb, b,
         |         md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
         |  FROM s, range(0, 4) t(b)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM banded a JOIN banded c
         |    ON a.b = c.b AND a.bh = c.bh AND a.lb = c.lb AND a.doc_id < c.doc_id
         |  WHERE CAST(least(a.sz, c.sz) AS DOUBLE) / greatest(a.sz, c.sz) >= 0.8)
         |SELECT id_a, id_b,
         |       CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
         |         / len(list_distinct(list_concat(x.grams, y.grams))) AS jaccard
         |FROM pairs
         |JOIN g x ON id_a = x.doc_id
         |JOIN g y ON id_b = y.doc_id
         |WHERE CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
         |        / len(list_distinct(list_concat(x.grams, y.grams))) >= 0.8""".stripMargin)
}
