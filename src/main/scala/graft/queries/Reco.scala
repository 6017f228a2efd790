package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GraftSession, Tables}
import graft.ml.Recommender

/** Recommender surface (SURVEY.md §2.8 M1–M10).
  *
  * The interaction build and model dimensions are SQL-expressible and
  * oracle-checked exactly. The trained-model queries (ALS factors are
  * solver-dependent) are exposed as CONTRACT PROJECTIONS: each emits
  * the deterministic facts of its result — user/item lists and row
  * counts, which depend only on the input data, never on the solver —
  * plus self-checked booleans stating the semantic invariants of the
  * solver-dependent part (dense ranks, monotone scores, bounded
  * metrics, metric-definition consistency). The DuckDB oracle
  * re-derives the deterministic facts and states the booleans as TRUE,
  * so every entry is hash-verifiable end to end without requiring
  * bit-equality between two engines' factorization solvers. The
  * bit-exact ranking math itself is pinned separately by
  * RecommenderSpec (cosineTopK vs brute force) and MmrSpec/MmrProps.
  */
object Reco {
  type Q = (SparkSession, String) => DataFrame

  private val K = 5

  private def sampleUsers(s: SparkSession, dir: String): DataFrame =
    Recommender.interactions(Tables(s, dir))
      .select("user").distinct().filter(col("user") % 100 === 0)

  /** Per-user ranking contract over a (user, item, score, rank) result:
    * exactly k rows per user (the user list and count are deterministic
    * facts the oracle re-derives), ranks dense 1..k, scores valid, and
    * items distinct. `monotone` additionally asserts score ordering —
    * true for relevance rankings, deliberately NOT asserted for MMR
    * output (diversification breaks relevance order after the first
    * pick by design, mf_knn_recommender.py:477-547). */
  private def rankingContract(topk: DataFrame, scoreOk: org.apache.spark.sql.Column,
                              monotone: Boolean): DataFrame = {
    val w = Window.partitionBy(col("user")).orderBy(col("rank"))
    val base = topk
      .withColumn("_pr", lag(col("rank"), 1).over(w))
      .withColumn("_ps", lag(col("score"), 1).over(w))
      .withColumn("_so", scoreOk)
    val aggs = Seq(
      count(lit(1)).as("k_rows"),
      expr("bool_and(CASE WHEN _pr IS NULL THEN rank = 1 ELSE rank = _pr + 1 END)")
        .as("ranks_dense"),
      expr("bool_and(_so)").as("scores_valid"),
      (countDistinct(col("item")) === count(lit(1))).as("items_distinct")) ++
      (if (monotone) Seq(expr("bool_and(_ps IS NULL OR _ps >= score)").as("scores_monotone"))
       else Nil)
    base.groupBy(col("user")).agg(aggs.head, aggs.tail: _*)
  }

  /** Shared oracle fragment: the deterministic sample-user list. */
  private val sampleUsersSql =
    """SELECT DISTINCT CAST(o_custkey AS INTEGER) AS "user"
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL
      |  AND o_custkey % 100 = 0""".stripMargin

  val queries: Map[String, Q] = Map(
    "reco_interactions" -> ((s, dir) =>
      Recommender.interactions(Tables(s, dir))),
    // M3: cosine top-k off the model's factor index. Contract: every
    // sampled user gets exactly K dense-ranked, distinct, score-monotone
    // rows with cosine in [-1, 1]. (Bit-exactness vs brute force:
    // RecommenderSpec.)
    "reco_topk_cosine" -> ((s, dir) => {
      // no interactions → no model: an empty ranking satisfies the
      // contract vacuously (the contract math runs on the empty frame)
      val topk =
        if (!Recommender.hasInteractions(s, dir))
          Recommender.emptyOf(s, "user int, item int, score double, rank int")
        else Recommender.cosineTopK(Recommender.train(s, dir), sampleUsers(s, dir), K)
      rankingContract(topk, abs(col("score")) <= lit(1.0 + 1e-9), monotone = true)
    }),
    // M4 cold-start contract: the reference WARNS and returns a
    // message for a user absent from training
    // (mf_knn_recommender.py:234-236, 276-290) — it never silently
    // drops them. cosineTopK ranks only probe users with trained
    // factors, so unknown users yield zero rec rows; this entry makes
    // that the DECLARED serving answer: every probe user comes back
    // with (known, n_recs), recs empty exactly for the cold ones. The
    // probe set is the sample users plus two ids (-1, -2) that can
    // never train (o_custkey ≥ 0).
    "reco_unknown_user" -> ((s, dir) => {
      import s.implicits._
      val cold = Seq(-1, -2).toDF("user")
      if (!Recommender.hasInteractions(s, dir))
        cold.select(col("user"), lit(false).as("known"), lit(0L).as("n_recs"))
      else {
        val probes = sampleUsers(s, dir).unionByName(cold)
        val model = Recommender.train(s, dir)
        val recs = Recommender.cosineTopK(model, probes, K)
        val counts = recs.groupBy(col("user")).agg(count(lit(1)).as("n_recs"))
        val knownUsers = model.userFactors
          .select(col("id").as("user"), lit(true).as("known"))
        probes.join(knownUsers, Seq("user"), "left")
          .join(counts, Seq("user"), "left")
          .select(col("user"),
            coalesce(col("known"), lit(false)).as("known"),
            coalesce(col("n_recs"), lit(0L)).as("n_recs"))
      }
    }),
    // M4: MLlib-native blocked ranking (raw inner product — unbounded
    // scores, so the contract checks finiteness instead of [-1,1]).
    "reco_topk_als" -> ((s, dir) => {
      val topk =
        if (!Recommender.hasInteractions(s, dir))
          Recommender.emptyOf(s, "user int, rank int, item int, score float")
        else {
          val model = Recommender.train(s, dir)
          model.recommendForUserSubset(sampleUsers(s, dir), K)
            .select(col("user"), posexplode(col("recommendations")))
            .select(col("user"), (col("pos") + 1).as("rank"),
              col("col.item").as("item"), col("col.rating").as("score"))
        }
      rankingContract(topk, col("score").isNotNull && !isnan(col("score")),
        monotone = true)
    }),
    // M5/M6: MMR diversification. Contract: K dense-ranked distinct
    // picks per user, and the first pick equals the top-1 relevance
    // item (the greedy loop's documented anchor).
    "reco_mmr" -> ((s, dir) => {
      if (!Recommender.hasInteractions(s, dir))
        Recommender.emptyOf(s, "user int, k_rows bigint, ranks_dense boolean, " +
          "scores_valid boolean, items_distinct boolean, first_is_top_relevance boolean")
      else {
      val model = Recommender.train(s, dir)
      val users = sampleUsers(s, dir)
      val mmr = Recommender.diversify(model, users, K)
      val contract = rankingContract(mmr,
        col("score").isNotNull && !isnan(col("score")), monotone = false)
      val top1 = Recommender.cosineTopK(model, users, 1)
        .select(col("user"), col("item").as("_t1"))
      contract
        .join(mmr.filter(col("rank") === 1).select(col("user"), col("item")), "user")
        .join(top1, "user")
        .withColumn("first_is_top_relevance", col("item") === col("_t1"))
        .select("user", "k_rows", "ranks_dense", "scores_valid",
          "items_distinct", "first_is_top_relevance")
      }
    }),
    // M6 λ-sweep serving contract (use_model.py:94-98: the reference
    // demos MMR at λ∈{0.0, 0.5, 1.0} for one user). One deterministic
    // probe user (the min sample user — a single-row agg frame),
    // three diversify results unioned. Per-λ contract: K
    // dense-ranked distinct finite-scored picks anchored at the top-1
    // relevance item; for λ=1 additionally the WHOLE ranked list
    // equals the cosine top-K relevance list (MMR degenerates to pure
    // relevance — both sides break ties (score desc, item asc), so
    // equality is exact, not probabilistic; the λ=0/λ=1 laws are also
    // unit-pinned in MmrSpec).
    "reco_mmr_lambda" -> ((s, dir) => {
      if (!Recommender.hasInteractions(s, dir))
        Recommender.emptyOf(s, "lam double, u int, k_rows bigint, " +
          "ranks_dense boolean, scores_valid boolean, items_distinct boolean, " +
          "first_is_top_relevance boolean, lambda1_equals_relevance boolean")
      else {
        val model = Recommender.train(s, dir)
        val user = sampleUsers(s, dir).agg(min(col("user")).as("user"))
        val rel = Recommender.cosineTopK(model, user, K)
        val top1 = rel.filter(col("rank") === 1)
          .select(col("user"), col("item").as("_t1"))
        def lamRow(lam: Double): DataFrame = {
          val mmr = Recommender.diversify(model, user, K, lam)
          val c = rankingContract(mmr,
            col("score").isNotNull && !isnan(col("score")), monotone = false)
          // λ=1: rank-aligned full-list equality vs the relevance list
          // (full join so a row missing on either side fails the bool,
          // not vanishes); other λ: vacuous TRUE by definition.
          val l1 =
            if (lam == 1.0)
              mmr.select(col("user"), col("rank"), col("item"))
                .join(rel.select(col("user"), col("rank"),
                  col("item").as("_ri")), Seq("user", "rank"), "full")
                .groupBy(col("user"))
                .agg(expr("bool_and(item IS NOT NULL AND _ri IS NOT NULL" +
                  " AND item = _ri)").as("lambda1_equals_relevance"))
            else mmr.select(col("user")).distinct()
              .withColumn("lambda1_equals_relevance", lit(true))
          c.join(mmr.filter(col("rank") === 1)
              .select(col("user"), col("item")), "user")
            .join(top1, "user").join(l1, "user")
            .select(lit(lam).as("lam"), col("user").as("u"), col("k_rows"),
              col("ranks_dense"), col("scores_valid"), col("items_distinct"),
              (col("item") === col("_t1")).as("first_is_top_relevance"),
              col("lambda1_equals_relevance"))
        }
        Seq(0.0, 0.5, 1.0).map(lamRow).reduce(_ unionByName _)
      }
    }),
    // M7: P/R/F1@k. num_evaluated_users is a pure function of the
    // md5 holdout split (oracle re-derives it); the metric values are
    // solver-dependent, so the contract asserts their bounds and the
    // F1-of-averages definition instead.
    "reco_eval" -> ((s, dir) => {
      val p = col("precision"); val r = col("recall")
      Recommender.evaluate(s, dir).select(
        col("num_evaluated_users"),
        (p >= 0 && p <= 1).as("precision_in_range"),
        (r >= 0 && r <= 1).as("recall_in_range"),
        when(p + r > 0,
          abs(col("f1_score") - lit(2.0) * p * r / (p + r)) < lit(1e-12))
          .otherwise(col("f1_score") === 0).as("f1_consistent"))
    }),
    // M8: catalog coverage. items_total = |trained items| = |distinct
    // interaction items| (deterministic); the covered fraction is
    // solver-dependent → bounded + self-consistent.
    "reco_coverage" -> ((s, dir) => {
      val cov = Recommender.coverage(s, dir)
      cov.select(
        col("items_total"),
        (col("items_recommended") >= 1 &&
          col("items_recommended") <= lit(100L * K)).as("recommended_in_range"),
        (col("coverage") > 0 && col("coverage") <= 1).as("coverage_in_range"),
        (abs(col("coverage") -
          col("items_recommended").cast("double") / col("items_total")) < lit(1e-12))
          .as("coverage_consistent"))
    }),
    // M9: PCA(2) item projection. The item list is deterministic (one
    // factor row per trained item); the coordinates are solver-
    // dependent → finiteness contract.
    "reco_item_pca" -> ((s, dir) =>
      if (!Recommender.hasInteractions(s, dir))
        Recommender.emptyOf(s, "item int, coords_finite boolean")
      else Recommender.itemPca(Recommender.train(s, dir))
        .select(col("item"),
          (col("x").isNotNull && !isnan(col("x")) &&
            col("y").isNotNull && !isnan(col("y"))).as("coords_finite"))),
    "reco_model_info" -> ((s, dir) => Recommender.modelInfo(s, dir)),
    "reco_next_item" -> ((s, dir) => {
      // sequential ("customers bought next") recommendation — the
      // basket-transition Markov model: for each item, the top-3
      // items most often appearing in the SAME customer's NEXT order.
      // Consecutive orders pair up through one lag window per
      // customer (tiny ordered partitions, ties broken by orderkey).
      // Baskets are aggregated ONCE to l_orderkey → item array (one
      // shuffle on the order key; array_distinct inside the agg
      // replaces a separate distinct shuffle — counts consume a set,
      // so collect_list order nondeterminism is harmless), and the
      // basket² transition fan-out happens AFTER both order-key joins
      // as two explodes — so the joins move one compact row per order
      // instead of one row per lineitem, and both joins consume the
      // SAME aggregated frame, already hash-partitioned on its key by
      // its own agg exchange (reused, not re-shuffled). Fan-out stays
      // bounded by basket size squared, never catalog or customer
      // count. Counts are exact integers; top-3 per item is a
      // map-side WindowGroupLimit over the aggregated (small)
      // transition frame, ties broken by next item id.
      val t = Tables(s, dir)
      val seq = t.orders.select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"))
        .withColumn("prev_orderkey", lag(col("o_orderkey"), 1).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))))
        .filter(col("prev_orderkey").isNotNull)
        .select(col("prev_orderkey"), col("o_orderkey"))
      val basketArr = t.lineitem
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_distinct(collect_list(col("l_partkey"))).as("items"))
      val trans = seq
        .join(basketArr.select(col("l_orderkey").as("prev_orderkey"),
          col("items").as("prev_items")), Seq("prev_orderkey"))
        .join(basketArr.select(col("l_orderkey").as("o_orderkey"),
          col("items").as("next_items")), Seq("o_orderkey"))
        .select(explode(col("prev_items")).as("item"), col("next_items"))
        .select(col("item"), explode(col("next_items")).as("next_item"))
        .groupBy(col("item"), col("next_item"))
        .agg(count(lit(1)).as("n_trans"))
      trans.withColumn("rank", row_number().over(
          Window.partitionBy(col("item"))
            .orderBy(col("n_trans").desc, col("next_item"))))
        .filter(col("rank") <= 3)
    }),
    "reco_item_item" -> ((s, dir) => {
      // item-item collaborative filtering on binary co-purchase — the
      // memory-based neighbor model that serves "customers also
      // bought" without any trained factors. Implementation and scale
      // design (the packed-pair kernel): graft.ml.ItemItem. The
      // memoized lineitem and customer counts (Long.MaxValue on a read
      // error) feed the kernel's pair-volume estimate, which sizes its
      // exchanges.
      val t = Tables(s, dir)
      graft.ml.ItemItem.neighbors(t, K,
        GraftSession.rowCount(t, "lineitem", Long.MaxValue),
        GraftSession.rowCount(t, "customer", Long.MaxValue))
    }))

  val oracles: Map[String, String] = Map(
    "reco_next_item" ->
      """WITH seq AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         lag(o_orderkey) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
        |  FROM orders),
        |sq AS (SELECT * FROM seq WHERE prev_orderkey IS NOT NULL),
        |basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |trans AS (
        |  SELECT p.l_partkey AS item, c.l_partkey AS next_item,
        |         COUNT(*) AS n_trans
        |  FROM sq
        |  JOIN basket p ON p.l_orderkey = sq.prev_orderkey
        |  JOIN basket c ON c.l_orderkey = sq.o_orderkey
        |  GROUP BY 1, 2)
        |SELECT item, next_item, n_trans, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |            ORDER BY n_trans DESC, next_item) AS rank
        |  FROM trans)
        |WHERE rank <= 3""".stripMargin,
    "reco_item_item" ->
      s"""WITH ui AS (
         |  SELECT DISTINCT o_custkey AS u, l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |cap AS (
         |  SELECT u FROM ui GROUP BY u HAVING COUNT(*) <= 1000),
         |c AS (SELECT ui.u, ui.item FROM ui JOIN cap USING (u)),
         |ni AS (SELECT item, COUNT(*) AS n_i FROM c GROUP BY 1),
         |co AS (
         |  SELECT a.item AS item, na.n_i AS n_a,
         |         b.item AS neighbor, nb.n_i AS n_b, COUNT(*) AS n_ab
         |  FROM c a JOIN c b ON a.u = b.u AND a.item <> b.item
         |  JOIN ni na ON a.item = na.item
         |  JOIN ni nb ON b.item = nb.item
         |  GROUP BY 1, 2, 3, 4),
         |sc AS (
         |  SELECT item, neighbor, n_ab,
         |         CAST(n_ab AS DOUBLE) / sqrt(CAST(n_a * n_b AS DOUBLE)) AS cosine,
         |         row_number() OVER (PARTITION BY item
         |                            ORDER BY CAST(n_ab AS DOUBLE)
         |                              / sqrt(CAST(n_a * n_b AS DOUBLE)) DESC,
         |                            neighbor) AS "rank"
         |  FROM co)
         |SELECT item, "rank", neighbor, n_ab, cosine
         |FROM sc WHERE "rank" <= $K""".stripMargin,
    // model dimensions are solver-independent: ALS emits one factor row
    // per distinct user/item in the training pairs, and rank is fixed.
    "reco_model_info" ->
      """SELECT CAST(16 AS INTEGER) AS "rank",
        |       COUNT(DISTINCT o_custkey) AS n_users,
        |       COUNT(DISTINCT l_partkey) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL""".stripMargin,
    "reco_interactions" ->
      """SELECT DISTINCT CAST(o_custkey AS INTEGER) AS "user",
        |       CAST(l_partkey AS INTEGER) AS item
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL""".stripMargin,
    "reco_topk_cosine" ->
      s"""SELECT "user", CAST($K AS BIGINT) AS k_rows, TRUE AS ranks_dense,
         |       TRUE AS scores_valid, TRUE AS items_distinct,
         |       TRUE AS scores_monotone
         |FROM ($sampleUsersSql)""".stripMargin,
    "reco_topk_als" ->
      s"""SELECT "user", CAST($K AS BIGINT) AS k_rows, TRUE AS ranks_dense,
         |       TRUE AS scores_valid, TRUE AS items_distinct,
         |       TRUE AS scores_monotone
         |FROM ($sampleUsersSql)""".stripMargin,
    // ALS trains a factor row for every interacting user, so each
    // sample user is known with exactly K recs; the two cold probes
    // are known=false with zero recs — all deterministic facts.
    "reco_unknown_user" ->
      s"""SELECT "user", TRUE AS known, CAST($K AS BIGINT) AS n_recs
         |FROM ($sampleUsersSql)
         |UNION ALL SELECT -1, FALSE, CAST(0 AS BIGINT)
         |UNION ALL SELECT -2, FALSE, CAST(0 AS BIGINT)""".stripMargin,
    "reco_mmr" ->
      s"""SELECT "user", CAST($K AS BIGINT) AS k_rows, TRUE AS ranks_dense,
         |       TRUE AS scores_valid, TRUE AS items_distinct,
         |       TRUE AS first_is_top_relevance
         |FROM ($sampleUsersSql)""".stripMargin,
    // λ-sweep: the probe user (min sample user) is a deterministic
    // fact; the per-λ booleans are the asserted invariants.
    "reco_mmr_lambda" ->
      s"""SELECT CAST(v.lam AS DOUBLE) AS lam,
         |       (SELECT MIN("user") FROM ($sampleUsersSql)) AS u,
         |       CAST($K AS BIGINT) AS k_rows, TRUE AS ranks_dense,
         |       TRUE AS scores_valid, TRUE AS items_distinct,
         |       TRUE AS first_is_top_relevance,
         |       TRUE AS lambda1_equals_relevance
         |FROM (VALUES (0.0), (0.5), (1.0)) v(lam)""".stripMargin,
    "reco_eval" ->
      """WITH inter AS (
        |  SELECT DISTINCT CAST(o_custkey AS INTEGER) AS u,
        |         CAST(l_partkey AS INTEGER) AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
        |f AS (
        |  SELECT u, i,
        |         (instr('0123456789abcdef',
        |            substr(md5(CAST(u AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1))
        |          - 1) % 5 AS fold
        |  FROM inter)
        |SELECT CAST(LEAST(1000, (
        |         SELECT COUNT(*) FROM (
        |           SELECT DISTINCT u FROM f WHERE fold = 0
        |           INTERSECT
        |           SELECT DISTINCT u FROM f WHERE fold <> 0) t)) AS BIGINT)
        |         AS num_evaluated_users,
        |       TRUE AS precision_in_range, TRUE AS recall_in_range,
        |       TRUE AS f1_consistent""".stripMargin,
    "reco_coverage" ->
      """SELECT COUNT(DISTINCT l_partkey) AS items_total,
        |       TRUE AS recommended_in_range, TRUE AS coverage_in_range,
        |       TRUE AS coverage_consistent
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL""".stripMargin,
    "reco_item_pca" ->
      """SELECT DISTINCT CAST(l_partkey AS INTEGER) AS item, TRUE AS coords_finite
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL""".stripMargin)
}
