package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import graft.core.Tables

/** Collaborative-filtering recommender (SURVEY.md §2.8 M1–M10).
  *
  * The reference trains a hand-rolled SGD matrix factorization over
  * implicit (customer, product) pairs (mf_knn_recommender.py:98-173);
  * we use MLlib ALS with implicitPrefs — same regularized implicit-MF
  * objective family, distributed solver (SURVEY.md §7.3). Ranking
  * semantics (cosine scoring over L2-normalized factors,
  * mf_knn_recommender.py:256-269) and the MMR diversifier / evaluator
  * are reproduced exactly.
  *
  * Scale shape: ALS's block-partitioned factor updates are the
  * standard 100 TB-capable implicit-MF solver; cosine top-k broadcasts
  * the (small) query-user factor block against the item factors —
  * item factors are rank×nItems, orders of magnitude smaller than the
  * interaction data, so the scan parallelizes trivially. Nothing here
  * collects interaction-scale data to the driver.
  */
object Recommender {

  val Rank = 16

  /** M1: implicit interaction pairs — distinct (customer, part) from
    * the order↔lineitem join (the fact table's recommender projection,
    * mf_knn_recommender.py:54-58: clean → project → dedup). */
  def interactions(t: Tables): DataFrame =
    t.orders
      .join(t.lineitem, t.orders("o_orderkey") === t.lineitem("l_orderkey"))
      .select(col("o_custkey").cast("int").as("user"),
        col("l_partkey").cast("int").as("item"))
      .na.drop()
      .distinct()

  // one trained model per sf dir per JVM — the reco_* queries share it.
  private val cache = TrieMap[String, ALSModel]()

  // ALS rejects an empty ratings frame outright, and an empty slice is
  // a routine production input (a tenant with no orders yet, a fully
  // filtered backfill window) — the model-backed operators answer it
  // with an empty result instead of a solver crash. Only the TRUE
  // (non-empty) verdict is memoized — mirroring the model cache, which
  // only ever caches a successful fit: a dir probed while empty must
  // not keep answering "empty" after data lands in it.
  private val nonEmptyCache = TrieMap[String, Boolean]()
  def hasInteractions(spark: SparkSession, dir: String): Boolean =
    nonEmptyCache.get(dir).getOrElse {
      val nonEmpty = !interactions(Tables(spark, dir)).isEmpty
      if (nonEmpty) nonEmptyCache.put(dir, true)
      nonEmpty
    }

  /** Empty frame with the given DDL schema — the shape of a
    * model-backed result when there is no data to train on. */
  def emptyOf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** M2: ALS implicit-MF, seeded (mf_knn_recommender.py:23 defaults →
    * rank/reg; ALS maxIter replaces SGD epochs). */
  def train(spark: SparkSession, dir: String): ALSModel =
    cache.getOrElseUpdate(dir, {
      val inter = interactions(Tables(spark, dir)).withColumn("rating", lit(1.0f))
      als(blocksFor(spark, dir)).fit(inter)
    })

  /** ALS factor-block count sized to the RATING volume, proxied by the
    * memoized parquet-metadata lineitem count (ratings ≈ distinct
    * fact pairs; the proxy is metadata-cheap and scale-proportional).
    * Measured: at ~500k ratings 2-4 blocks ≈ 12 s vs 10 blocks 14 s —
    * per-iteration shuffle overhead beats extra parallelism when
    * blocks are small; but the solver's parallelism is user-blocks ×
    * item-blocks TASKS, so a fixed 4 caps a 60M-rating fit (the 100×
    * rehearsal) at 16 tasks on 32 cores — ALS trained 35 min there.
    * ~1.5M fact rows per block is the measured crossover grain; the
    * upper clamp is the core count here, executor count on a real
    * cluster. A failed probe (-1) sizes to the floor: small fits
    * tolerate few blocks. */
  private def blocksFor(spark: SparkSession, dir: String): Int = {
    val n = graft.core.GraftSession.rowCount(Tables(spark, dir), "lineitem", -1L)
    math.min(32L, math.max(4L, n / 1500000L)).toInt
  }

  /** ALS configured for the harness scale: block count from
    * `blocksFor` (data-sized) and 5 iterations
    * (implicit ALS converges in a handful of sweeps; the reference's
    * 200-500 SGD epochs are a solver artifact). */
  private def als(blocks: Int) = new ALS()
    .setImplicitPrefs(true)
    .setRank(Rank)
    .setRegParam(0.01)
    .setMaxIter(5)
    .setSeed(42)
    .setNumBlocks(blocks)
    .setUserCol("user").setItemCol("item").setRatingCol("rating")
    .setColdStartStrategy("drop")

  /** L2-normalize a factor (zero vectors pass through unscaled —
    * mf_knn_recommender.py:489-499). The squared norm is a left fold
    * from 0.0 in index order, the accumulation order of `vec_dot`, so
    * scores match any SQL formulation over the same factors bit for bit. */
  private def unit(f: Array[Float]): Array[Double] = {
    val d = f.map(_.toDouble)
    var ss = 0.0; var i = 0
    while (i < d.length) { ss += d(i) * d(i); i += 1 }
    val n = math.sqrt(ss)
    if (n > 0) d.map(_ / n) else d
  }

  /** Query-user block ceiling for cosineTopK: above this, the
    * broadcast block stops being "small" and the MLlib blocked path
    * (`recommendForAllUsers`) is the right tool. Guarded explicitly so
    * the serve-path collect can never silently become a driver OOM. */
  val MaxQueryUsers = 100000

  // ranking order of the final selection: score desc under Spark SQL's
  // double comparison (-0.0 = 0.0, NaN largest), then item asc
  private def better(a: (Int, Double), b: (Int, Double)): Boolean = {
    val c = if (a._2 == b._2) 0 else java.lang.Double.compare(a._2, b._2)
    c > 0 || (c == 0 && a._1 < b._1)
  }

  /** The (id, factor) rows of `factors` (`userFactors` or `itemFactors`)
    * whose id is in `ids`, in one job. The ids reach the tasks as data —
    * a sorted array in the filter's closure, searched by binary search.
    * An `isin` filter would write them into the generated code as
    * `In`/`InSet` literals, so each request would compile new classes
    * that no cache can reuse; here the generated code depends only on
    * the plan shape and compiles once per JVM. */
  private def factorsOf(factors: DataFrame, ids: Array[Int]): Array[(Int, Array[Float])] = {
    val spark = factors.sparkSession
    import spark.implicits._
    val sorted = ids.sorted
    factors.as[(Int, Array[Float])].rdd
      .filter { case (id, _) => java.util.Arrays.binarySearch(sorted, id) >= 0 }
      .collect()
  }

  /** The k best items of every distinct known query user, best first,
    * users in ascending id order. Two jobs: one `factorsOf` lookup of
    * the query users' factors (the query ids themselves are collected
    * first, which is free for a local frame), then one scan
    * of the item factors in which each partition keeps a bounded
    * per-user heap (the ranking analog of a map-side combine) and the
    * partition heaps merge by `treeReduce`. Only users×k×partitions
    * candidates ever leave the executors; the full users×items score
    * matrix is never shuffled or sorted. */
  private def topKPools(model: ALSModel, users: DataFrame, k: Int)
      : Array[(Int, Array[(Int, Double)])] = {
    val spark = model.userFactors.sparkSession
    import spark.implicits._
    // distinct ids: a repeated query user is one ranking, not two
    val ids = users.select(col("user").cast("int")).collect()
      .collect { case r if !r.isNullAt(0) => r.getInt(0) }.distinct
    require(ids.length <= MaxQueryUsers,
      s"cosineTopK serves bounded query sets (got ${ids.length} users, " +
        s"max $MaxQueryUsers); use ALSModel.recommendForAllUsers for full-catalog batch")
    if (ids.isEmpty || k <= 0) return Array.empty
    val uvecs: Array[(Int, Array[Double])] = factorsOf(model.userFactors, ids)
      .map { case (u, f) => (u, unit(f)) }.sortBy(_._1)
    if (uvecs.isEmpty) return Array.empty
    val bc = spark.sparkContext.broadcast(uvecs)
    val top = model.itemFactors.as[(Int, Array[Float])].rdd
      .mapPartitions { it =>
        val us = bc.value
        val nU = us.length
        val rank = us(0)._2.length
        // the user block as ONE flat primitive matrix: the inner loop
        // below runs O(queryUsers × items) times per partition — at
        // the 100× rehearsal that was 3×10¹⁰ iterations, and indexing
        // a Map[user → heap] PER ITERATION (the original shape) spent
        // more time hashing than multiplying (measured 22 min of pure
        // serving at sf10). Heaps index by position; the flat matrix
        // keeps the dot-product walk sequential in memory. Summation
        // order per dot product is unchanged, so scores — and the
        // oracle hash — are bit-identical.
        val uflat = new Array[Double](nU * rank)
        var i = 0
        while (i < nU) {
          System.arraycopy(us(i)._2, 0, uflat, i * rank, rank); i += 1
        }
        // per-user bounded heap whose head is the worst kept candidate
        val worstFirst = Ordering.fromLessThan[(Int, Double)](better)
        val heaps = Array.fill(nU)(
          new scala.collection.mutable.PriorityQueue[(Int, Double)]()(worstFirst))
        it.foreach { case (item, f) =>
          val nf = unit(f)
          var ui = 0
          var off = 0
          while (ui < nU) {
            var s = 0.0; var d = 0
            while (d < rank) { s += uflat(off + d) * nf(d); d += 1 }
            val h = heaps(ui)
            if (h.size < k) h.enqueue((item, s))
            else {
              val (wItem, wScore) = h.head
              if (s > wScore || (s == wScore && item < wItem)) {
                h.dequeue(); h.enqueue((item, s))
              }
            }
            ui += 1
            off += rank
          }
        }
        Iterator(heaps.map(_.toArray.sortWith(better)))
      }
      .treeReduce((a, b) => a.zip(b).map { case (x, y) => (x ++ y).sortWith(better).take(k) })
    bc.destroy()
    uvecs.map(_._1).zip(top)
  }

  /** M3/M4: cosine top-k for a set of users, as a local
    * (user, item, score, rank) frame — the ranking is already complete
    * on the driver when this returns (see `topKPools` for the two jobs
    * it runs). Unknown and null query users get no rows; a repeated
    * user is ranked once. Driver memory: the query block's factors
    * plus users × k result rows, under the `MaxQueryUsers` guard. */
  def cosineTopK(model: ALSModel, users: DataFrame, k: Int): DataFrame = {
    val spark = model.userFactors.sparkSession
    import spark.implicits._
    topKPools(model, users, k).toSeq.flatMap { case (u, top) =>
      top.toSeq.zipWithIndex.map { case ((item, s), i) => (u, item, s, i + 1) }
    }.toDF("user", "item", "score", "rank")
  }

  /** M6: Maximal-Marginal-Relevance diversification, exactly the
    * reference's greedy loop (mf_knn_recommender.py:477-547): pool =
    * top 3k by cosine relevance, first pick = argmax relevance, then
    * argmax of λ·rel − (1−λ)·maxSimToSelected; ties break on first
    * occurrence in relevance order (np.argmax semantics). Pure
    * driver-side function of one user's pool. */
  def mmrSelect(cands: Seq[(Int, Double, Array[Double])], k: Int, lambda: Double)
      : Seq[(Int, Double)] = {
    if (cands.isEmpty || k <= 0) return Nil
    val rel = cands.map(_._2).toArray
    val vecs = cands.map(_._3).toArray
    def sim(i: Int, j: Int): Double = {
      var s = 0.0; var d = 0
      while (d < vecs(i).length) { s += vecs(i)(d) * vecs(j)(d); d += 1 }
      s
    }
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    val remaining = scala.collection.mutable.ArrayBuffer.range(0, cands.length)
    // first: argmax relevance (candidates arrive relevance-sorted, but
    // recompute to be order-independent)
    val first = remaining.indices.maxBy(i => (rel(remaining(i)), -remaining(i)))
    selected += remaining.remove(first)
    while (selected.length < k && remaining.nonEmpty) {
      val scores = remaining.map { c =>
        lambda * rel(c) - (1 - lambda) * selected.map(s => sim(c, s)).max
      }
      // np.argmax: first index of the max
      val best = scores.indices.maxBy(i => (scores(i), -i))
      selected += remaining.remove(best)
    }
    selected.map(i => (cands(i)._1, rel(i))).toSeq
  }

  /** MMR over a user set: the merged top-3k cosine pool per user (one
    * `topKPools` pass), the normalized vectors of the pools' distinct
    * items in one `factorsOf` lookup (ids as data, so no per-request
    * code), then `mmrSelect` per user on the driver — three jobs for a
    * local user frame. Driver memory: users
    * × 3k pool entries plus one vector per distinct pool item, under
    * the `MaxQueryUsers` guard. */
  def diversify(model: ALSModel, users: DataFrame, k: Int = 5,
                lambda: Double = 0.5): DataFrame = {
    val spark = users.sparkSession
    import spark.implicits._
    val pools = topKPools(model, users, k * 3)
    val poolItems = pools.flatMap(_._2.map(_._1)).distinct
    val vecs: Map[Int, Array[Double]] =
      if (poolItems.isEmpty) Map.empty
      else factorsOf(model.itemFactors, poolItems).map { case (i, f) => i -> unit(f) }.toMap
    pools.toSeq.flatMap { case (user, pool) =>
      val cands = pool.toSeq.map { case (item, s) => (item, s, vecs(item)) }
      mmrSelect(cands, k, lambda).zipWithIndex.map {
        case ((item, rel), i) => (user, item, rel, i + 1)
      }
    }.toDF("user", "item", "score", "rank")
  }

  /** M7: ranking evaluation with the reference's exact (nonstandard)
    * semantics (mf_knn_recommender.py:365-448): precision divides by
    * fixed k; recall by |actual|; users with empty recs or actual are
    * skipped; F1 computed from the *averaged* P and R. Split is a
    * deterministic 80/20 hash holdout. */
  // the 80%-holdout model is deterministic per dir (seeded ALS on a
  // hash split) — cache it like the full model so repeated evaluation
  // calls don't re-train.
  private val evalCache = TrieMap[String, ALSModel]()

  def evaluate(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    if (!hasInteractions(spark, dir))
      return emptyOf(spark,
        "precision double, recall double, f1_score double, num_evaluated_users bigint")
    // engine-independent 80/20 holdout: fold = first md5 hex digit of
    // "user:item" mod 5 (NOT Spark's murmur hash — md5 is computable
    // bit-for-bit by any engine, so the holdout population and hence
    // num_evaluated_users are oracle-verifiable facts, not
    // implementation accidents).
    val inter = interactions(Tables(spark, dir))
      .withColumn("_h",
        md5(concat(col("user").cast("string"), lit(":"), col("item").cast("string"))))
      .withColumn("_fold",
        (expr("instr('0123456789abcdef', substr(_h, 1, 1))") - lit(1)) % 5)
    val fold = col("_fold")
    val train = inter.filter(fold =!= 0).select("user", "item")
    val test = inter.filter(fold === 0).select("user", "item")
    // a tiny-but-nonempty interaction set can still leave the 80%
    // training fold empty (every row hashed into fold 0) — no model
    // is fittable, so no users are evaluable
    if (!evalCache.contains(dir) && train.isEmpty)
      return emptyOf(spark,
        "precision double, recall double, f1_score double, num_evaluated_users bigint")
    val model = evalCache.getOrElseUpdate(dir,
      als(blocksFor(spark, dir)).fit(train.withColumn("rating", lit(1.0f))))
    // common users, deterministically capped at 1000 (reference samples)
    val evalUsers = test.select("user").distinct()
      .join(train.select("user").distinct(), "user", "left_semi")
      .orderBy("user").limit(1000)
    val recs = cosineTopK(model, evalUsers, k)
      .groupBy("user").agg(collect_set(col("item")).as("recs"))
    val actual = test.join(evalUsers, "user")
      .groupBy("user").agg(collect_set(col("item")).as("actual"))
    val perUser = recs.join(actual, "user")
      .filter(size(col("recs")) > 0 && size(col("actual")) > 0)
      .select(
        (size(array_intersect(col("recs"), col("actual"))).cast("double") / k)
          .as("precision"),
        (size(array_intersect(col("recs"), col("actual"))).cast("double") /
          size(col("actual"))).as("recall"))
    perUser.agg(
        avg(col("precision")).as("precision"),
        avg(col("recall")).as("recall"),
        count(lit(1)).as("num_evaluated_users"))
      .withColumn("f1_score",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .select("precision", "recall", "f1_score", "num_evaluated_users")
  }

  /** M8: catalog coverage — |distinct recommended over a sample| /
    * |all trained items| (mf_knn_recommender.py:450-475; deterministic
    * first-100-users sample replaces the seeded shuffle). */
  def coverage(spark: SparkSession, dir: String, k: Int = 5,
               sampleSize: Int = 100): DataFrame = {
    if (!hasInteractions(spark, dir))
      return emptyOf(spark,
        "items_recommended bigint, items_total bigint, coverage double")
    val model = train(spark, dir)
    val users = model.userFactors.select(col("id").as("user"))
      .orderBy("user").limit(sampleSize)
    val recommended = cosineTopK(model, users, k)
      .select("item").distinct().count()
    val total = model.itemFactors.count()
    import spark.implicits._
    Seq((recommended, total, recommended.toDouble / total))
      .toDF("items_recommended", "items_total", "coverage")
  }

  /** M9: PCA(2) projection of the item factors (the reference's
    * embedding plot, minus matplotlib — we emit the coordinates). */
  def itemPca(model: ALSModel): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val feats = model.itemFactors
      .select(col("id").as("item"), array_to_vector(col("features")).as("fv"))
    val pca = new PCA().setInputCol("fv").setOutputCol("pc").setK(2).fit(feats)
    pca.transform(feats)
      .withColumn("pc_arr", vector_to_array(col("pc")))
      .select(col("item"),
        col("pc_arr").getItem(0).as("x"),
        col("pc_arr").getItem(1).as("y"))
  }

  /** M10: model persistence round-trip + get_model_info equivalent. */
  def modelInfo(spark: SparkSession, dir: String): DataFrame = {
    if (!hasInteractions(spark, dir))
      return emptyOf(spark, "rank int, n_users bigint, n_items bigint")
    val model = train(spark, dir)
    // app+dir-scoped scratch (NOT a fixed path): two concurrent
    // sessions saving/loading at one fixed location clobber each
    // other's model dirs mid-round-trip — the etl_pipeline hazard,
    // pinned here by ConcurrencySpec's dual-session modelInfo case
    val path = graft.core.GraftSession.scratchDir(spark, "als_model", dir)
    model.write.overwrite().save(path)
    val loaded = ALSModel.load(path)
    import spark.implicits._
    Seq((loaded.rank, loaded.userFactors.count(), loaded.itemFactors.count()))
      .toDF("rank", "n_users", "n_items")
  }
}
