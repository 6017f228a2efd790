package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import scala.jdk.CollectionConverters._
import graft.core.{ListingMemo, Persisted, Tables}

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
  * standard 100 TB-capable implicit-MF solver. Serving (top-k, MMR, the
  * cold probe, coverage) ranks on the driver against a per-model factor
  * index (`indexOf`): the factors are (users + items) × rank, orders of
  * magnitude smaller than the interaction data, and are collected once
  * per model, so a request pays arithmetic, not Spark jobs. Nothing here
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

  // one model per (dir, role) and listing of the interactions' inputs
  // (lineitem is `blocksFor`'s probe too): "train" for the reco_*
  // queries, "eval" for `evaluate`'s holdout; None when its pairs are
  // empty. A replaced or dropped model's factor RDDs are unpersisted.
  private[graft] val models = new ListingMemo[(String, String), Option[ALSModel]](
    release = _.foreach(m => Persisted.releaseLeaves(m.userFactors, m.itemFactors)))
  private def fitted(spark: SparkSession, dir: String, role: String, pairs: => DataFrame) =
    models.get(spark, (dir, role), s"$dir/orders.parquet", s"$dir/lineitem.parquet") {
      val p = pairs
      if (p.isEmpty) None else Some(als(blocksFor(spark, dir)).fit(p.withColumn("rating", lit(1.0f))))
    }

  // ALS rejects an empty ratings frame outright, and an empty slice is
  // a routine production input (a tenant with no orders yet, a fully
  // filtered backfill window) — the model-backed operators ask
  // `hasInteractions` and answer it with an empty result instead of a
  // solver crash.
  private def trained(spark: SparkSession, dir: String) =
    fitted(spark, dir, "train", interactions(Tables(spark, dir)))
  def hasInteractions(spark: SparkSession, dir: String): Boolean = trained(spark, dir).isDefined

  /** M2: ALS implicit-MF, seeded (mf_knn_recommender.py:23 defaults →
    * rank/reg; ALS maxIter replaces SGD epochs). */
  def train(spark: SparkSession, dir: String): ALSModel =
    trained(spark, dir).getOrElse(throw new IllegalArgumentException(s"no interactions in $dir"))

  /** Empty frame with the given DDL schema — the shape of a
    * model-backed result when there is no data to train on. */
  def emptyOf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))

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
    * per-request ranking stops being "small" and the MLlib blocked path
    * (`recommendForAllUsers`) is the right tool. Guarded explicitly so a
    * serving request can never silently become a driver OOM. */
  val MaxQueryUsers = 100000

  // ranking order of the final selection: score desc under Spark SQL's
  // double comparison (-0.0 = 0.0, NaN largest), then item asc
  private def better(i: Int, s: Double, j: Int, t: Double): Boolean = {
    val c = if (s == t) 0 else java.lang.Double.compare(s, t)
    c > 0 || (c == 0 && i < j)
  }
  private def better(a: (Int, Double), b: (Int, Double)): Boolean = better(a._1, a._2, b._1, b._2)

  /** One side of a model's factors on the driver: the ids ascending, and
    * a flat row-major matrix whose row p is the `unit`-normalized factor
    * of the id at position p. */
  private final class UnitFactors(val ids: Array[Int], val vecs: Array[Double], val rank: Int) {
    def row(id: Int): Array[Double] = {
      val p = java.util.Arrays.binarySearch(ids, id)
      java.util.Arrays.copyOfRange(vecs, p * rank, (p + 1) * rank)
    }
  }
  private final case class FactorIndex(users: UnitFactors, items: UnitFactors)

  private def unitFactors(factors: DataFrame, rank: Int): UnitFactors = {
    val spark = factors.sparkSession
    import spark.implicits._
    val rows = factors.as[(Int, Array[Float])].collect().sortBy(_._1)
    val m = new Array[Double](rows.length * rank)
    for (i <- rows.indices) System.arraycopy(unit(rows(i)._2), 0, m, i * rank, rank)
    new UnitFactors(rows.map(_._1), m, rank)
  }

  // keyed weakly by model instance, not by dir: `evaluate` and callers
  // fit models of their own, and a dropped model frees its index
  private val indexes = new java.util.WeakHashMap[ALSModel, FactorIndex]()

  /** The model's index: two collects the first time, a lookup after.
    * Driver memory is (users + items) × rank × 8 B; each collect is
    * bounded by the deployment's `spark.driver.maxResultSize`. */
  private def indexOf(model: ALSModel): FactorIndex = indexes.synchronized {
    Option(indexes.get(model)).getOrElse {
      val ix = FactorIndex(unitFactors(model.userFactors, model.rank),
        unitFactors(model.itemFactors, model.rank))
      indexes.put(model, ix)
      ix
    }
  }

  /** The k best items of every distinct known user in `ids`, best first,
    * users ascending: per user one pass over the index's item matrix with
    * a bounded heap whose head is the worst kept candidate. Dot products
    * sum in index order, as `vec_dot` does, so scores are bit-identical
    * to any SQL formulation over the same factors. */
  private def topKPools(model: ALSModel, ids: Array[Int], k: Int)
      : Seq[(Int, Seq[(Int, Double)])] = {
    // distinct ids: a repeated query user is one ranking, not two
    val query = ids.distinct.sorted
    require(query.length <= MaxQueryUsers,
      s"cosineTopK serves bounded query sets (got ${query.length} users, " +
        s"max $MaxQueryUsers); use ALSModel.recommendForAllUsers for full-catalog batch")
    if (query.isEmpty || k <= 0) return Nil
    val FactorIndex(us, is) = indexOf(model)
    val rank = us.rank
    val worstFirst = Ordering.fromLessThan[(Int, Double)](better)
    query.toSeq.flatMap { u =>
      val p = java.util.Arrays.binarySearch(us.ids, u)
      if (p < 0) None
      else {
        val heap = scala.collection.mutable.PriorityQueue[(Int, Double)]()(worstFirst)
        val uo = p * rank
        var j = 0
        while (j < is.ids.length) {
          var s = 0.0; var d = 0
          val io = j * rank
          while (d < rank) { s += us.vecs(uo + d) * is.vecs(io + d); d += 1 }
          val item = is.ids(j)
          if (heap.size < k) heap.enqueue((item, s))
          else if (better(item, s, heap.head._1, heap.head._2)) {
            heap.dequeue(); heap.enqueue((item, s))
          }
          j += 1
        }
        Some(u -> heap.toArray.sortWith(better).toSeq)
      }
    }
  }

  /** The non-null query ids of a (user) frame, collected without a job
    * for a local frame. A frame that is one int `user` column is collected
    * as is: the cast's projection would cost a planning pass per request. */
  private def queryIds(users: DataFrame): Array[Int] = {
    val ids = users.schema.fields.toSeq.map(f => (f.name, f.dataType)) match {
      case Seq(("user", IntegerType)) => users
      case _ => users.select(col("user").cast("int"))
    }
    ids.collect().collect { case r if !r.isNullAt(0) => r.getInt(0) }
  }

  /** A local (user, item, score, rank) frame of rankings, each best
    * first. Rows against a fixed schema: deriving a tuple encoder by
    * reflection would cost more than the ranking. */
  private def rankingFrame(spark: SparkSession, ranked: Seq[(Int, Seq[(Int, Double)])]): DataFrame =
    spark.createDataFrame(ranked.flatMap { case (u, top) =>
      top.zipWithIndex.map { case ((item, s), i) => Row(u, item, s, i + 1) }
    }.asJava, StructType.fromDDL("user int, item int, score double, rank int"))

  /** M3/M4: cosine top-k for a set of users, as a local
    * (user, item, score, rank) frame ranked on the driver (`topKPools`).
    * Unknown and null query users get no rows; a repeated user is ranked
    * once. For a local user frame no Spark job runs once the model's
    * index exists. */
  def cosineTopK(model: ALSModel, users: DataFrame, k: Int): DataFrame =
    rankingFrame(users.sparkSession, topKPools(model, queryIds(users), k))

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

  /** MMR over a user set: the top-3k cosine pool per user (`topKPools`),
    * the pool items' vectors from the model's index, then `mmrSelect` per
    * user, all on the driver: for a local user frame no Spark job runs
    * once the index exists. */
  def diversify(model: ALSModel, users: DataFrame, k: Int = 5,
                lambda: Double = 0.5): DataFrame =
    rankingFrame(users.sparkSession,
      topKPools(model, queryIds(users), k * 3).map { case (user, pool) =>
        val items = indexOf(model).items
        (user, mmrSelect(pool.map { case (item, s) => (item, s, items.row(item)) }, k, lambda))
      })

  /** M7: ranking evaluation with the reference's exact (nonstandard)
    * semantics (mf_knn_recommender.py:365-448): precision divides by
    * fixed k; recall by |actual|; users with empty recs or actual are
    * skipped; F1 computed from the *averaged* P and R. Split is a
    * deterministic 80/20 hash holdout. */
  def evaluate(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
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
    // the 80%-holdout model is memoized like the full model. An empty
    // training fold (no interactions, or every row hashed into fold 0)
    // fits no model, so no users are evaluable
    val model = fitted(spark, dir, "eval", train) match {
      case Some(m) => m
      case None => return emptyOf(spark,
        "precision double, recall double, f1_score double, num_evaluated_users bigint")
    }
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
    * first-100-users sample replaces the seeded shuffle). The sample and
    * the item total come from the model's index. */
  def coverage(spark: SparkSession, dir: String, k: Int = 5,
               sampleSize: Int = 100): DataFrame = {
    if (!hasInteractions(spark, dir))
      return emptyOf(spark,
        "items_recommended bigint, items_total bigint, coverage double")
    val model = train(spark, dir)
    val ix = indexOf(model)
    val recommended = topKPools(model, ix.users.ids.take(sampleSize), k)
      .flatMap(_._2.map(_._1)).distinct.length.toLong
    val total = ix.items.ids.length.toLong
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
