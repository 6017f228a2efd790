package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.ml.Recommender

/** Exactness spec for the driver-side top-k over a model's factor index:
  * against a trained model it must equal the brute-force full-scan
  * ranking, bit for bit (same dot-product accumulation order). Also the
  * life of a dir's memoized model: it follows a dir rewritten in place,
  * is released with its dir, and an empty dir trains once data lands. */
class RecommenderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val model = RecommenderSpec.model(spark)

  test("cosineTopK equals brute-force full ranking") {
    val users = Seq(0, 7, 21).toDF("user")
    val k = 5
    val fast = Recommender.cosineTopK(model, users, k)
      .orderBy("user", "rank")
      .as[(Int, Int, Double, Int)].collect()

    val expected = Seq(0, 7, 21).filter(uf.contains).flatMap { u =>
      bruteTopK(u, k).zipWithIndex
        .map { case ((item, s), i) => (u, item, s, i + 1) }
    }.sortBy(r => (r._1, r._4))

    assert(fast.length == expected.length)
    fast.zip(expected).foreach { case (f, e) => assert(f == e, s"$f != $e") }
  }

  // brute force on collected factors, same normalize + fold order
  private def norm(v: Array[Double]) = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }
  private def unitFactors(f: org.apache.spark.sql.DataFrame) = f.as[(Int, Seq[Float])].collect()
    .map { case (id, v) => id -> norm(v.map(_.toDouble).toArray) }
  private lazy val uf = unitFactors(model.userFactors).toMap
  private lazy val itf = unitFactors(model.itemFactors)

  /** The full ranking of every item for user `u`, cut at `n`. */
  private def bruteTopK(u: Int, n: Int): Seq[(Int, Double)] = bruteTopK(uf, itf, u, n)

  private def bruteTopK(uf: Map[Int, Array[Double]], itf: Array[(Int, Array[Double])],
                        u: Int, n: Int): Seq[(Int, Double)] =
    itf.toSeq.map { case (item, iv) =>
        var s = 0.0; var d = 0
        while (d < iv.length) { s += uf(u)(d) * iv(d); d += 1 }
        (item, s)
      }
      .sortBy { case (item, s) => (-s, item) }
      .take(n)

  private def topK(m: org.apache.spark.ml.recommendation.ALSModel, users: Seq[Int], k: Int) =
    Recommender.cosineTopK(m, users.toDF("user"), k)
      .orderBy("user", "rank").as[(Int, Int, Double, Int)].collect().toSeq

  private def bruteRows(uf: Map[Int, Array[Double]], itf: Array[(Int, Array[Double])],
                        users: Seq[Int], k: Int) =
    users.distinct.sorted.filter(uf.contains).flatMap { u =>
      bruteTopK(uf, itf, u, k).zipWithIndex.map { case ((item, s), i) => (u, item, s, i + 1) }
    }

  test("a query of every trained user is bit-exact against brute force") {
    val all = uf.keys.toSeq.sorted
    assert(all == (0 until 60), "the fixture trains all 60 users")
    assert(topK(model, all, 5) == bruteRows(uf, itf, all, 5))
  }

  test("k at or past the catalog size returns every item once per user") {
    for (k <- Seq(itf.length, itf.length + 10)) {
      val got = topK(model, Seq(0, 7), k)
      assert(got == bruteRows(uf, itf, Seq(0, 7), k), s"k=$k")
      for (u <- Seq(0, 7))
        assert(got.filter(_._1 == u).map(_._2).sorted == itf.map(_._1).toSeq.sorted, s"k=$k user $u")
    }
  }

  test("k = 0 and an all-cold frame return no rows") {
    assert(topK(model, Seq(0, 7), 0).isEmpty)
    assert(topK(model, Seq(-1, -2, 1000), 5).isEmpty)
    assert(Recommender.diversify(model, Seq(0, 7).toDF("user"), 0, 0.5).collect().isEmpty)
    assert(Recommender.diversify(model, Seq(-1).toDF("user"), 5, 0.5).collect().isEmpty)
  }

  test("a second model is ranked against its own factors, not the first's index") {
    val users = Seq(0, 7, 21, 33)
    topK(model, users, 5) // the first model is indexed
    val other = RecommenderSpec.model(spark, seed = 7)
    val ouf = unitFactors(other.userFactors).toMap
    val oitf = unitFactors(other.itemFactors)
    val got = topK(other, users, 5)
    assert(got == bruteRows(ouf, oitf, users, 5))
    // the memo is per model: the two models' rankings differ
    assert(got != topK(model, users, 5))
  }

  test("a repeated query user is ranked once") {
    val k = 5
    val dup = Recommender.cosineTopK(model, Seq(0, 0, 7).toDF("user"), k)
      .orderBy("user", "rank").as[(Int, Int, Double, Int)].collect()
    val once = Recommender.cosineTopK(model, Seq(0, 7).toDF("user"), k)
      .orderBy("user", "rank").as[(Int, Int, Double, Int)].collect()
    assert(dup.length == 2 * k)
    assert(dup.sameElements(once))
  }

  test("diversify equals mmrSelect over the brute-force top-3k pool") {
    val vec = itf.toMap
    // -1 never trained: a cold user gets no rows
    val users = Seq(0, 7, 21, -1)
    assert(!uf.contains(-1))
    // k = 15 asks for a 45-item pool from the 40-item catalog
    assert(itf.length == 40)
    for (k <- Seq(3, 15); lam <- Seq(0.0, 0.5, 1.0)) {
      val got = Recommender.diversify(model, users.toDF("user"), k, lam)
        .orderBy("user", "rank").as[(Int, Int, Double, Int)].collect().toSeq
      val expected = users.filter(uf.contains).flatMap { u =>
        val pool = bruteTopK(u, 3 * k).map { case (item, s) => (item, s, vec(item)) }
        Recommender.mmrSelect(pool, k, lam).zipWithIndex
          .map { case ((item, rel), i) => (u, item, rel, i + 1) }
      }
      assert(got == expected, s"k=$k lambda=$lam")
    }
  }

  test("every requested known user gets exactly k recommendations") {
    val users = model.userFactors.select(col("id").as("user")).limit(20)
    val out = Recommender.cosineTopK(model, users, 3)
    val counts = out.groupBy("user").count().select("count").distinct().as[Long].collect()
    assert(counts.sameElements(Array(3L)))
  }

  private val small = "/root/testdata/sf0.001"
  private val large = "perfbench/data/sf0.01"
  private val inputs = Seq("orders", "lineitem")

  /** A fresh dir holding copies of `src`'s interaction inputs. */
  private def copyOf(src: String): String = {
    val tmp = Files.createTempDirectory("graft_reco").toString
    inputs.foreach(n => Files.copy(Paths.get(s"$src/$n.parquet"), Paths.get(s"$tmp/$n.parquet")))
    tmp
  }
  private def land(src: String, dir: String): Unit = inputs.foreach { n =>
    deleteRecursively(new java.io.File(s"$dir/$n.parquet"))
    Files.copy(Paths.get(s"$src/$n.parquet"), Paths.get(s"$dir/$n.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }
  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
  private def evaluatedUsers(dir: String): Long =
    Recommender.evaluate(spark, dir).select("num_evaluated_users").as[Long].collect().head

  test("a dir rewritten in place trains the model a fresh dir gets, and evaluate follows it") {
    val dir = copyOf(small)
    val fresh = copyOf(large)
    try {
      val before = Recommender.train(spark, dir)
      val usersBefore = before.userFactors.count()
      val evalBefore = evaluatedUsers(dir)
      land(large, dir)
      val after = Recommender.train(spark, dir)
      val usersFresh = Recommender.train(spark, fresh).userFactors.count()
      assert(usersFresh != usersBefore)
      assert(after.userFactors.count() == usersFresh)
      assert(evaluatedUsers(fresh) != evalBefore)
      assert(evaluatedUsers(dir) == evaluatedUsers(fresh))
    } finally Seq(dir, fresh).foreach(d => deleteRecursively(new java.io.File(d)))
  }

  test("a deleted dir's model is released: factor RDDs and memo entries stay per live dir") {
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    val dirs = (0 until 4).map(_ => copyOf(small))
    dirs.zipWithIndex.foreach { case (dir, i) =>
      if (i > 0) deleteRecursively(new java.io.File(dirs(i - 1)))
      Recommender.train(spark, dir)
      assert(sc.getPersistentRDDs.size - base <= 2, s"after dir $i: ${sc.getPersistentRDDs.size - base}")
      val keys = Recommender.models.keys
      assert(keys.count(k => dirs.contains(k._1)) <= 1, s"after dir $i: $keys")
      assert(keys.forall(k => new java.io.File(k._1).exists), s"after dir $i: $keys")
    }
    deleteRecursively(new java.io.File(dirs.last))
  }

  test("an empty dir answers reco_* with an empty result, and trains once data lands") {
    val dir = copyOf(small)
    try {
      deleteRecursively(new java.io.File(s"$dir/orders.parquet"))
      spark.read.parquet(s"$small/orders.parquet").limit(0)
        .write.parquet(s"$dir/orders.parquet")
      val topk = SparkEntry.queries("reco_topk_cosine")
      assert(topk(spark, dir).collect().isEmpty)
      assert(topk(spark, dir).collect().isEmpty)
      land(small, dir)
      assert(topk(spark, dir).collect().nonEmpty)
    } finally deleteRecursively(new java.io.File(dir))
  }
}

object RecommenderSpec {
  /** ALS over deterministic synthetic interactions: 60 users × 40 items. */
  def model(spark: org.apache.spark.sql.SparkSession, seed: Long = 42)
      : org.apache.spark.ml.recommendation.ALSModel = {
    import spark.implicits._
    val pairs = for {
      u <- 0 until 60; i <- 0 until 40
      if (u * 31 + i * 17) % 7 == 0
    } yield (u, i, 1.0f)
    new org.apache.spark.ml.recommendation.ALS()
      .setImplicitPrefs(true).setRank(8).setMaxIter(5).setSeed(seed)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .fit(pairs.toDF("user", "item", "rating"))
  }
}
