package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.ml.Recommender

/** Generated code depends on a plan's shape, never on request values, and
  * a compiled shape stays cached: a repeated request compiles no class.
  * Compiles are counted by Spark's JVM-wide codegen compilation histogram. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val model = RecommenderSpec.model(spark)

  /** Classes Janino compiled while `f` ran. */
  private def compilesOf(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  // sizes 1 and 16 sit on either side of the optimizer's In → InSet
  // conversion (10 values), so both literal forms of an id list are covered
  for (n <- Seq(1, 16)) test(s"cosineTopK for $n other users compiles nothing") {
    val first = (0 until n).toDF("user")
    val other = (30 until 30 + n).toDF("user")
    Recommender.cosineTopK(model, first, 5).collect()
    assert(compilesOf(Recommender.cosineTopK(model, other, 5).collect()) == 0)
  }

  test("diversify for other users compiles nothing") {
    Recommender.diversify(model, Seq(0, 7).toDF("user"), 5, 0.5).collect()
    assert(compilesOf(
      Recommender.diversify(model, Seq(12, 33, 41).toDF("user"), 5, 0.5).collect()) == 0)
  }

  test("indexing a second model compiles nothing") {
    Recommender.cosineTopK(model, Seq(0).toDF("user"), 5).collect()
    val other = RecommenderSpec.model(spark, seed = 11)
    assert(compilesOf(Recommender.cosineTopK(other, Seq(0).toDF("user"), 5).collect()) == 0)
  }

  test("more shapes than the default cache holds compile once") {
    // each query's literal is written into its generated code: 150 shapes
    val queries = (1 to 150).map(i => () => spark.range(4).select((col("id") + i).as("x")).collect())
    val cold = compilesOf(queries.foreach(_()))
    assert(cold > 100, s"only $cold classes compiled: the shapes do not exceed the default cache")
    assert(compilesOf(queries.foreach(_())) == 0)
  }
}
