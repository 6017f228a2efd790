package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic key-modulus subsample of a harness data dir, built so
  * the ~17 queries whose DuckDB oracle is intractable at sf1 (shingle
  * md5/minhash re-derivation, recursive-CTE union-find, five-stage
  * pipeline replay, correlated as-of) can still be oracle-compared at
  * a BIGGER-than-sf0.1 scale: both the engine and the oracle run on
  * the same sampled corpus, so the comparison stays exact while the
  * oracle's quadratic terms shrink by rate².
  *
  *   runMain graft.tools.GenSample <srcDir> <outDir> [rate]
  *
  * rate = keep keys where key % rate == 0 (default 4: a 1/4 sample of
  * sf1 is 12.5k documents — 2.5× the sf0.1 corpus these entries were
  * previously compared at). The filter is PLAIN MODULAR ARITHMETIC on
  * the table key, not a hash: Spark's hash() and DuckDB's hash()
  * disagree, and the sample must be reproducible in both engines from
  * the predicate alone.
  *
  * Sampled tables: documents (doc_id), embeddings (vec_id — kept
  * aligned with the document sample by construction since vec_id is a
  * doc_id subset), events (event_id; the correlated-as-of oracle is
  * quadratic in events×history). All other tables copy verbatim so
  * joins against dims/facts keep full fan-out.
  */
object GenSample {
  /** Default sampled tables; a 4th arg of `table=key,...` pairs
    * overrides (e.g. `customer=c_custkey` for the name-blocking
    * entries whose oracle cost lives in the customer table). */
  val defaultKeys: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_sample")
    val rate = args.lift(2).map(_.toInt).getOrElse(4)
    val keys = args.lift(3).map(_.split(",").map { kv =>
      val Array(t, k) = kv.split("="); t -> k
    }.toMap).getOrElse(defaultKeys)
    val spark = graft.core.GraftSession.local("graft-gensample")
    run(spark, src, out, rate, keys)
    spark.stop()
  }

  def run(spark: org.apache.spark.sql.SparkSession, src: String,
          out: String, rate: Int,
          sampledKeys: Map[String, String] = defaultKeys): Unit = {
    for (t <- graft.core.Tables.names) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val df = sampledKeys.get(t)
        .map(k => base.filter(col(k) % rate === 0))
        .getOrElse(base)
      GenScale.writeSingleFile(spark, out, df, t)
      println(s"[gensample] $t done")
    }
  }
}
