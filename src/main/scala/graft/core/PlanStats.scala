package graft.core

import org.apache.spark.sql.DataFrame

/** Driver-metadata answer to "would this frame's scan under-parallelize
  * a CPU-heavy per-row projection?" — the gate behind `spread`, which
  * the text-dedup, corpus and vector operators run before their
  * signature, normalize and cosine projections.
  *
  * Primary signal: the optimizer's size estimate (never an execution —
  * `.rdd.getNumPartitions` under AQE materializes every upstream query
  * stage just to report a count; the r17 lesson). BUT the estimate has
  * a failure mode the r17 gate ignored: plans whose leaves carry no
  * statistics (a LogicalRDD behind a localCheckpoint, a LocalRelation
  * fixture) report `spark.sql.defaultSizeInBytes` — Long.MaxValue, the
  * "unknown" SENTINEL, not a measurement — and reading it as "big"
  * silently skips the repartition and single-cores the signature build
  * for exactly the frames spread() exists to protect. At or above the
  * sentinel we therefore fall back to a structural probe: the concrete
  * partition count of the RDD/local leaves, which is driver metadata
  * too (these RDDs already exist; nothing plans or executes). Leaves we
  * can't size structurally keep the old skip — wrong only in the
  * direction of "no extra exchange". */
object PlanStats {
  /** True when `df` is small/narrow enough that a pre-projection
    * `repartition(defaultParallelism)` buys parallelism worth one
    * KB-to-MB exchange. */
  def needsSpread(df: DataFrame): Boolean = {
    val sess = df.sparkSession
    val parts = sess.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    val splitBytes = sess.sessionState.conf.filesMaxPartitionBytes
    val sentinel = BigInt(sess.sessionState.conf.defaultSizeInBytes)
    val (decision, via) =
      if (est < sentinel) (est < BigInt(splitBytes) * parts, "estimate")
      else {
        val leafParts = plan.collectLeaves().map {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.getNumPartitions
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => 1
          case _ => Int.MaxValue // unsizable leaf: keep the old skip
        }
        (leafParts.nonEmpty && leafParts.max < parts, "leaf-partitions")
      }
    // one line per decision, so scale rehearsals can confirm post-join
    // frames take the intended branch (optimizer estimates can be badly
    // wrong after joins/filters — a silent mis-estimate here
    // single-tasks a signature build)
    graft.log.debug(s"[spread] via=$via est=$est " +
      s"threshold=${BigInt(splitBytes) * parts} parts=$parts " +
      s"-> ${if (decision) "repartition" else "keep"}")
    decision
  }

  /** Spread a small-file frame across the cluster before a CPU-heavy
    * per-row projection: a compact parquet source (one ~MB file → one
    * input split) would otherwise run the whole projection on a single
    * core. Below the `needsSpread` threshold the repartition is a
    * KB-to-MB exchange hashed on `keyCol`, its partition count pinned
    * because AQE would otherwise re-coalesce it, blind to the compute
    * downstream. Above it the source's own splits already parallelize
    * and the frame passes through with no exchange. */
  def spread(df: DataFrame, keyCol: String): DataFrame =
    if (needsSpread(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        org.apache.spark.sql.functions.col(keyCol))
    else df
}
