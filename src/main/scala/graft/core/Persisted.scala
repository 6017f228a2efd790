package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every persisted frame in the engine. A query or
  * operator that reads a frame more than once keeps it in a scope:
  * {{{
  *   Persisted.scoped { p =>
  *     val sigs = p.keep(signatures(docs))
  *     candidates(sigs).join(sigs, "doc_id")
  *   }
  * }}}
  * When the body returns, its result is checkpointed while the kept
  * frames are still cached, and then every kept frame is released, also
  * when the body throws. So a query leaves the session's CacheManager as
  * it found it: a long-lived session does not grow per query, and no
  * cached frame is left to stand in for a later query's subtree. */
final class Persisted private () {
  private var kept = List.empty[DataFrame]

  /** Persist `df` until the scope ends and return it. A frame whose plan
    * is already cached belongs to whoever cached it (a caller passing a
    * cached input, an outer scope): it is used, not released here. */
  def keep(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      kept ::= df
    }
    df
  }

  /** Release a kept frame before the scope ends (a rolling cache's
    * previous generation). A frame the scope does not own is left alone. */
  def drop(df: DataFrame): Unit =
    if (kept.exists(_ eq df)) {
      kept = kept.filterNot(_ eq df)
      df.unpersist()
    }
}

object Persisted {
  def scoped(body: Persisted => DataFrame): DataFrame = {
    val p = new Persisted
    try truncated(body(p)) finally p.kept.foreach(_.unpersist())
  }

  /** `df` as is when every leaf of its plan already holds materialized
    * rows (local rows, or a checkpointed RDD), since it then reads no
    * kept frame; otherwise `df` eagerly checkpointed. */
  private def truncated(df: DataFrame): DataFrame = {
    val materialized = df.queryExecution.analyzed.collectLeaves().forall {
      case _: LocalRelation => true
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }
    if (materialized) df else df.localCheckpoint(true)
  }
}
