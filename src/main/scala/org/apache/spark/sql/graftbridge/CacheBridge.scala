package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The `private[sql]` CacheManager entry count: what a query, whose
  * caches `graft.core.Persisted` releases, leaves unchanged. */
object CacheBridge {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
