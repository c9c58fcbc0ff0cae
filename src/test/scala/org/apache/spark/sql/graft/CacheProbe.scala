package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-only view of the session's cache manager, whose entry count is
  * `private[sql]`: specs that check a command unpersists what it cached
  * compare it before and after the call.
  */
object CacheProbe {
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
