package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-only view of a session's CacheManager, whose entry count is
  * `private[sql]`. */
object CacheProbe {
  private def manager(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  /** Entries in the CacheManager, stale ones (blocks dropped) included. */
  def numCachedEntries(spark: SparkSession): Int =
    manager(spark).numCachedEntries

  /** Whether `df`'s plan has a cache entry whose RDD is still persisted.
    * Call only on a frame that has been materialized: reading an
    * unbuilt entry's buffers builds (and persists) them. */
  def blocksLive(df: DataFrame): Boolean =
    manager(df.sparkSession)
      .lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(cd => df.sparkSession.sparkContext.getPersistentRDDs
        .contains(cd.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id))
}
