package org.apache.spark.sql

/** The number of frames cached in a session's CacheManager (whose count is
  * `private[sql]`), for tests that check a run leaves none behind. */
object CachedFrames {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
