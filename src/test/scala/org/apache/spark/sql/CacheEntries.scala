package org.apache.spark.sql

/** Test bridge to the `private[sql]` count of the session's CacheManager
  * entries: a cache's lifetime can then be checked from its registration,
  * not only once its blocks exist.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
