package org.apache.spark.sql

import org.apache.spark.SparkEnv

/** Test bridge to the `private[sql]` count of the session's CacheManager
  * entries: a cache's lifetime can then be checked from its registration,
  * not only once its blocks exist. `rddBlocks` asks every block manager
  * for the cached RDD blocks it still holds, so a release can be checked
  * to have finished, not only to have been requested.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  def rddBlocks(spark: SparkSession): Int =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).size
}
