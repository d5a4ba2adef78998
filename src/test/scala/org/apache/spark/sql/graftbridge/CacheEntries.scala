package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Access to the `private[sql]` entry count of the session's cache
  * manager: the frames currently registered by `persist()`/`cache()`. */
object CacheEntries {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
