package org.apache.spark.sql

/** Test access to the session's `CacheManager` entry count, which Spark
  * keeps package-private. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
