package org.apache.spark.sql

/** The session CacheManager's entry count, which Spark exposes only
  * inside its own packages — specs read it to show an operator leaves
  * no cached Dataset behind.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
