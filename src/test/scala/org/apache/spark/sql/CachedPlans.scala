package org.apache.spark.sql

/** Test view of the session's CacheManager: how many plans are cached
  * (`numCachedEntries` is package-private to Spark SQL). */
object CachedPlans {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
