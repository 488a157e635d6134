package org.apache.spark.sql

/** Test access to the context-wide CacheManager: the number of plans
  * cached for every session of `s`'s SparkContext. */
object CachedPlans {
  def apply(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
