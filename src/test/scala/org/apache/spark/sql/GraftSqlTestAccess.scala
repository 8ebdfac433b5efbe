package org.apache.spark.sql

/** Spark SQL internals for specs: how many query plans the session's cache
  * manager holds as cached. */
object GraftSqlTestAccess {
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
