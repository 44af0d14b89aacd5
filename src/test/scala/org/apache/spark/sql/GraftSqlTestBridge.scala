package org.apache.spark.sql

/** Test access to `private[sql]` state of a session. */
object GraftSqlTestBridge {

  /** Datasets in the session's shared CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
