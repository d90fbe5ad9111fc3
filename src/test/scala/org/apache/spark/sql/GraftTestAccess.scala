package org.apache.spark.sql

/** Test access to SparkSession internals that Spark keeps `private[sql]`. */
object GraftTestAccess {

  /** Entries in the SparkSession's cache manager (one per persisted plan). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
