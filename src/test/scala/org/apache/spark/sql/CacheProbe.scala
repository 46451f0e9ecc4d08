package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test access to the session's cache registry (`CacheManager`), whose
  * entry count is package-private to Spark. */
object CacheProbe {
  private def cacheManager(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** Number of frames the session currently caches. */
  def entries(spark: SparkSession): Int = cacheManager(spark).numCachedEntries

  /** Does the session cache a frame with the same result as `plan`? */
  def holds(spark: SparkSession, plan: LogicalPlan): Boolean =
    cacheManager(spark).lookupCachedData(spark.asInstanceOf[classic.SparkSession], plan).isDefined
}
