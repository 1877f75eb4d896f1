package org.apache.spark.sql

/** What Spark SQL's cache manager holds (its entry count is private to
  * Spark).
  */
object SqlCacheProbe {
  private def cache(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** The number of cached plans in the session. */
  def entries(spark: SparkSession): Int = cache(spark).numCachedEntries

  /** Whether `df`'s plan is one of them. */
  def holds(spark: SparkSession, df: DataFrame): Boolean =
    cache(spark).lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isDefined
}
