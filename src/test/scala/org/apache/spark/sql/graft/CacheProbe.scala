package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the shared CacheManager's entry count, which Spark
  * keeps package-private. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
