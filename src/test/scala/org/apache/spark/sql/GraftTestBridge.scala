package org.apache.spark.sql

/** Test access to Spark internals that are `private[spark]`. */
object GraftTestBridge {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the CacheManager, which every session of the context shares. */
  def numCachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
