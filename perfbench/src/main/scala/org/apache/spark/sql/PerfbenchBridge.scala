package org.apache.spark.sql

/** The two Spark internals the benchmark reads, behind one door: waiting
  * for the listener bus to drain (so a query's counters are complete before
  * they are read) and the number of CacheManager entries.
  */
object PerfbenchBridge {
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
