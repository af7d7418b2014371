package org.apache.spark

/** Access to SparkContext internals that are `private[spark]`. */
object GraftSparkBridge {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
