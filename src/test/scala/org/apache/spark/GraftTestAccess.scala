package org.apache.spark

/** Spark-internal hooks for specs: block until every queued listener event
  * has been delivered, so status-store reads (active jobs) are current. */
object GraftTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
