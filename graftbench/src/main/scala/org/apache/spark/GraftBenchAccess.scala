package org.apache.spark

/** The one Spark-internal hook the traced run needs: block until every
  * queued listener event has been delivered, so counter deltas read at a
  * span boundary include the work done inside the span. */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
