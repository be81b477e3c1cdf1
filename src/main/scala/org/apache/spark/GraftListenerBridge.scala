package org.apache.spark

/** Bridge into `SparkContext.listenerBus` (private[spark]): a listener-based
  * measurement (graft.Profile, the shuffle-metrics specs) must drain queued
  * job and stage events before reading its totals, or a fast query's
  * metrics race the report.
  */
object GraftListenerBridge {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
