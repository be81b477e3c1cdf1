package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so the
  * job and task figures of a finished span are complete before they are
  * read. It sits in this package only because `listenerBus` is private to
  * Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
