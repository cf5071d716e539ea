package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * for it so each query's events are counted before the next starts. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
