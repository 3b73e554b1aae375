package org.apache.spark

/** Listener events arrive asynchronously; metrics read after an action must
  * first wait for the bus to deliver everything posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
