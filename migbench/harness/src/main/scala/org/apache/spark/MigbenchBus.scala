package org.apache.spark

/** The listener bus is asynchronous; per-layer counts are read only after
  * every event posted so far has been delivered. */
object MigbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
