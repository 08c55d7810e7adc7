package org.apache.spark

/** Test-only bridge into the SparkContext's listener bus (private[spark]):
  * listeners see events asynchronously, so a spec that counts jobs drains
  * the bus before it reads its counts. */
object ListenerBusIntrospect {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
