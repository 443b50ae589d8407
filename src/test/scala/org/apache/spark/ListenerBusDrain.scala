package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far:
  * query-execution listeners hear of an action asynchronously, so a spec
  * that reads what one recorded drains the bus first. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
