package org.apache.spark

/** Waits until the listener bus has delivered every posted event (the bus
  * is asynchronous and its drain hook is spark-private), so a test
  * listener has seen every job an action launched before it is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
