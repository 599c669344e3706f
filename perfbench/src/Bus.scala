package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's own listener has seen the last task of a window before its
  * counters are read (the bus is asynchronous; the hook is spark-private). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
