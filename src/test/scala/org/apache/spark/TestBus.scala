package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listeners have seen every execution before it counts them.
  * Lives in this package because the bus is package-private. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
