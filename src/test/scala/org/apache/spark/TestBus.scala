package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listeners have seen every execution before it counts them.
  * Lives in this package because the bus is package-private. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `f`'s result and the number of Spark jobs it started, counted on a
    * drained bus. */
  def jobsDuring[A](sc: SparkContext)(f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new scheduler.SparkListener {
      override def onJobStart(j: scheduler.SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }
}
