package org.apache.spark

/** Test-only bridge to the `private[spark]` listener bus: blocks until
  * every event posted so far has reached every listener, so a test can
  * read listener counters without a wall-clock sleep. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
