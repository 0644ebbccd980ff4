package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * `LiveListenerBus` is `private[spark]`; tests that assert on listener
  * side effects (backpressure permits, job counts) need a settled bus
  * rather than a sleep. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
