package org.apache.spark

/** Waits until every event posted so far has reached the context's
  * listeners — the bus is asynchronous and package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
