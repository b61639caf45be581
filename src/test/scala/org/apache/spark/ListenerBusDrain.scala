package org.apache.spark

/** Blocks until every event posted so far has reached every listener —
  * the wait `LiveListenerBus` keeps package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
