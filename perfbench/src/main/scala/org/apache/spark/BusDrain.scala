package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The listener bus is asynchronous, so the traced run drains it
  * before it reads its per-stage counts.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
