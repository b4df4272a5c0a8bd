package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The traced run calls it at span boundaries, so each span's job, task
  * and query-execution events are all in hand before the span is cut.
  * Lives in this package because the bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
