package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * counters read right after an action include that action's events. The
  * bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
