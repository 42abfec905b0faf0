package org.apache.spark

/** The listener bus is `private[spark]`; the trace waits on it between
  * operations so counters are read only after every event is delivered. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
