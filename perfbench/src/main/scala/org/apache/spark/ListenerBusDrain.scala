package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its listener's counters or detaches the listener, so that every
  * event of a finished span has been delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
