package org.apache.spark

/** Waits until the listener bus has delivered every posted event: the
  * timed window starts with set-up's events handled, and the traced
  * counters are complete when it closes. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
