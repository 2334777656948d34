package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * record read afterwards holds all events of the work before the call.
  * The listener bus is package-private; this is the one access point. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
