package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs one call
  * on it: wait until every posted event has reached the listeners, so
  * a pass's counters are complete before they are read. */
object DwbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
