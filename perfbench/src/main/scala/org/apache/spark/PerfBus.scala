package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
 * trace collector can wait until every posted event has been delivered. */
object PerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
