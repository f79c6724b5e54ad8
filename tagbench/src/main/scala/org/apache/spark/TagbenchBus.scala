package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run reads complete counters. The listener bus is
  * package-private to Spark; this object is the benchmark's only use of
  * Spark internals. */
object TagbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
