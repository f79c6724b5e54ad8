package org.apache.spark

/** Bridge into `private[spark]` scheduler internals: listener events
  * arrive asynchronously, so [[graft.QueryMetrics]] drains the bus before
  * it reads its counters. `SparkContext.listenerBus` is package-private;
  * Spark's own test suites drain it the same way. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
