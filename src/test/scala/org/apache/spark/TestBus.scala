package org.apache.spark

/** The listener bus is private to Spark; specs that count listener events
  * drain it before reading their counters. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
