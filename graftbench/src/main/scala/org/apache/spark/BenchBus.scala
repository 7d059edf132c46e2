package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after each
  * request so that every listener event of a request is attributed to it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
