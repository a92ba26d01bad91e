package org.apache.spark

/** Waits until every queued listener event has been delivered, so a traced
  * unit's counts are complete before they are read (the listener bus is
  * asynchronous and its drain call is package-private to Spark). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
