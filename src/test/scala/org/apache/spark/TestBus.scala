package org.apache.spark

/** Blocks until every queued listener event has been delivered (the drain
  * call is package-private to Spark). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
