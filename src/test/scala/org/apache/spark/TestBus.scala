package org.apache.spark

/** Spark's package-private calls that the specs need. */
object TestBus {

  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether `f` lies under a directory registered for deletion at JVM
    * exit. */
  def deletedAtExit(f: java.io.File): Boolean =
    util.ShutdownHookManager.hasRootAsShutdownDeleteDir(f)
}
