package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-private escape hatches into Spark SQL. */
object GraftBridge {

  /** Build a DataFrame from a hand-constructed logical plan (`Dataset.ofRows`
    * is `private[sql]`). Needed to hand custom logical nodes
    * (graft.plans.AsOfJoin) to the planner. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A clone of `s` with `settings` applied to the clone's conf only
    * (`cloneSession` is `private[sql]`). Unlike `newSession()`, a clone keeps
    * the caller's temp views, registered functions and
    * QueryExecutionListeners. */
  def cloneWith(s: SparkSession, settings: Map[String, String]): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    settings.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
