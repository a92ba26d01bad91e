package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Package-private escape hatches into Spark SQL. */
object GraftBridge {

  /** Build a DataFrame from a hand-constructed logical plan (`Dataset.ofRows`
    * is `private[sql]`). Needed to hand custom logical nodes
    * (graft.plans.AsOfJoin) to the planner. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `ds`, a Dataset whose plan is the LogicalRDD `r`, with `r` relabelled
    * as partitioned by `p`. `LogicalRDD`'s second parameter list (session,
    * stats, constraints) is reachable only through `makeCopy`, and
    * `classic.Dataset`'s plan constructor is `private[sql]`. */
  def withPartitioning[T](ds: Dataset[T], r: LogicalRDD, p: Partitioning): Dataset[T] = {
    val args = r.productIterator.map(_.asInstanceOf[AnyRef]).toArray
    args(r.productElementNames.indexOf("outputPartitioning")) = p
    classic.Dataset[T](ds.sparkSession.asInstanceOf[classic.SparkSession],
      r.makeCopy(args))(ds.encoder)
  }

  /** A clone of `s` with `settings` applied to the clone's conf only
    * (`cloneSession` is `private[sql]`). Unlike `newSession()`, a clone keeps
    * the caller's temp views, registered functions and
    * QueryExecutionListeners. Conf-driven optimizer rules read the conf at
    * optimization time — which happens later, at execution in Verify/Bench —
    * so a query that armed a rule on the SHARED session would leave it armed
    * for every query planned after it; a query that builds its plan on a
    * clone keeps the setting to itself. */
  def cloneWith(s: SparkSession, settings: Map[String, String]): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    settings.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** A new directory `<prefix>-<uuid>` under `java.io.tmpdir`, deleted with
    * its contents when the JVM exits (`Utils` is `private[spark]`; it
    * registers the dir with Spark's shutdown-hook manager). */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).toString
}
