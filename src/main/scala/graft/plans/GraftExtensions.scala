package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** All of the engine's Catalyst extensions in one injector: the bucketed
  * proximity-join rewrite, the interval bucket-join rewrite, and the native
  * as-of join strategy. `graft.core.Session` installs it in every
  * session the engine builds. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BucketedProximityJoin)
    e.injectOptimizerRule(_ => IntervalBucketJoin)
    e.injectPlannerStrategy(_ => AsOfJoinPlan.AsOfJoinStrategy)
  }
}
