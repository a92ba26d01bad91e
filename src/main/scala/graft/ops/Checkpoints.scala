package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared eager-checkpoint discipline for the iterative operators.
  *
  * An eager `localCheckpoint(true)` is a scheduler BARRIER (one job per
  * call, plus one job per AQE exchange in the plan above it) bought to stop
  * multi-consumer re-execution of heavy subtrees. When the frame is already
  * just a narrow view over a checkpoint, the barrier buys nothing: each
  * consumer re-runs a Project/Filter over cached partitions at memory
  * speed. The d2 jaccardFor path has applied this test since round 7; r12
  * hoists it here so every iterative op (pageRank, PPR, CC, LPA) can skip
  * its redundant setup barriers — measured 2-4 fewer jobs per graph query
  * at identical results (checkpoint placement cannot change arithmetic;
  * every declared query is partitioning-invariant by contract).
  */
object Checkpoints {

  /** True when `df`'s analyzed plan is only Project/Filter over LogicalRDD
    * checkpoints — i.e. re-running it per consumer is as cheap as reading
    * the checkpoint it would create. */
  private def cheapOverCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case n => n.getClass.getSimpleName
    }.forall(Set("LogicalRDD", "Project", "Filter").contains)

  /** Eager localCheckpoint, skipped when [[cheapOverCheckpoint]]. */
  private[graft] def ckUnlessCheap(df: DataFrame): DataFrame =
    if (cheapOverCheckpoint(df)) df else df.localCheckpoint(true)
}
