package graft.ops

import org.apache.spark.sql.{Dataset, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one barrier and its one driver-side overlap: no other file
  * calls `localCheckpoint` or overlaps barrier chains on its own threads.
  *
  * [[barrier]] (`ds.barrier()`) is an eager `localCheckpoint(true)`: one
  * job, plus one per AQE exchange above it, that stops multi-consumer
  * re-execution and cuts iterative lineage. It returns `ds` unchanged, with
  * no job, when the plan is only Project/Filter over materialized
  * checkpoints: each consumer then re-runs a narrow view over cached
  * partitions. It keeps the barrier for any other leaf, a LogicalRDD that
  * is not a checkpoint (micro-batch, `createDataFrame(rdd)`) included, and
  * for a plan that is not `deterministic` (`Skew`'s `rand` salt), so every
  * consumer reads the same rows. Placement cannot change a result: every
  * declared query is partitioning-invariant by contract.
  *
  * A checkpoint whose RDD has exactly one partition is labelled
  * `SinglePartition`; `localCheckpoint` would keep the label of the plan it
  * cut (a hash partitioning, say). `SinglePartition` satisfies every
  * distribution but broadcast, so an aggregate, `distinct`, `Window.orderBy`
  * or sort directly above such a barrier plans no exchange, and so no AQE
  * query stage and no job of its own. A join with a many-partition side
  * still re-shuffles the one-partition side to that side's partitioning.
  * A checkpoint of more than one partition keeps its label.
  *
  * [[both]] overlaps two independent barrier chains. Side `a` runs on a new
  * thread that the caller creates, so it inherits the caller's Spark local
  * properties (job tags, job group) and active session; a pooled thread
  * would carry those of whoever made it. Side `b` runs on the caller. */
object Checkpoints {

  def barrier[T](ds: Dataset[T]): Dataset[T] = {
    val plan = ds.queryExecution.analyzed
    val cheap = plan.deterministic && !plan.exists {
      case r: LogicalRDD => !r.rdd.isCheckpointed
      case _: Project | _: Filter => false
      case _ => true
    }
    if (cheap) ds else singlePartition(ds.localCheckpoint(true))
  }

  private def singlePartition[T](ck: Dataset[T]): Dataset[T] =
    ck.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.getNumPartitions == 1 && r.outputPartitioning != SinglePartition =>
        GraftBridge.withPartitioning(ck, r, SinglePartition)
      case _ => ck
    }

  implicit class BarrierOps[T](private val ds: Dataset[T]) extends AnyVal {
    def barrier(): Dataset[T] = Checkpoints.barrier(ds)
  }

  /** Runs `a` and `b` at once and waits for both. Throws `a`'s failure
    * (with `b`'s suppressed) if there is one, else `b`'s. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    var ra: Either[Throwable, A] = null
    val t = new Thread(() =>
      ra = try Right(a) catch { case e: Throwable => Left(e) }, "graft-both")
    t.setDaemon(true)
    t.start()
    val rb = try Right(b) catch { case e: Throwable => Left(e) }
    t.join()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), r) => r.left.foreach(e.addSuppressed); throw e
      case (_, Left(e)) => throw e
    }
  }
}
