package graft.pipeline

import java.util.concurrent.{ExecutorCompletionService, Executors}
import org.apache.spark.sql.SparkSession

/** Dependency-ordered job runner with per-job failure isolation
  * (SURVEY.md §3 EP1/EP2, §7.1 `pipeline/Dag.scala`).
  *
  * The reference sequences ~25 fetch→transform→upload stages, each wrapped in
  * try/except so one failure doesn't halt the day's run
  * (`/root/reference/run_daily_pipeline.py:49-55`). Here the same contract is
  * explicit: jobs declare dependencies, a job runs only after all of them
  * succeeded, a failed job is recorded and its transitive dependents are
  * SKIPPED (running them on missing/stale inputs — the reference's actual
  * behavior — is the one deviation we do not reproduce), and everything
  * independent still runs.
  */
/** @param heavy declared MEMORY class, not a speed hint: `true` marks a job
  *   whose plan materializes candidate-PAIR-scale shuffle state (simhash /
  *   minhash band joins, embedding ring joins — state ~O(candidate pairs),
  *   not O(rows)). [[Dag.runParallel]] keeps at most ONE heavy job in flight
  *   at any moment: two pair builds co-resident in one 32-thread JVM OOM'd
  *   the sf10 run (round 10, measured), and the fix must not depend on a
  *   fortuitous lineage dep existing between whichever two heavy jobs become
  *   ready together. A ready heavy job waits for the running one to finish;
  *   light jobs co-schedule freely. */
final case class Job(name: String, deps: Seq[String], run: SparkSession => Unit,
    heavy: Boolean = false)

final case class JobResult(name: String, status: String, // ok | failed | skipped
    error: Option[String], durationMs: Long)

final class Dag(jobs: Seq[Job]) {
  require(jobs.map(_.name).distinct.size == jobs.size, "duplicate job names")
  private val byName = jobs.map(j => j.name -> j).toMap
  jobs.foreach(j => j.deps.foreach(d =>
    require(byName.contains(d), s"job ${j.name} depends on unknown job $d")))
  // Kahn peel: a cycle is rejected here, before any job can run
  locally {
    var done = Set.empty[String]
    var remaining = jobs
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(done.contains))
      require(ready.nonEmpty, s"dependency cycle among: ${remaining.map(_.name).mkString(",")}")
      done ++= ready.map(_.name)
      remaining = blocked
    }
  }

  /** Runs every job on a fixed pool of `parallelism` threads (concurrent
    * actions on one SparkSession are safe and keep the cluster busy while
    * another job's stage tail finishes). Each finished job posts its result
    * to a completion queue; on each completion the calling thread records
    * it, marks every dependent of a failed or skipped job `skipped` (no
    * slot used), then launches ready jobs in declaration order while a slot
    * is free. A job therefore starts as soon as its last dependency ends,
    * not when an unrelated sibling does. A heavy job ([[Job.heavy]])
    * launches only when no other heavy job is in flight. Results come back
    * in declaration order. */
  def runParallel(spark: SparkSession, parallelism: Int = 4): Seq[JobResult] = {
    val slots = math.max(1, parallelism)
    val pool = Executors.newFixedThreadPool(slots)
    val done = new ExecutorCompletionService[JobResult](pool)
    val results = scala.collection.mutable.Map.empty[String, JobResult]
    def bad(d: String) = results.get(d).exists(_.status != "ok")
    var pending = jobs
    var inFlight = 0
    var heavyInFlight = false
    def launch(): Unit = {
      var poisoned = pending.filter(_.deps.exists(bad))
      while (poisoned.nonEmpty) { // a skip can poison a job declared before it
        poisoned.foreach(j => results(j.name) = JobResult(j.name, "skipped",
          Some(s"upstream failed: ${j.deps.filter(bad).mkString(",")}"), 0L))
        pending = pending.diff(poisoned)
        poisoned = pending.filter(_.deps.exists(bad))
      }
      pending.foreach { job => // every recorded dep of a pending job is ok
        if (inFlight < slots && job.deps.forall(results.contains) &&
            !(job.heavy && heavyInFlight)) {
          pending = pending.filterNot(_ eq job)
          inFlight += 1
          heavyInFlight ||= job.heavy
          done.submit(() => {
            val t0 = System.nanoTime()
            val (status, error) =
              try { job.run(spark); ("ok", None) }
              catch { case e: Throwable => ("failed", Some(e.toString.take(500))) }
            JobResult(job.name, status, error, (System.nanoTime() - t0) / 1000000L)
          })
        }
      }
    }
    try {
      launch()
      while (inFlight > 0) {
        val r = done.take().get()
        inFlight -= 1
        if (byName(r.name).heavy) heavyInFlight = false
        results(r.name) = r
        launch()
      }
    } finally pool.shutdown()
    jobs.map(j => results(j.name))
  }
}
