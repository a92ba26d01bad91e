package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark-side half of a traced run: one SparkListener plus one
  * QueryExecutionListener, registered by the benchmark for the traced unit
  * of work only. It records jobs, SQL executions, stage and task totals,
  * planning phases and write-command metrics; [[report]] turns them, with
  * the benchmark's own spans, into the per-layer metrics. */
final class SparkTrace(spark: SparkSession) {
  import SparkTrace._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()
  private val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new AtomicInteger(0)
  private val singleTaskStages = new AtomicInteger(0)
  private val tasks = new AtomicInteger(0)
  private val taskMs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val shuffleWrite = new AtomicLong(0L)
  private val shuffleRead = new AtomicLong(0L)
  private val spill = new AtomicLong(0L)
  private val maxTaskInput = new AtomicLong(0L)
  private val planningMs = new AtomicLong(0L)
  private val writeActions = new AtomicInteger(0)
  private val writeNs = new AtomicLong(0L)
  private val bytesWritten = new AtomicLong(0L)
  private val filesWritten = new AtomicLong(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): String = if (p == null) null else p.getProperty(k)
      val tags = Option(prop("spark.job.tags")).map(_.split(",").toSet).getOrElse(Set.empty)
      val exec = Option(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      jobs.add(JobRec(e.jobId, e.time * 1000L, tags, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val i = e.taskInfo
      if (i != null) taskIntervals.add((i.launchTime * 1000L, i.finishTime * 1000L))
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val sr = m.shuffleReadMetrics.totalBytesRead
        shuffleRead.addAndGet(sr)
        spill.addAndGet(m.diskBytesSpilled)
        maxTaskInput.accumulateAndGet(m.inputMetrics.bytesRead + sr, math.max)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, ExecRec(s.executionId, s.time * 1000L,
          s.description, isWrite(s.sparkPlanInfo), s.jobTags))
      case s: SparkListenerSQLExecutionEnd => execEnds.put(s.executionId, s.time * 1000L)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd.metrics }
        .foreach { m =>
          writeActions.incrementAndGet()
          writeNs.addAndGet(durationNs)
          m.get("numOutputBytes").foreach(x => bytesWritten.addAndGet(x.value))
          m.get("numFiles").foreach(x => filesWritten.addAndGet(x.value))
        }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, 0L)
  }

  def start(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Per-layer metrics of one traced unit spanning [loUs, hiUs]. Spark jobs
    * and write executions become spans too, attributed to the benchmark span
    * whose job tag they carry; a job without such a tag, or whose tag names a
    * span that was not open when it started (a tag inherited by a pooled
    * thread), is reported as unattributed rather than dropped. */
  def report(spans: Spans, loUs: Long, hiUs: Long, cores: Int): Map[String, Double] = {
    val bench = spans.all
    val byId = bench.map(s => s.id -> s).toMap
    val kids = bench.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(descendants)
    // the innermost benchmark span, under the one whose tag the work carries,
    // that was open at time t (Spark's event times have millisecond grain)
    def owner(tags: Set[String], t: Long, extra: Seq[Span]): Option[Span] =
      tags.collect { case SpanTag(id) => id.toLong }.flatMap(byId.get)
        .find(s => s.startUs - 1000L <= t && t <= s.endUs + 1000L)
        .map { s =>
          val under = descendants(s)
          val ids = under.map(_.id).toSet
          (s +: (under ++ extra.filter(x => ids(x.parent)))
            .filter(x => x.startUs <= t && t <= x.endUs)).maxBy(_.startUs)
        }

    val execList = execs.values.asScala.toSeq
    val coreSpans = execList.filter(_.write)
      .flatMap { x =>
        owner(x.tags, x.startUs, Nil).map(o => Span(spans.nextId(), o.trace, o.id,
          "write: " + x.description.take(80), "core", x.startUs,
          Option(execEnds.get(x.id)).map(_.longValue).getOrElse(x.startUs)))
      }
    val checkpointExecs = execList.filter(x =>
      x.description.startsWith("localCheckpoint") || x.description.startsWith("checkpoint"))
      .map(_.id).toSet
    val jobList = jobs.asScala.toSeq
    var unattributed = 0
    val jobSpans = jobList.map { j =>
      val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startUs)
      val layer = if (checkpointExecs(j.exec)) "ops" else "spark"
      val o = owner(j.tags, j.startUs, coreSpans)
      if (o.isEmpty) unattributed += 1
      Span(spans.nextId(), o.map(_.trace).getOrElse(0L), o.map(_.id).getOrElse(0L),
        s"spark job ${j.id}", layer, j.startUs, end)
    }
    (coreSpans ++ jobSpans).foreach(spans.add)

    val wallS = (hiUs - loUs) / 1e6
    val busyUs = SpanMath.covered(taskIntervals.asScala.toSeq, loUs, hiUs)
    val ck = jobSpans.filter(_.layer == "ops")
    val self = SpanMath.layerSelf(spans.all)
    val mb = 1e6
    Map(
      "spark.jobs" -> jobList.size.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.single_task_stages" -> singleTaskStages.get.toDouble,
      "spark.task_s" -> taskMs.get / 1e3,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.busy_ratio" -> (if (wallS > 0) taskMs.get / 1e3 / (wallS * cores) else 0.0),
      "spark.idle_s" -> math.max(0.0, wallS - busyUs / 1e6),
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb,
      "spark.shuffle_read_mb" -> shuffleRead.get / mb,
      "spark.spill_mb" -> spill.get / mb,
      "spark.max_task_input_mb" -> maxTaskInput.get / mb,
      "spark.unattributed_jobs" -> unattributed.toDouble,
      "spark.self_s" -> self.getOrElse("spark", 0.0),
      "ops.checkpoint_jobs" -> ck.size.toDouble,
      "ops.checkpoint_s" -> ck.map(_.durS).sum,
      "plans.planning_s" -> planningMs.get / 1e3,
      "core.write_actions" -> writeActions.get.toDouble,
      "core.write_s" -> writeNs.get / 1e9,
      "core.bytes_written_mb" -> bytesWritten.get / mb,
      "core.files_written" -> filesWritten.get.toDouble,
      "core.self_s" -> self.getOrElse("core", 0.0),
      "queries.self_s" -> self.getOrElse("queries", 0.0),
      "pipeline.self_s" -> self.getOrElse("pipeline", 0.0))
  }
}

object SparkTrace {
  /** The job tag a benchmark span puts on the jobs its thread submits. */
  def tag(spanId: Long): String = s"graftbench-span-$spanId"
  private val SpanTag = "graftbench-span-(\\d+)".r

  private final case class JobRec(id: Int, startUs: Long, tags: Set[String], exec: Long)
  private final case class ExecRec(id: Long, startUs: Long, description: String,
      write: Boolean, tags: Set[String])

  /** A file write, whether or not AQE wraps the command. */
  private def isWrite(p: SparkPlanInfo): Boolean =
    p.nodeName.contains("InsertIntoHadoopFsRelationCommand") || p.children.exists(isWrite)

  /** Runs `body` with the span's job tag set on the current thread. */
  def tagged[T](spark: SparkSession, spanId: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag(spanId))
    try body finally sc.removeJobTag(tag(spanId))
  }
}
