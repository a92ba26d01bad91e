package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.pipeline.{Dag, DailyPipeline}
import graft.queries.Q
import org.apache.spark.sql.SparkSession

/** What one run needs. Without `expected` (when recording) no output is
  * checked. */
final class Ctx(val data: String, val work: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val expected: Option[Map[String, Digest]], val ops: Ops,
    val spans: Spans, val spark: SparkSession) {
  def check(key: String): Runner.Check = Runner.check(expected, key)
  def runQuery(q: Q, traceSpans: Option[Spans]): OpResult =
    ops.add(Runner.query(spark, q.name, () => q.run(spark, data), check("query:" + q.name),
      traceSpans))
}

object Workloads {
  val Names: Seq[String] = Seq("ep1_build", "board_seq")

  /** The DAG slice `ep1_build` runs, chosen from the measured job times of
    * the full 94-job DAG at sf0.01 on 4 cores (perfbench/README.md): the seven
    * longest jobs with their dependencies, plus the two longest heavy-class
    * jobs, so heavy admission serialises them. About 28% of the full DAG's
    * job time, in one cold build that fits a run. `data_questions` submits
    * jobs from driver Futures. */
  val Ep1Jobs: Seq[String] = Seq(
    "lookalike_audience", "ann_index_rot_audit", "tokenizer_fertility",
    "document_dedup_groups", "curated_corpus", "bpe_merge_table", "identity_map",
    "customer_order_stats", "customer_master", "family_edges", "data_questions",
    "soft_dedup_weights", "dup_farm_report")

  /** The `bench = true` queries `board_seq` runs each pass: the two longest
    * of the 51-query board, by measured time at sf0.01 on 4 cores
    * (perfbench/README.md). They are about 13% of the board's time, in a pass
    * short enough that a warm-up pass and a timed pass fit one run.
    * `c4_curation_dsir` submits jobs from driver Futures. */
  val Board: Seq[String] = Seq("c3_curation_containment", "c4_curation_dsir")

  /** Every per-layer metric a traced run reports, on every workload; a layer
    * a workload does not exercise reports 0. */
  val PerLayer: Seq[String] = Seq(
    "pipeline.job_busy_s", "pipeline.ready_wait_s", "pipeline.heavy_wait_s",
    "pipeline.critical_path_s", "pipeline.wall_over_critical",
    "pipeline.mean_concurrency", "pipeline.jobs_failed", "pipeline.jobs_skipped",
    "pipeline.self_s",
    "core.write_actions", "core.write_s", "core.bytes_written_mb",
    "core.files_written", "core.self_s",
    "queries.build_s", "queries.action_s", "queries.output_rows", "queries.self_s") ++
    Board.map(n => s"queries.$n.p50_s") ++ Seq(
    "ops.checkpoint_jobs", "ops.checkpoint_s",
    "plans.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_stages",
    "spark.task_s", "spark.gc_s", "spark.busy_ratio", "spark.idle_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.max_task_input_mb", "spark.unattributed_jobs", "spark.self_s",
    "trace.unit_wall_s")

  private def nowS(): Double = System.nanoTime() / 1e9

  /** Traced-unit metrics shared by the workloads. `trace.overhead_s` is
    * added by `run.py`, from an untraced run of the same seed. */
  private def traced(ctx: Ctx, tracer: SparkTrace, loUs: Long, hiUs: Long,
      queries: Seq[OpResult]): Map[String, Double] = {
    val spans = ctx.spans.all
    def total(name: String) = spans.filter(_.name == name).map(_.durS).sum
    tracer.report(ctx.spans, loUs, hiUs, Session.Cores) ++ Map(
      "queries.build_s" -> total("q.run"),
      "queries.action_s" -> total("action"),
      "queries.output_rows" -> queries.flatMap(_.digest).map(_.rows.toDouble).sum,
      "trace.unit_wall_s" -> (hiUs - loUs) / 1e6) ++
      queries.groupBy(_.name).map { case (n, rs) =>
        s"queries.$n.p50_s" -> Stats.median(rs.flatMap(_.latencyS))
      }
  }

  // ---------------------------------------------------------------- ep1_build

  /** The warehouse build, as the daily job runs it: once, on the cold
    * driver the set-up made, into an empty output directory. Only the
    * `runParallel` call is timed; `--seconds` does not repeat it, because a
    * second build in the same JVM would be warm. The seed permutes the order
    * the jobs are declared in; the dependencies stay the same. Traced, each
    * job runs inside a span whose job tag its Spark work carries. After the
    * build the written tables are checked against their recorded digests,
    * untimed. */
  def ep1(ctx: Ctx): Map[String, Double] = {
    val out = s"${ctx.work}/warehouse"
    val all = DailyPipeline.jobs(ctx.data, out)
    val slice = Ep1Jobs.map(n => all.find(_.name == n).getOrElse(sys.error(s"no DAG job $n")))
    val jobs = new Random(scala.util.hashing.byteswap64(ctx.seed)).shuffle(slice)
    val deps = jobs.map(j => j.name -> j.deps).toMap
    val sp = ctx.spans
    val buildId = sp.nextId()
    val run = if (!ctx.traced) jobs else jobs.map(j => j.copy(run = (s: SparkSession) => {
      val id = sp.nextId()
      sp.span("job " + j.name, "pipeline", buildId, buildId, id) {
        SparkTrace.tagged(s, id)(j.run(s))
      }
    }))
    lazy val tracer = new SparkTrace(ctx.spark)
    if (ctx.traced) tracer.start()
    val lo = Clock.nowUs()
    val rs =
      if (!ctx.traced) new Dag(run).runParallel(ctx.spark, Session.Cores)
      else sp.span("dag.runParallel", "pipeline", 0L, buildId, buildId) {
        new Dag(run).runParallel(ctx.spark, Session.Cores)
      }
    val hi = Clock.nowUs()
    val wall = (hi - lo) / 1e6
    rs.foreach(r => ctx.ops.add(OpResult("job " + r.name,
      if (r.status == "ok") Some(r.durationMs / 1e3) else None, None,
      if (r.status == "ok") None else Some(s"${r.status}: ${r.error.getOrElse("")}"))))
    val metrics =
      if (!ctx.traced) Map("wall_s" -> wall)
      else {
        tracer.stop()
        val jobSpans = sp.all.filter(s => s.parent == buildId && s.layer == "pipeline")
          .map(s => s.name.stripPrefix("job ") -> s).toMap
        val waits = SpanMath.readyWait(jobSpans, deps, lo)
        val heavy = jobs.filter(_.heavy).map(_.name).toSet
        val busy = jobSpans.values.map(_.durS).sum
        val cp = SpanMath.criticalPath(jobSpans, deps)
        traced(ctx, tracer, lo, hi, Nil) ++ Map(
          "pipeline.job_busy_s" -> busy,
          "pipeline.ready_wait_s" -> waits.values.sum,
          "pipeline.heavy_wait_s" -> waits.collect { case (n, w) if heavy(n) => w }.sum,
          "pipeline.critical_path_s" -> cp,
          "pipeline.wall_over_critical" -> (if (cp > 0) wall / cp else 0.0),
          "pipeline.mean_concurrency" -> busy / wall,
          "pipeline.jobs_failed" -> rs.count(_.status == "failed").toDouble,
          "pipeline.jobs_skipped" -> rs.count(_.status == "skipped").toDouble)
      }
    checkTables(ctx, out)
    metrics
  }

  /** Digests every table directory the build wrote, and flags any recorded
    * table that is missing. */
  def checkTables(ctx: Ctx, out: String): Unit = {
    val written = Option(new File(out).listFiles).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.getName).toSet
    val recorded = ctx.expected.getOrElse(Map.empty).keySet.collect {
      case k if k.startsWith("table:") => k.stripPrefix("table:") }
    (written ++ recorded).toSeq.sorted.foreach { name =>
      ctx.ops.add(Runner.timed("table " + name, ctx.check("table:" + name)) {
        Action.digest(ctx.spark.read.parquet(s"$out/$name"))
      })
    }
  }

  // ---------------------------------------------------------------- board_seq

  /** One client runs the board in a warm session: an untimed warm-up pass,
    * then passes until `seconds` have gone by (at least one); traced, one
    * traced pass. The seed shuffles the query order of every pass. */
  def board(ctx: Ctx): Map[String, Double] = {
    val qs = Board.map(Session.query)
    qs.filterNot(_.bench).foreach(q => sys.error(s"${q.name} is not a board query"))
    val rng = new Random(scala.util.hashing.byteswap64(ctx.seed))
    def pass(spans: Option[Spans]): (Double, Seq[OpResult]) = {
      val order = rng.shuffle(qs)
      val t0 = nowS()
      val rs = order.map(q => ctx.runQuery(q, spans))
      (nowS() - t0, rs)
    }
    pass(None)
    if (!ctx.traced) {
      val walls = ArrayBuffer.empty[Double]
      val start = nowS()
      do walls += pass(None)._1 while (nowS() - start < ctx.seconds)
      Map("wall_s" -> Stats.median(walls.toSeq))
    } else {
      val t = new SparkTrace(ctx.spark)
      t.start()
      val lo = Clock.nowUs()
      val (_, rs) = pass(Some(ctx.spans))
      val hi = Clock.nowUs()
      t.stop()
      traced(ctx, t, lo, hi, rs)
    }
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
