package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark JVM. `perfbench/run.py` builds it and runs
  * `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --launched-ms <epoch ms> --data <dir> --work <dir> [--expected <tsv>] --result <json>`.
  * It writes one JSON result, each op's latency and output digest to
  * `ops.tsv` (and, traced, a span file), and exits non-zero if any op threw
  * or returned output that differs from its recorded digest.
  *
  * Without `--expected` no output is checked: `run.py --record` uses that to
  * take the recorded digests from `ops.tsv`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val work = arg("work")
    new File(work).mkdirs()
    sys.exit(run(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("launched-ms").toLong, arg("data"), work,
      args.get("expected").map(loadExpected), arg("result")))
  }

  def loadExpected(path: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(path)).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map { case Array(k, rows, hash) => k -> Digest(rows.toLong, hash) }
      .toMap

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean, launchedMs: Long,
      data: String, work: String, expected: Option[Map[String, Digest]],
      resultPath: String): Int = {
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    HeapWatch.start()
    val ops = new Ops
    val spans = new Spans
    val (spark, setupS) = Session.setup(data, work, launchedMs,
      Runner.check(expected, "query:" + Session.WarmupQuery), ops)
    val ctx = new Ctx(data, work, seed, seconds, traced, expected, ops, spans, spark)
    val outcome = workload match {
      case "ep1_build" => Workloads.ep1(ctx)
      case "board_seq" => Workloads.board(ctx)
    }
    ctx.spark.stop()
    val metrics: Seq[(String, Double)] =
      if (traced) Workloads.PerLayer.map(n => n -> outcome.getOrElse(n, 0.0)) ++
        Seq("jvm.heap_after_gc_peak_mb" -> HeapWatch.peakMb())
      else Seq("setup_s" -> setupS, "wall_s" -> outcome("wall_s"),
        "peak_rss_mb" -> Session.peakRssMb())
    val failed = ops.all.filterNot(_.ok)
    failed.foreach(r => System.err.println(s"[graftbench] FAILED ${r.name}: ${r.error.get}"))
    Files.write(Paths.get(s"$work/ops.tsv"), ("# op\tlatency_s\trows\thash\terror" +:
      ops.all.map(r => Seq(r.name, r.latencyS.getOrElse(""), r.digest.fold("")(_.rows.toString),
        r.digest.fold("")(_.hash), r.error.getOrElse("")).mkString("\t"))).asJava)
    if (traced)
      Files.write(Paths.get(s"$work/spans.jsonl"), spans.all.sortBy(_.id).map(_.json).asJava)
    val json = metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString(s"""{"attempted":${ops.all.size},"failed":${failed.size},"metrics":{""", ",", "}}")
    Files.writeString(Paths.get(resultPath), json)
    exitCode(ops.all)
  }

  /** Non-zero as soon as one op threw or returned output other than its
    * recorded digest. */
  def exitCode(ops: Seq[OpResult]): Int = if (ops.forall(_.ok)) 0 else 1
}
