package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.core.Sizing
import graft.core.Sizing.{Compiled, Interpreted}
import graft.pipeline.DailyPipeline
import graft.queries.Registry
import org.apache.spark.TestBus
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The data-derived execution mode: which inputs run interpreted, and that
  * the mode is scoped to the work it was chosen for. */
class SizingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def fused(plan: SparkPlan): Boolean =
    collectFirst(plan) { case w: WholeStageCodegenExec => w }.nonEmpty

  /** Plans of the actions run while `body` runs, as a listener on `spark`
    * (registered before `body`, so clones made inside it inherit it) sees them. */
  private def observed(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(l)
    try {
      body
      TestBus.drain(spark.sparkContext)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(l)
  }

  test("mode: small inputs interpreted, large and unknown compiled") {
    assert(Sizing.mode(TestSpark.data("sf0.001")) == Interpreted)
    assert(Sizing.mode(TestSpark.data("sf0.01")) == Interpreted)
    assert(Sizing.mode(TestSpark.data("sf0.1")) == Compiled)
    // missing or unreadable reads as 0 bytes: unknown is never small
    assert(Sizing.inputBytes(TestSpark.data("no_such_scale")) == 0L)
    assert(Sizing.mode(TestSpark.data("no_such_scale")) == Compiled)
    // the smallest size whose decoded form fills one advisory partition
    val limit = (Sizing.TargetBytes + Sizing.Expansion - 1) / Sizing.Expansion
    assert(Sizing.mode(0L) == Compiled)
    assert(Sizing.mode(1L) == Interpreted)
    assert(Sizing.mode(limit - 1) == Interpreted)
    assert(Sizing.mode(limit) == Compiled)
  }

  test("describe names the mode and the figures behind it") {
    assert(Sizing.describe(TestSpark.data("sf0.01"))
      .matches("""\[sizing\] input 1\.\d\d MB x 10 < 64 MiB -> interpreted"""))
    assert(Sizing.describe(TestSpark.data("sf0.1"))
      .matches("""\[sizing\] input 17\.\d\d MB x 10 >= 64 MiB -> compiled"""))
    assert(Sizing.describe(TestSpark.data("no_such_scale")).endsWith("-> compiled"))
  }

  test("session: a clone in the mode, caller untouched; same session if already there") {
    assert(Sizing.runsIn(spark, Compiled))
    assert(Sizing.session(spark, Compiled) eq spark)
    val interp = Sizing.session(spark, Interpreted)
    assert(!(interp eq spark))
    assert(Sizing.runsIn(interp, Interpreted))
    assert(Sizing.runsIn(spark, Compiled), "the mode leaked into the caller's session")
    assert(Sizing.session(interp, Interpreted) eq interp)
    assert(Sizing.runsIn(Sizing.session(interp, Compiled), Compiled))
  }

  test("interpreted runs unfused, compiled fused; the caller's listeners see both") {
    def agg(s: org.apache.spark.sql.SparkSession) =
      s.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))
        .collect().toSet
    val expected = agg(spark)
    for ((m, fusedExpected) <- Seq(Interpreted -> false, Compiled -> true)) {
      var got = Set.empty[org.apache.spark.sql.Row]
      val qes = observed { got = agg(Sizing.session(spark, m)) }
      assert(got == expected, s"$m changed the result")
      assert(qes.forall(qe => Sizing.runsIn(qe.sparkSession, m)))
      assert(qes.exists(qe => fused(qe.executedPlan) == fusedExpected),
        s"$m: expected fused=$fusedExpected")
      assert(!qes.exists(qe => fused(qe.executedPlan) != fusedExpected))
    }
  }

  test("Registry.all runs each query in its input's mode, scoped to the call") {
    val q = Registry.all.find(_.name == "s1_scan_prune").get
    val small = q.run(spark, TestSpark.data("sf0.001"))
    assert(Sizing.runsIn(small.sparkSession, Interpreted))
    val large = q.run(spark, TestSpark.data("sf0.1"))
    assert(large.sparkSession eq spark)
    assert(Sizing.runsIn(spark, Compiled))
  }

  test("DailyPipeline.jobs run in the mode of their input, seen by the caller's listeners") {
    val out = TestDirs("graft_sizing_dag").toString
    val job = DailyPipeline.jobs(TestSpark.data("sf0.001"), out)
      .find(_.name == "customer_order_stats").get
    val qes = observed(job.run(spark))
    assert(qes.nonEmpty)
    assert(qes.forall(qe => Sizing.runsIn(qe.sparkSession, Interpreted)))
    assert(!qes.exists(qe => fused(qe.executedPlan)))
    assert(Sizing.runsIn(spark, Compiled))
    assert(spark.read.parquet(s"$out/customer_order_stats").count() > 0)
    // the write committed through the swap: marker stamped, no residue
    def sibling(suffix: String) =
      Files.exists(java.nio.file.Paths.get(s"$out/customer_order_stats.$suffix"))
    assert(sibling("_GRAFT_TABLE"))
    assert(!sibling("_GRAFT_TMP") && !sibling("_GRAFT_OLD"))
  }
}
