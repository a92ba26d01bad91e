package graft

import org.scalatest.funsuite.AnyFunSuite

/** One definition per pipeline operator: the per-user flag evaluation has
  * one home, and every warehouse build, daily or refresh, runs through the
  * one shared runner (`graft.pipeline.Warehouse.run`). */
class WarehouseRunnerSpec extends AnyFunSuite {

  test("flatMapGroups over FlagRules.evaluateAll appears in one file") {
    assert(SourceScan.filesMatching("""flatMapGroups[^\n]*evaluateAll""".r) ==
      Seq("scala/graft/queries/FlagQs.scala"))
  }

  test("runParallel is called only by the shared warehouse runner") {
    val call = """\.runParallel\(""".r
    val runner = "scala/graft/pipeline/DailyPipeline.scala"
    assert(SourceScan.filesMatching(call) == Seq(runner))
    val code = SourceScan.code(runner)
    val at = call.findAllMatchIn(code).map(_.start).toSeq
    assert(at.size == 1, s"${at.size} runParallel calls in $runner")
    // the call sits in Warehouse.run: the last object and def opened before it
    val before = code.substring(0, at.head)
    assert(before.lastIndexOf("object ") == before.lastIndexOf("object Warehouse"))
    assert(before.lastIndexOf("def ") == before.lastIndexOf("def run("))
  }
}
