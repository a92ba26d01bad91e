package graft

import scala.collection.mutable.ArrayBuffer

import graft.queries.Q
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws never produces a bench number. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.data("sf0.001")

  private val ok = Q("ok", (s, _) => s.range(10).toDF(), None)
  private val throwsAtBuild = Q("throws_at_build", (_, _) => sys.error("boom"), None)
  // a filter, so the failing expression survives count()'s column pruning
  private val throwsAtRun =
    Q("throws_at_run", (s, _) => s.range(10).toDF().where("assert_true(id < 0) IS NULL"), None)

  private def bench(qs: Seq[Q], reps: Int = 2): (Int, Seq[String]) = {
    val lines = ArrayBuffer.empty[String]
    val code = Bench.run(spark, sf, qs, reps, lines += _)
    (code, lines.toSeq)
  }

  test("healthy queries: exit 0 and one JSON line") {
    val (code, lines) = bench(Seq(ok), reps = 3)
    assert(code == 0)
    assert(lines.size == 1)
    assert(lines.head.startsWith("""{"metric":"total","value":"""))
    assert(lines.head.contains(""""queries":{"ok":"""))
    assert(lines.head.endsWith(s""","sf":"$sf","reps":3}"""))
  }

  test("a query throwing in the warm-up: exit 1, nothing recorded") {
    for (bad <- Seq(throwsAtBuild, throwsAtRun)) {
      val (code, lines) = bench(Seq(bad, ok))
      assert(code == 1, bad.name)
      assert(lines.isEmpty, bad.name)
    }
  }

  test("a query throwing in a timed round: exit 1, nothing recorded") {
    for (bad <- Seq(throwsAtBuild, throwsAtRun)) {
      val (code, lines) = bench(Seq(ok, bad))
      assert(code == 1, bad.name)
      assert(lines.isEmpty, bad.name)
    }
  }

  test("a query that throws only after its warm-up still fails the run") {
    var calls = 0
    val flaky = Q("flaky", (s, _) => {
      calls += 1
      if (calls > 1) sys.error("boom") else s.range(1).toDF()
    }, None)
    val (code, lines) = bench(Seq(flaky))
    assert(code == 1)
    assert(lines.isEmpty)
  }
}
