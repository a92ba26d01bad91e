package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rangeDigest(n: Int): Digest = Action.run(spark.range(n).toDF("x"))

  test("a query that throws is a failed op with no latency sample") {
    val r = Runner.query(spark, "throws", () => sys.error("boom"), _ => None)
    assert(!r.ok && r.latencyS.isEmpty && r.error.get.contains("boom"))
  }

  test("a query whose output differs from its recorded digest is a failed op") {
    val recorded = Map("wrong" -> rangeDigest(4))
    val r = Runner.query(spark, "wrong", () => spark.range(3).toDF("x"),
      Runner.expect(recorded, "wrong"))
    assert(!r.ok && r.latencyS.isEmpty && r.error.get.contains("mismatch"))
    val ok = Runner.query(spark, "right", () => spark.range(4).toDF("x"),
      Runner.expect(Map("right" -> rangeDigest(4)), "right"))
    assert(ok.ok && ok.latencyS.nonEmpty)
  }

  test("failed ops give no latency samples and make the run exit non-zero") {
    val good = OpResult("g", Some(1.0), None, None)
    val bad = Seq(
      Runner.query(spark, "throws", () => sys.error("boom"), _ => None),
      Runner.query(spark, "wrong", () => spark.range(3).toDF("x"),
        Runner.expect(Map("wrong" -> rangeDigest(4)), "wrong")))
    assert(bad.forall(r => !r.ok && r.latencyS.isEmpty))
    assert(Main.exitCode(Seq(good)) == 0)
    assert(Main.exitCode(good +: bad) != 0)
  }

  test("the timed action evaluates every column; count() would not") {
    val df = spark.range(10).select(col("id"), raise_error(lit("bad column")).as("x"))
    assert(df.count() == 10L)
    val r = Runner.query(spark, "raises", () => df, _ => None)
    assert(!r.ok && r.error.get.contains("bad column"))
  }

  test("digests ignore row order and see every value") {
    val a = Action.run(spark.range(100).toDF("x").orderBy(col("x").desc))
    assert(a == rangeDigest(100))
    assert(a != Action.run(spark.range(100).toDF("x").withColumn("x", col("x") + 1)))
    assert(Action.digest(spark.range(100).toDF("x")) == a)
  }

  test("the heap watch records the occupancy left after a collection") {
    HeapWatch.start()
    val keep = Array.fill(64)(new Array[Byte](1 << 20))
    System.gc()
    assert(HeapWatch.peakMb() >= 64.0)
    assert(keep.length == 64)
  }

  // ---- span arithmetic on synthetic spans (times in microseconds)

  private def s(id: Long, parent: Long, layer: String, a: Long, b: Long, name: String = "") =
    Span(id, 1L, parent, name, layer, a, b)

  test("covered merges overlapping intervals and clips to the window") {
    assert(SpanMath.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(SpanMath.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(SpanMath.covered(Nil, 0L, 10L) == 0L)
  }

  test("layer self time subtracts the part covered by child spans") {
    val spans = Seq(
      s(1, 0, "queries", 0, 10000000),       // 10 s query
      s(2, 1, "spark", 1000000, 4000000),    // 3 s job
      s(3, 1, "spark", 3000000, 6000000),    // overlapping 3 s job
      s(4, 3, "ops", 5000000, 6000000))      // 1 s inside job 3
    val self = SpanMath.layerSelf(spans)
    assert(self("queries") == 5.0) // 10 - union(1..6)
    assert(self("spark") == 5.0)   // 3 + (3 - 1)
    assert(self("ops") == 1.0)
  }

  test("ready wait counts from the last dependency's end or the DAG start") {
    val jobs = Map(
      "a" -> s(1, 0, "pipeline", 0, 2000000),
      "b" -> s(2, 0, "pipeline", 500000, 1000000),
      "c" -> s(3, 0, "pipeline", 3000000, 4000000), // deps a, b: ready at 2 s
      "d" -> s(4, 0, "pipeline", 4000000, 4500000)) // dep c: ready at 4 s
    val deps = Map("c" -> Seq("a", "b"), "d" -> Seq("c"))
    val w = SpanMath.readyWait(jobs, deps, 0L)
    assert(w == Map("a" -> 0.0, "b" -> 0.5, "c" -> 1.0, "d" -> 0.0))
  }

  test("critical path is the longest chain of measured job durations") {
    val jobs = Map(
      "a" -> s(1, 0, "pipeline", 0, 2000000),
      "b" -> s(2, 0, "pipeline", 0, 5000000),
      "c" -> s(3, 0, "pipeline", 5000000, 6000000),
      "e" -> s(4, 0, "pipeline", 0, 1000000))
    val deps = Map("c" -> Seq("a", "b"), "skipped" -> Seq("c"))
    assert(SpanMath.criticalPath(jobs, deps) == 6.0) // b (5) + c (1)
  }
}
