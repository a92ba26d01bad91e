package graft

import graft.core.Session
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must (a) leave results identical to the naive abs-diff
  * join and (b) replace the nested-loop plan with hash-joinable branches. */
class BucketedProximityJoinSpec extends AnyFunSuite {

  /** `getOrCreate` returns the default session and silently IGNORES
    * `withExtensions` when one exists — so both sessions here are created
    * fresh after clearing the default (they still share the SparkContext).
    * The rule-on session is the engine's own (`graft.core.Session`); the
    * control is built by hand, because it must lack the rule. */
  private def freshSession(withExt: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    if (withExt) Session(TestSpark.data("sf0.001"))
    else {
      val s = SparkSession.builder()
        .master("local[4]")
        .appName("graft-prox-rule-control")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
  }

  private lazy val spark: SparkSession = freshSession(withExt = true)

  test("rewritten abs-diff join equals brute force, including negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // negative and positive times straddling zero — exercises floor-div
    val lt = (1 to 400).map(i => (i.toLong, rnd.nextLong(20000L) - 10000L))
    val rt = (1 to 400).map(i => (1000L + i, rnd.nextLong(20000L) - 10000L))
    val l = lt.toDF("lid", "lts")
    val r = rt.toDF("rid", "rts")
    val tol = 700L
    val got = l.join(r, abs(col("lts") - col("rts")) <= tol)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      (li, lv) <- lt; (ri, rv) <- rt if math.abs(lv - rv) <= tol
    } yield (li, ri)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("the physical plan hash-joins on buckets instead of nested-loop") {
    import spark.implicits._
    val l = (1 to 100).map(i => (i.toLong, i.toLong * 13 % 5000)).toDF("lid", "lts")
    val r = (1 to 100).map(i => (i.toLong, i.toLong * 29 % 5000)).toDF("rid", "rts")
    val joined = l.join(r, abs(col("lts") - col("rts")) <= lit(100L))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      s"rule should eliminate the nested-loop join:\n$physical")
  }

  test("a session without the extension plans the nested loop (control)") {
    val vanilla = freshSession(withExt = false)
    import vanilla.implicits._
    val l2 = (1 to 100).map(i => (i.toLong, i.toLong * 13 % 5000)).toDF("lid", "lts")
    val r2 = (1 to 100).map(i => (i.toLong, i.toLong * 29 % 5000)).toDF("rid", "rts")
    val naive = l2.join(r2, abs(col("lts") - col("rts")) <= lit(100L))
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("joins that already have an equi key are left untouched") {
    import spark.implicits._
    val l = Seq((1L, 10L, "k1"), (2L, 20L, "k2")).toDF("lid", "lts", "lk")
    val r = Seq((3L, 12L, "k1"), (4L, 500L, "k1")).toDF("rid", "rts", "rk")
    val joined = l.join(r, col("lk") === col("rk") && abs(col("lts") - col("rts")) <= 5)
    // still correct (one match), and no Union-of-three expansion
    assert(joined.count() == 1)
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__prox_bl"))
  }
}
