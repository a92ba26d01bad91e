package graft

import graft.core.Session
import graft.plans.IntervalBucketJoin
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The interval bucket-join rule must (a) keep results identical to the
  * naive range join for every supported join type, and (b) replace the
  * nested-loop plan with a bucket equi-join. */
class IntervalBucketJoinSpec extends AnyFunSuite {

  private def freshSession(width: Long): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session(TestSpark.data("sf0.001"))
    s.conf.set(IntervalBucketJoin.WidthKey, width.toString)
    s
  }

  private lazy val spark: SparkSession = freshSession(width = 1000L)

  private def data(s: SparkSession) = {
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // negative and positive points/intervals straddling zero, varied lengths
    val pts = (1 to 300).map(i => (i.toLong, rnd.nextLong(40000L) - 20000L))
    val ivs = (1 to 200).map { i =>
      val st = rnd.nextLong(40000L) - 20000L
      (1000L + i, st, st + rnd.nextLong(3000L))
    }
    (pts, ivs, pts.toDF("pid", "p"), ivs.toDF("iid", "s", "e"))
  }

  test("inner rewrite equals brute force, including negative times") {
    val (pts, ivs, pdf, idf) = data(spark)
    val got = pdf.join(idf, col("p") >= col("s") && col("p") <= col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (pi, p) <- pts; (ii, s, e) <- ivs if p >= s && p <= e
    } yield (pi, ii)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("left anti/semi rewrites match brute force") {
    val (pts, ivs, pdf, idf) = data(spark)
    val cond = col("p") >= col("s") && col("p") <= col("e")
    val semi = pdf.join(idf, cond, "left_semi").select("pid")
      .collect().map(_.getLong(0)).toSet
    val anti = pdf.join(idf, cond, "left_anti").select("pid")
      .collect().map(_.getLong(0)).toSet
    val wantSemi = pts.collect {
      case (pi, p) if ivs.exists { case (_, s, e) => p >= s && p <= e } => pi
    }.toSet
    assert(semi == wantSemi)
    assert(anti == pts.map(_._1).toSet -- wantSemi)
  }

  test("left outer rewrite keeps unmatched points exactly once") {
    val (pts, ivs, pdf, idf) = data(spark)
    val cond = col("p") >= col("s") && col("p") <= col("e")
    val outer = pdf.join(idf, cond, "left_outer")
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val want = pts.flatMap { case (pi, p) =>
      val hits = ivs.collect { case (ii, s, e) if p >= s && p <= e => (pi, ii) }
      if (hits.isEmpty) Seq((pi, -1L)) else hits
    }
    assert(outer.sorted.toSeq == want.sorted.toSeq)
  }

  test("the physical plan equi-joins on buckets instead of nested-loop") {
    val (_, _, pdf, idf) = data(spark)
    val plan = pdf.join(idf, col("p") >= col("s") && col("p") <= col("e"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rule should eliminate the nested-loop join:\n$plan")
    assert(plan.contains("__iv_bkt"))
  }

  test("rewrite is width-invariant: odd/small/large bucket widths all agree") {
    val widths = Seq(7L, 333L, 50000L)
    val results = widths.map { w =>
      val s = freshSession(w)
      val (_, _, pdf, idf) = data(s)
      pdf.join(idf, col("p") >= col("s") && col("p") <= col("e"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(results.distinct.size == 1)
    assert(results.head.nonEmpty)
  }

  test("width 0 leaves the plan untouched (rule off by default)") {
    val off = freshSession(width = 0L)
    import off.implicits._
    val pdf = (1 to 50).map(i => (i.toLong, i.toLong * 7 % 500)).toDF("pid", "p")
    val idf = (1 to 50).map(i => (i.toLong, i.toLong * 13 % 500, i.toLong * 13 % 500 + 20))
      .toDF("iid", "s", "e")
    val plan = pdf.join(idf, col("p") >= col("s") && col("p") <= col("e"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("inverted intervals (end < start) match nothing instead of throwing") {
    import spark.implicits._
    val pdf = Seq((1L, 10L), (2L, 700L)).toDF("pid", "p")
    val idf = Seq((3L, 5L, 15L), (4L, 900L, 100L), (5L, 650L, 800L))
      .toDF("iid", "s", "e") // iid=4 is malformed: e < s
    val cond = col("p") >= col("s") && col("p") <= col("e")
    val inner = pdf.join(idf, cond).select("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inner == Set((1L, 3L), (2L, 5L)))
    // and the malformed interval stays invisible to outer/anti exactly as in
    // the naive join
    val anti = pdf.join(idf, cond, "left_anti").count()
    assert(anti == 0)
  }

  test("cloneWith arms the rule for one query without leaking to parent") {
    val parent = freshSession(width = 0L)
    def naiveJoin(s: SparkSession) = {
      import s.implicits._
      val pdf = (1 to 50).map(i => (i.toLong, i.toLong * 7 % 500)).toDF("pid", "p")
      val idf = (1 to 50).map(i => (i.toLong, i.toLong * 13 % 500, i.toLong * 13 % 500 + 20))
        .toDF("iid", "s", "e")
      pdf.join(idf, col("p") >= col("s") && col("p") <= col("e"))
    }
    val child = GraftBridge.cloneWith(parent, Map(IntervalBucketJoin.WidthKey -> "100"))
    val childPlan = naiveJoin(child).queryExecution.optimizedPlan.toString
    assert(childPlan.contains("__iv_bkt"), s"child session should apply the rule:\n$childPlan")
    assert(naiveJoin(child).count() == naiveJoin(parent).count())
    val parentPlan = naiveJoin(parent).queryExecution.optimizedPlan.toString
    assert(!parentPlan.contains("__iv_bkt"), "parent session must stay disarmed")
    assert(parent.conf.get(IntervalBucketJoin.WidthKey, "0") == "0")
  }

  test("date-typed intervals bucket on epoch days") {
    val s = freshSession(width = 25L) // 25-day buckets vs 20-day intervals
    import s.implicits._
    import java.time.LocalDate
    val base = LocalDate.of(2024, 1, 1)
    val pts = (0 until 200).map(i => (i.toLong, base.plusDays(i * 3 % 365)))
    val ivs = (0 until 100).map { i =>
      val st = base.plusDays(i * 7 % 350)
      (1000L + i, st, st.plusDays(20))
    }
    val pdf = pts.map { case (id, d) => (id, java.sql.Date.valueOf(d)) }.toDF("pid", "p")
    val idf = ivs.map { case (id, a, b) =>
      (id, java.sql.Date.valueOf(a), java.sql.Date.valueOf(b)) }.toDF("iid", "s", "e")
    val j = pdf.join(idf, col("p") >= col("s") && col("p") <= col("e"))
    assert(j.queryExecution.optimizedPlan.toString.contains("__iv_bkt"),
      "date range join should be rewritten")
    val got = j.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (pi, p) <- pts; (ii, a, b) <- ivs if !p.isBefore(a) && !p.isAfter(b)
    } yield (pi, ii)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("joins with an equi key are left untouched") {
    import spark.implicits._
    val pdf = Seq((1L, 10L, "k1"), (2L, 700L, "k2")).toDF("pid", "p", "pk")
    val idf = Seq((3L, 5L, 15L, "k1"), (4L, 5L, 900L, "k2")).toDF("iid", "s", "e", "ik")
    val j = pdf.join(idf, col("pk") === col("ik") &&
      col("p") >= col("s") && col("p") <= col("e"))
    assert(j.count() == 2)
    assert(!j.queryExecution.optimizedPlan.toString.contains("__iv_bkt"))
  }
}
