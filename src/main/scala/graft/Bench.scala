package graft

import graft.core.Session
import graft.queries.{Q, Registry}
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times the headline (`bench = true`) queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  * `SPARK_GRAFT_BENCH_ALL=1` times every registry query instead. A query
  * that throws makes the run exit 1 with no JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(sfDir)

    val base = if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) Registry.all
               else Registry.all.filter(_.bench)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 — targeted probe (same contract as
    // Verify's SPARK_GRAFT_ONLY); names not in the registry are ignored.
    val qs = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val want = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
        Registry.all.filter(q => want(q.name))
      case None => base
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val code = run(spark, sfDir, qs, reps, println)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Thrown for the first query that fails; carries its name. */
  private final class QueryFailed(query: String, cause: Throwable)
      extends RuntimeException(s"query $query failed: $cause", cause)

  /** Warms up on the first query, times `reps` rounds of `qs`, and passes
    * the one JSON line to `emit`; each query's median and output row count
    * go to stderr, one `[bench]` line per query (a time alone can hide an
    * output that silently collapsed). Returns 0, or 1 when a query throws, in
    * the warm-up or in a timed round: then no time is recorded and nothing is
    * emitted, so a broken query can never lower the total. */
  def run(spark: SparkSession, sfDir: String, qs: Seq[Q], reps: Int,
      emit: String => Unit): Int = {
    val rows = Array.fill(qs.length)(0L)
    def once(q: Q, i: Int): Double = {
      val t0 = System.nanoTime()
      try rows(i) = q.run(spark, sfDir).count()
      catch { case e: Throwable => throw new QueryFailed(q.name, e) }
      (System.nanoTime() - t0) / 1e9
    }
    try {
      // Warm the JVM/codegen paths once so the first timed query isn't charged
      // for classloading (headline queries should measure the plan, not sbt).
      qs.headOption.foreach(once(_, 0))

      // Median of N runs per query (single-shot readings swing ±30% with host
      // co-tenant load — medians are the only comparable round-over-round
      // number). Rounds interleave (run 0 of every query, then run 1, ...) so
      // a transient load spike taxes all queries, not one.
      // (5 default: 3-rep medians still drifted ~30% under sustained co-tenant
      // load in round-4 measurements; 5 tightens the median at ~30s extra)
      val times = Array.fill(qs.length, reps)(0.0)
      for (r <- 0 until reps; (q, i) <- qs.zipWithIndex) times(i)(r) = once(q, i)
      def median(xs: Array[Double]): Double = {
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      }
      val results = qs.zipWithIndex.map { case (q, i) => q.name -> median(times(i)) }
      results.zip(rows).foreach { case ((name, t), n) =>
        System.err.println(f"[bench] $name median_s=$t%.3f rows=$n") }
      val qjson = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val total = results.map(_._2).sum
      emit(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,"sf":"$sfDir","reps":$reps}""")
      0
    } catch {
      case f: QueryFailed =>
        System.err.println(s"[bench] ${f.getMessage}; no time recorded")
        1
    }
  }
}
