package graft

import graft.pipeline.{Job, RefreshPipeline, Warehouse}
import graft.queries.{Aggregates, FlagQs, Registry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EP2 refresh semantics: splice replaces exactly the window, dedup is
  * idempotent, flag merge keeps newest and expires by TTL; and the tables
  * the refresh jobs write equal the oracle-gated queries they derive from. */
class RefreshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.data("sf0.001")

  /** Whether `a` and `b` hold the same rows, duplicates counted. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("refresh fails, naming the jobs, and writes nothing when a daily job it runs failed") {
    val wh = TestDirs("graft_refresh_fail").toString
    val daily = Seq(
      Job("combined_transactions", Nil, _ => throw new IllegalStateException("source down")),
      Job("customer_order_stats", Seq("combined_transactions"), _ => ()),
      Job("side", Nil, _ => ()))
    val rs = Warehouse.run(spark, RefreshPipeline.plan(sf, wh, daily), wh)
    val byName = rs.map(r => r.name -> r).toMap
    assert(byName("combined_transactions").status == "failed")
    assert(byName("combined_transactions").error
      .contains("java.lang.IllegalStateException: source down"), byName("combined_transactions"))
    assert(byName("customer_order_stats").status == "skipped")
    assert(byName("side").status == "ok")
    val refresh = RefreshPipeline.jobs(sf, wh).map(_.name)
    assert(rs.map(_.name) == daily.map(_.name) ++ refresh)
    assert(refresh.forall(byName(_).status == "skipped"), rs)
    assert(Warehouse.exitCode(rs) == 1)
    assert(new java.io.File(wh).list().isEmpty, "the refresh wrote over a partial warehouse")
  }

  test("the refresh jobs write k16's accepted rows, a1's order stats and u1c's merged flags") {
    val wh = TestDirs("graft_refresh_tables").toString
    val rs = Warehouse.run(spark, RefreshPipeline.jobs(sf, wh), wh)
    assert(rs.forall(_.status == "ok"), rs)
    def table(t: String) = spark.read.parquet(s"$wh/$t")
    assert(sameRows(table("embeddings_ingested"),
      Registry.named("k16_incremental_embed_dedup").run(spark, sf).filter(col("accepted"))))
    assert(sameRows(table("customer_order_stats"), Registry.named("a1_multi_agg").run(spark, sf)))
    // every flag of the refresh-clock run (u1c) survives; of the daily run's
    // flags, only persistent types the refresh run did not raise again
    val fresh = Registry.named("u1c_child_suppression").run(spark, sf)
    val kept = FlagQs.childFlagsAt(spark, sf, FlagQs.asOf1Us)
      .join(fresh, Seq("user_id", "flag_type"), "left_anti")
      .filter(col("flag_type").isin(graft.flags.FlagRules.persistentFlags: _*))
    val expected = fresh.withColumn("added_us", lit(FlagQs.asOfUs))
      .unionByName(kept.withColumn("added_us", lit(FlagQs.asOf1Us)))
    assert(sameRows(table("customer_flags_current"), expected))
    assert(table("events_current").count() > 0 && table("documents_ingested").count() > 0)
  }

  test("a refresh job that throws fails alone: the independent jobs still write") {
    val wh = TestDirs("graft_refresh_job_fail").toString
    val jobs = RefreshPipeline.jobs(sf, wh).map(j =>
      if (j.name != "customer_flags_current") j
      else j.copy(run = _ => throw new IllegalStateException("flag source down")))
    val byName = Warehouse.run(spark, jobs, wh).map(r => r.name -> r).toMap
    assert(byName("customer_flags_current").status == "failed")
    assert(byName("customer_flags_current").error.exists(_.contains("flag source down")))
    assert(byName("compact_refreshed").status == "skipped") // compacts the flags table
    val independent = Seq("events_current", "documents_ingested", "embeddings_ingested",
      "incremental_order_stats")
    assert(independent.forall(byName(_).status == "ok"), byName)
    for (t <- Seq("events_current", "documents_ingested", "embeddings_ingested",
        "customer_order_stats"))
      assert(spark.read.parquet(s"$wh/$t").count() > 0, t)
    assert(!new java.io.File(s"$wh/customer_flags_current").exists())
    assert(Warehouse.exitCode(byName.values.toSeq) == 1)
  }

  test("splice keeps outside rows and replaces the window from fresh") {
    val stored = Seq(
      (1L, "2024-01-10 00:00:00", "old"), (2L, "2024-01-25 00:00:00", "stale"),
      (3L, "2024-02-02 00:00:00", "old")
    ).toDF("id", "ts", "src").withColumn("ts", col("ts").cast("timestamp"))
    val fresh = Seq(
      (2L, "2024-01-25 00:00:00", "fixed"), (4L, "2024-01-28 00:00:00", "new"),
      (5L, "2024-02-03 00:00:00", "out_of_window")
    ).toDF("id", "ts", "src").withColumn("ts", col("ts").cast("timestamp"))
    val out = RefreshPipeline.splice(stored, fresh, "ts", "2024-01-24", "2024-01-31")
      .select("id", "src").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "old"), (3L, "old"), (2L, "fixed"), (4L, "new")))
  }

  test("dedupKeepFirst keeps the earliest row per key and is idempotent") {
    val df = Seq(
      (1L, 10L, 100L, "a"), (1L, 5L, 200L, "b"), (1L, 5L, 150L, "c"),
      (2L, 7L, 300L, "d")
    ).toDF("key", "t", "tie", "v")
    val once = RefreshPipeline.dedupKeepFirst(df, "key", "t", "tie")
    val twice = RefreshPipeline.dedupKeepFirst(once, "key", "t", "tie")
    val got = twice.select("key", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "c"), (2L, "d")))
  }

  test("acceptNonDup rejects corpus dups (any length) and intra-batch dups") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "the quick brown fox jumps over"),
      (3L, "hi there") // shorter than the shingle width
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1 -> rejected
      (11L, "completely different words appearing here now"), // novel -> kept
      (12L, "hi there"), // exact dup of 3, too short to shingle -> still rejected
      (13L, "another novel doc with plenty of words"), // novel, duplicated in-batch
      (14L, "another novel doc with plenty of words")  // -> only min id 13 kept
    ).toDF("doc_id", "text")
    val got = RefreshPipeline.acceptNonDup(delta, corpus, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 13L))
  }

  test("mergeOrderStats(state, delta-agg) equals the full rebuild bit-for-bit") {
    def statsOver(pred: org.apache.spark.sql.Column) =
      Aggregates.orderStats(graft.core.Tables.orders(spark, sf).filter(pred))
    // arbitrary split: the merge must not care where yesterday ended
    for (m <- Seq(2, 7)) {
      val merged = RefreshPipeline.mergeOrderStats(
          statsOver(col("o_orderkey") % m =!= 0),
          statsOver(col("o_orderkey") % m === 0))
        .collect().map(_.toSeq).toSet
      val full = statsOver(lit(true)).collect().map(_.toSeq).toSet
      assert(merged == full, s"split % $m diverged") // incl. exact doubles
    }
    // a key seen only in the delta appears; a key only in state survives
    val tiny = RefreshPipeline.mergeOrderStats(
      Seq((1L, 2L, java.sql.Date.valueOf("2024-01-01"),
        java.sql.Date.valueOf("2024-01-05"), 10.5))
        .toDF("o_custkey", "n_orders", "first_order", "last_order", "lifetime_value"),
      Seq((2L, 1L, java.sql.Date.valueOf("2024-02-01"),
        java.sql.Date.valueOf("2024-02-01"), 3.25))
        .toDF("o_custkey", "n_orders", "first_order", "last_order", "lifetime_value"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tiny == Map(1L -> 2L, 2L -> 1L))
  }

  test("mergeFlags keeps newest per (user, type), TTL-expires, persists carve-outs") {
    val day = 86400000000L
    val asOf = 100L * day
    val stored = Seq(
      (1L, "power_user", "old", asOf - 20 * day),   // superseded by fresh
      (2L, "big_spender", "lapsed", asOf - 20 * day), // expired (no refresh)
      (3L, "error_prone", "sticky", asOf - 40 * day)  // persistent carve-out
    ).toDF("user_id", "flag_type", "flag_data", "added_us")
    val fresh = Seq(
      (1L, "power_user", "new", asOf)
    ).toDF("user_id", "flag_type", "flag_data", "added_us")
    val out = FlagQs.mergeFlags(stored, fresh, asOf, 14 * day, Seq("error_prone"))
      .select("user_id", "flag_type", "flag_data").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, "power_user", "new"),
      (3L, "error_prone", "sticky")))
  }
}
