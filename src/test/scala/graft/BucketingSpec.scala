package graft

import graft.core.{Session, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins (SURVEY.md §7 scale strategy): two tables
  * bucketed on the join key must sort-merge WITHOUT a shuffle — the layout
  * that amortizes one shuffle across every future join at warehouse scale. */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session(sf)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    s
  }

  private val sf = "/root/testdata/sf0.001"
  private val base = TestDirs("graft_bucketing_spec").toString

  test("joining two tables bucketed on the key needs no shuffle") {
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$base/orders").saveAsTable("bkt_orders")
    Tables.customer(spark, sf).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$base/customer").saveAsTable("bkt_customer")

    val bucketed = spark.table("bkt_orders")
      .join(spark.table("bkt_customer"), col("o_custkey") === col("c_custkey"))
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")

    val plain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
    assert(bucketed.count() == plain.count())
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At warehouse scale the size thresholds trigger naturally; here they
    // are scoped to zero to prove the engine's config leaves Spark's
    // runtime row-level filtering ON: the selective dim side publishes a
    // bloom filter that prunes lineitem rows BEFORE the shuffle.
    val s2 = org.apache.spark.sql.GraftBridge.cloneWith(spark, Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true"))
    val li = Tables.lineitem(s2, sf)
    val sel = Tables.orders(s2, sf).filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"))
    val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
      s"expected a runtime bloom filter in:\n$plan")
    // and it is semantics-preserving
    val expected = Tables.lineitem(spark, sf).join(
      Tables.orders(spark, sf).filter(col("o_totalprice") > 300000)
        .select(col("o_orderkey")),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expected)
  }
}
