package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators (SURVEY.md §2.3 J4/J5/J6/J9).
  *
  * The reference implements each of these as nested Python loops over pandas
  * rows; here each is an equi-join on a blocking key with a range residual, so
  * Spark plans a shuffled hash / sort-merge join on the equi part and evaluates
  * the range predicate as a residual filter — never a cartesian product. The
  * blocking key is the difference between "works on 60k rows" and "works on
  * 100 TB": tolerance-sized time buckets bound every candidate set.
  *
  * Callers pass column NAMES and must ensure the two sides have disjoint
  * column names (rename before calling) — self-joins on a shared lineage
  * otherwise make `df("col")` ambiguous.
  */
object TimeJoins {

  /** J5: as-of join — for each left row, the single latest right row (same key)
    * with right time <= left time (`direction = "backward"`), or the earliest
    * right row strictly after (`"forward"`). Deterministic via `rightTiebreak`.
    * Reference: first-membership-after-pass `pipeline_handler.py:528-556`.
    *
    * Equi-join on the key + range residual + row_number dedup: Catalyst plans
    * the equi part as a normal shuffled join; the window dedup reuses the same
    * hash partitioning (no extra shuffle when keyed by a left-side id).
    */
  def asOf(left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
      leftTime: String, rightTime: String, rightTiebreak: String,
      leftId: String, direction: String = "backward", how: String = "inner"): DataFrame = {
    val range = if (direction == "backward") col(rightTime) <= col(leftTime)
                else col(rightTime) > col(leftTime)
    val joined = left.join(right, col(leftKey) === col(rightKey) && range, how)
    val ord = if (direction == "backward") Seq(col(rightTime).desc_nulls_last, col(rightTiebreak).asc_nulls_last)
              else Seq(col(rightTime).asc_nulls_last, col(rightTiebreak).asc_nulls_last)
    val w = Window.partitionBy(col(leftId)).orderBy(ord: _*)
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** J6: time-proximity self-join — unordered pairs of rows within
    * `toleranceUs` micros of each other, equal on `blockKeys`, oriented so
    * `id_a < id_b`.
    *
    * Scale strategy: bucket time by the tolerance (`t div toleranceUs`); any
    * qualifying pair is in the same or adjacent buckets, so two equi-joins on
    * (blockKeys, bucket) and (blockKeys, bucket+1) with the |Δt| residual cover
    * exactly the answer with candidate sets bounded by bucket occupancy — the
    * same group-by-date blocking the reference hand-rolls in
    * `build_family_relationships.py:403-416`, generalized.
    *
    * Output: blockKeys, `id_a`, `id_b`, `us_a`, `us_b`.
    */
  def proximityPairs(df: DataFrame, blockKeys: Seq[String], usecsCol: String,
      idCol: String, toleranceUs: Long): DataFrame = {
    val base = df.select((blockKeys :+ usecsCol :+ idCol).map(col): _*)
      .withColumn("__bkt", expr(s"$usecsCol div $toleranceUs"))
    def side(sfx: String) = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, c + sfx))
    val a = side("_a")
    val b = side("_b")
    val keyEq = blockKeys.map(k => col(s"${k}_a") === col(s"${k}_b")).reduceOption(_ && _)
    val residual = abs(col(s"${usecsCol}_a") - col(s"${usecsCol}_b")) <= toleranceUs
    def withKeys(c: Column) = keyEq.map(_ && c).getOrElse(c)

    val same = a.join(b, withKeys(col("__bkt_a") === col("__bkt_b") &&
        col(s"${idCol}_a") < col(s"${idCol}_b") && residual))
      .select(blockKeys.map(k => col(s"${k}_a").as(k)) ++ Seq(
        col(s"${idCol}_a").as("id_a"), col(s"${idCol}_b").as("id_b"),
        col(s"${usecsCol}_a").as("us_a"), col(s"${usecsCol}_b").as("us_b")): _*)

    val adjacent = a.join(b, withKeys(col("__bkt_a") + 1 === col("__bkt_b") && residual))
      .select(blockKeys.map(k => col(s"${k}_a").as(k)) ++ Seq(
        least(col(s"${idCol}_a"), col(s"${idCol}_b")).as("id_a"),
        greatest(col(s"${idCol}_a"), col(s"${idCol}_b")).as("id_b"),
        when(col(s"${idCol}_a") < col(s"${idCol}_b"), col(s"${usecsCol}_a"))
          .otherwise(col(s"${usecsCol}_b")).as("us_a"),
        when(col(s"${idCol}_a") < col(s"${idCol}_b"), col(s"${usecsCol}_b"))
          .otherwise(col(s"${usecsCol}_a")).as("us_b")): _*)

    same.unionByName(adjacent)
  }

  /** J9: amount+date-proximity join — match each probe (e.g. refund) to
    * candidate rows of the same key and same rounded amount within
    * `lookbackUs` micros BEFORE (or at) the probe; keep the latest candidate,
    * tie-broken deterministically. The rounded amount joins as an equi key, so
    * the plan is a hash join however large both sides are.
    * Reference: refund→charge linking `link_refunds_to_categories.py:74-150`. */
  def amountDateMatch(probes: DataFrame, candidates: DataFrame,
      probeKey: String, candKey: String, probeAmount: String, candAmount: String,
      probeUs: String, candUs: String, probeId: String, candTiebreak: String,
      lookbackUs: Long): DataFrame = {
    val joined = probes.join(candidates,
      col(probeKey) === col(candKey) &&
        round(col(probeAmount), 0) === round(col(candAmount), 0) &&
        col(candUs) <= col(probeUs) && col(candUs) >= col(probeUs) - lookbackUs)
    val w = Window.partitionBy(col(probeId)).orderBy(col(candUs).desc, col(candTiebreak).asc)
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}
