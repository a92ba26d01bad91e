package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Mergeable DETERMINISTIC quantile-histogram sketch — the third member of
  * the engine's mergeable-sketch family (HLL `plans/HllSketch.scala` for
  * distincts, CMS `TextAnalysis.cmsCountersFromSpine` for frequencies; this
  * one for quantiles).
  *
  * The state is a log-bucketed histogram (HdrHistogram / q-digest family):
  * a non-negative value is quantized to exact 1/10000 units through
  * DECIMAL(18,4) (the engine's standard exact-money path), then bucketed by
  * (decimal digit count, leading two digits). Properties:
  *
  *  - DETERMINISTIC: bucketing is integer/string arithmetic only (no
  *    transcendentals, no randomness), so the sketch is bit-identical in
  *    any engine — unlike KLL/t-digest, whose states are sampling-dependent
  *    — and the DuckDB oracle replays it EXACTLY.
  *  - BOUNDED STATE: values in [0, 10^14) land in < 1.3k distinct buckets
  *    regardless of row count — the agg state is KB-sized at any scale.
  *  - EXACTLY MERGEABLE: states union by bucket-wise count addition; a
  *    merge of daily states equals the one-pass sketch bit-for-bit (no
  *    error compounds on merge — the a4d HLL lifecycle, for quantiles).
  *  - BOUNDED RELATIVE ERROR: a bucket spans one step of the leading
  *    two-digit mantissa, so any quantile estimate brackets the exact
  *    value within ~10% relative error (exact containment [low, high)
  *    is asserted, not assumed, by the a18 verdict columns).
  *
  * This is the 100 TB percentile pattern: store per-day KB-sized histogram
  * states as a mart, answer any quantile over any date range by merging
  * states — never by re-scanning history. Exact counterpart: Percentiles
  * .disc (distinct-value-sized state); approximate engine built-in:
  * percentile_approx (opaque, non-replayable state — a17b).
  *
  * Reference semantics: `membership_stats.py` medians over daily batches.
  */
object QuantileSketch {

  /** Non-negative value → exact integer 1/10000 units (via DECIMAL, so both
    * engines agree bit-for-bit; NULL stays NULL). */
  def qunits(v: Column): Column =
    (v.cast(DecimalType(18, 4)) * lit(10000)).cast("long")

  def qunitsSql(e: String): String =
    s"CAST(CAST(($e) AS DECIMAL(18,4)) * 10000 AS BIGINT)"

  /** Bucket id of a qunits value: digits(q)*100 + leading-two-digits(q).
    * Monotone in q, so bucket order = value order. */
  def bucketId(q: Column): Column = {
    val s = q.cast("string")
    val d = length(s)
    val head = when(d >= 2, substring(s, 1, 2).cast("int")).otherwise(q.cast("int"))
    (d * 100 + head).cast("int")
  }

  def bucketIdSql(qe: String): String =
    s"""(length(CAST(($qe) AS VARCHAR)) * 100 +
       | CASE WHEN length(CAST(($qe) AS VARCHAR)) >= 2
       |      THEN CAST(substr(CAST(($qe) AS VARCHAR), 1, 2) AS INTEGER)
       |      ELSE CAST(($qe) AS INTEGER) END)""".stripMargin.replace("\n", " ")

  /** Inclusive lower bound of a bucket, in qunits. Pure string arithmetic
    * (head digits ++ zeros) — no pow(), so engines can't diverge. */
  def bucketLow(b: Column): Column = {
    val d = (b / 100).cast("int")
    val head = (b % 100).cast("int")
    when(d === 1, head.cast("long"))
      .otherwise(concat(head.cast("string"), repeatZeros(d - 2)).cast("long"))
  }

  /** Exclusive upper bound of a bucket, in qunits. */
  def bucketHigh(b: Column): Column = {
    val d = (b / 100).cast("int")
    val head = (b % 100).cast("int") + 1
    when(d === 1, head.cast("long"))
      .otherwise(concat(head.cast("string"), repeatZeros(d - 2)).cast("long"))
  }

  /** n zeros as a string, for non-literal n in [0, 17] (qunits has <= 19
    * digits). Column.substr with length 0 yields "" — no special case. */
  private def repeatZeros(n: Column): Column =
    lit("0" * 17).substr(lit(1), greatest(n, lit(0)))

  def bucketLowSql(be: String): String =
    s"""(CASE WHEN ($be) // 100 = 1 THEN CAST(($be) % 100 AS BIGINT)
       | ELSE CAST(CAST(($be) % 100 AS VARCHAR) || repeat('0', ($be) // 100 - 2) AS BIGINT) END)"""
      .stripMargin.replace("\n", " ")

  /** The sketch's value domain: [0, 10^14) — DECIMAL(18,4) holds 14 integer
    * digits, so a larger value would overflow the qunits cast (an error
    * under ANSI, a silently mis-sorted NULL bucket otherwise). The
    * histogram enforces it as a filter, mirrored in every oracle. */
  val MaxValue: Double = 1e14

  /** The SKETCH STATE: per-group bucket histogram (groupCols*, bucket, cnt).
    * One map-side-combinable aggregation; rows with NULL, negative, or
    * >= [[MaxValue]] values are excluded (the sketch domain is money-like
    * non-negatives). */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    df.filter(col(valueCol).isNotNull && col(valueCol) >= 0 &&
        col(valueCol) < MaxValue)
      .select(g :+ bucketId(qunits(col(valueCol))).as("bucket"): _*)
      .groupBy(g :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile rank-pick over a histogram state: for each requested
    * p = num/den, the first bucket whose cumulative count reaches
    * ceil(p·n), emitted as [<name>_low, <name>_high) double bounds (qunits
    * / 10000 — same integers, same IEEE division, both engines). The
    * cumulative window runs over the per-group BUCKET frame — bounded at
    * ~1.3k rows by construction, the t15 band-frame argument. */
  def quantiles(hist: DataFrame, groupCols: Seq[String],
      fracs: Seq[(String, Int, Int)]): DataFrame = {
    require(fracs.nonEmpty, "at least one quantile fraction required")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("bucket"))
    val cum = hist
      .withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("__n", sum(col("cnt")).over(Window.partitionBy(g: _*)))
    val ranked = fracs.foldLeft(cum) { case (acc, (nm, num, den)) =>
      acc.withColumn(s"__r_$nm", expr(s"(__n * $num + ${den - 1}) div $den"))
    }
    val aggs =
      max(col("__n")).as("n") +:
      count(lit(1)).as("n_buckets") +:
      fracs.flatMap { case (nm, _, _) =>
        val b = min(when(col("__cum") >= col(s"__r_$nm"), col("bucket")))
        Seq(b.as(s"${nm}_bucket"),
          (bucketLow(b).cast("double") / 10000).as(s"${nm}_low"),
          (bucketHigh(b).cast("double") / 10000).as(s"${nm}_high"))
      }
    ranked.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }
}
