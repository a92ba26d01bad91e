package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function helpers (SURVEY.md §2.5 W1-W7).
  *
  * The reference hand-rolls every window with per-row loops and dicts
  * (`/root/reference/data_pipeline/build_conversion_rate_analysis.py:203-218`,
  * `build_day_pass_engagement_table.py:105-121`); these re-express them as
  * Spark window specs. All of them shuffle once on the partition key and sort
  * within partitions — O(n log n) per key group, no driver-side state, which is
  * what makes them survive a 100 TB input where the reference's dict-counter
  * approach cannot.
  */
object Windows {

  /** W1: all-time ordinal of each row per key, ordered by (time, tiebreak).
    * Reference: running dict counter `build_conversion_rate_analysis.py:203-207`. */
  def sequenceNumber(df: DataFrame, key: Column, time: Column, tiebreak: Column,
      as: String = "seq_no"): DataFrame =
    df.withColumn(as, row_number().over(Window.partitionBy(key).orderBy(time, tiebreak)))

  /** W2: rolling count over a trailing range window of `windowSecs` seconds
    * (inclusive of current row), on an epoch-seconds column.
    * Reference: per-customer list scan `build_conversion_rate_analysis.py:209-218`. */
  def rollingCount(df: DataFrame, key: Column, epochSecs: Column, windowSecs: Long,
      as: String = "rolling_n"): DataFrame = {
    val w = Window.partitionBy(key).orderBy(epochSecs)
      .rangeBetween(-windowSecs, Window.currentRow)
    df.withColumn(as, count(lit(1)).over(w))
  }

  /** W5: keep the single best row per key group, ranked by `pref` descending
    * (deterministic via `tiebreak`).
    * Reference: sort + drop_duplicates `build_family_relationships.py:455-462`. */
  def keepBest(df: DataFrame, keys: Seq[Column], pref: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(pref.desc, tiebreak)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W6: deterministic top-k of the whole frame by `rank` desc (ties broken
    * by `tiebreak`, so the result is total-ordered and engine-portable).
    *
    * `orderBy.limit(k)` compiles to TakeOrderedAndProject: each partition
    * keeps a local k-row heap and only those k-row heads merge — no
    * stage ever holds more than k rows per task. A global
    * `row_number().over(Window.orderBy(...))` computes the same rows but
    * shuffles the ENTIRE frame into one partition first, which is the plan
    * that dies at 100 TB. */
  def topK(df: DataFrame, k: Int, rank: Column, tiebreak: Column): DataFrame =
    df.orderBy(rank.desc, tiebreak).limit(k)

  /** W8: gap-based sessionization — consecutive rows per key share a session
    * while the step on `axis` is <= maxGap; `as` is the 1-based session
    * ordinal per key in (axis, tiebreak) order.
    *
    * One shuffle on the key and one sort serve both window passes (the lag
    * and the running sum share the partitioning+ordering, so Catalyst plans
    * a single exchange+sort); per-row state is just the lag row — the shape
    * that survives 100 TB, unlike the reference's per-customer dict loops.
    * The running sum uses an explicit ROWS frame: the default RANGE frame
    * would give tied axis values identical partial sums even under the total
    * (axis, tiebreak) order. Streaming equivalent: `session_window` —
    * boundary nuance: this op keeps `step == maxGap` in-session, while
    * session_window's half-open [start, last+gap) makes it a new session;
    * pass `maxGap = gap - 1` to reproduce session_window exactly. */
  def sessionize(df: DataFrame, key: Column, axis: Column, tiebreak: Column,
      maxGap: Long, as: String = "session_no"): DataFrame = {
    val w = Window.partitionBy(key).orderBy(axis, tiebreak)
    df.withColumn("__new_sess",
        when(axis - lag(axis, 1).over(w) > maxGap, 1).otherwise(0))
      .withColumn(as,
        sum(col("__new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1)
      .drop("__new_sess")
  }

  /** Interval coalescing (gaps-and-islands over [start, end] validity
    * intervals, inclusive bounds): merge every overlapping-or-touching run
    * of intervals per key into one "island" row — the membership-coverage
    * primitive (a customer's overlapping membership spells collapse to
    * continuous covered spans; tenure and lapse counts fall out).
    * Reference shape: the `[start_date, end_date]` membership intervals of
    * `fetch_capitan_membership_data.py:299-312` that the dashboard's daily
    * loop re-scans per day — coalescing once replaces the per-day scan.
    *
    * An interval joins the current island iff its start <= the running max
    * end of all earlier intervals (in (start, end, tiebreak) order); islands
    * are numbered 1..n per key. Emits one row per island: key, `island_no`,
    * `island_start` = min(start), `island_end` = max(end) (the running-max
    * fixpoint), `n_intervals`.
    *
    * Shape: one shuffle on the key; two window passes (running max + island
    * sum) and the final agg all share the key partitioning. Works for any
    * orderable axis type (dates here; epoch longs for time-of-day). */
  def intervalIslands(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol), col(tiebreakCol))
    val runMaxPrev = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("__new_isl",
        when(runMaxPrev.isNull || col(startCol) > runMaxPrev, 1).otherwise(0))
      .withColumn("island_no",
        sum(col("__new_isl"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col(keyCol), col("island_no"))
      .agg(min(col(startCol)).as("island_start"),
        max(col(endCol)).as("island_end"),
        count(lit(1)).as("n_intervals"))
  }

  /** W10: SCD type-2 history — collapse consecutive equal values of `attr`
    * per key (in (axis, tiebreak) order) into versioned validity intervals.
    * Adds `version` (1-based per key) and `valid_to` (the next version's
    * axis value; NULL on the open current version); `axis` itself is the
    * interval's valid-from.
    *
    * Change detection is one lag pass; the filter then reduces the frame to
    * change rows only, so the version numbering and interval chaining
    * windows run over the (much smaller) version frame. All three passes
    * share the key partitioning — one shuffle of the input, and nothing
    * per-key beyond the sort. The comparison is null-safe: runs of NULL
    * attr values collapse like any other run. */
  def scd2(df: DataFrame, keyCol: String, axisCol: String, tiebreakCol: String,
      attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(axisCol), col(tiebreakCol))
    // A NULL attr on the key's first row must still open version 1, and
    // lag(attr) can't tell "no previous row" from "previous attr was NULL" —
    // so presence is lagged separately via a non-null constant.
    df.withColumn("__prev", lag(col(attrCol), 1).over(w))
      .withColumn("__has_prev", lag(lit(1), 1).over(w))
      .filter(col("__has_prev").isNull || !(col("__prev") <=> col(attrCol)))
      .drop("__prev", "__has_prev")
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col(axisCol), 1).over(w))
  }

  /** First-touch multi-step FUNNEL at the key grain (the product-analytics
    * readout): anchor at the key's FIRST `steps(0)` event, then for each
    * subsequent step take the first qualifying event STRICTLY LATER than
    * the previous step's pick and within `windowUs` of it. One row per key
    * that reached step 1, with t1..tk (epoch-micros longs, NULL from the
    * first missed step on) and `steps_completed`.
    *
    * Shape: each step is a filter on `typeCol` (pushable to the scan when
    * `ev` is a bare projection) + one min-aggregation joined on the key —
    * k pruned scans and k hash-partitioned aggs, no windows, nothing
    * per-key beyond the min. First-touch semantics are the standard funnel
    * definition (and the determinism anchor): a later step-1 event that
    * would have completed a chain does NOT re-anchor the funnel. */
  def funnel(ev: DataFrame, keyCol: String, typeCol: String, usCol: String,
      steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowUs > 0, "windowUs must be positive")
    def step(t: String) = ev.filter(col(typeCol) === t)
      .select(col(keyCol), col(usCol))
    val s1 = step(steps.head).groupBy(col(keyCol))
      .agg(min(col(usCol)).as("t1"))
    val stepFrames = steps.tail.zipWithIndex.scanLeft(s1) {
      case (prev, (t, i)) =>
        val pt = s"t${i + 1}"
        step(t).join(prev.select(col(keyCol), col(pt)), Seq(keyCol))
          .filter(col(usCol) > col(pt) && col(usCol) <= col(pt) + windowUs)
          .groupBy(col(keyCol)).agg(min(col(usCol)).as(s"t${i + 2}"))
    }
    val joined = stepFrames.tail.zipWithIndex.foldLeft(stepFrames.head) {
      case (acc, (f, i)) => acc.join(f.select(col(keyCol), col(s"t${i + 2}")),
        Seq(keyCol), "left")
    }
    val completed = (2 to steps.size).map(i =>
      when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    joined.withColumn("steps_completed", completed)
  }
}
