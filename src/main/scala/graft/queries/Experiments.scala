package graft.queries

import graft.core.Tables
import graft.ops.{Normalize, Windows}
import graft.plans.AsOfJoinPlan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** AB1 — experiment results: the A/B-test readout the reference builds from
  * its experiment-entry log.
  *
  * Reference: `experiment_tracking.py:15-213` — `log_experiment_entry`
  * appends (customer, experiment, group, entry_flag, entry_date) rows each
  * pipeline run, silently skipping customers already entered (`:88-96`);
  * `get_experiment_stats` (`:182-213`) reports per-group counts, and
  * `audit_ab_test_system.py:1-539` reads the group comparison (N entered,
  * converters, rate per group).
  *
  * Re-expressed as one declared plan over the event ledger:
  *
  *  - ENTRY: a customer enters an experiment when its entry flag fires for
  *    them on a pipeline run — here the u1 rules engine evaluated at two
  *    run clocks (2024-01-10, 2024-01-20), i.e. two entry cohorts. The
  *    un-gated flags serve as entry triggers (`returning_offer_2wk` embeds
  *    its own A-half hash gate, so it is the treatment arm of cv1, not an
  *    entry trigger): `inactive_24h` → winback, `active_member` → member
  *    retention.
  *  - DEDUP: first-entry-wins per (customer, experiment) — the reference's
  *    duplicate-entry skip — as a min-over-clocks aggregate, not a scan of
  *    an accumulating CSV.
  *  - GROUP: the m5 md5 split on the customer id (`customer_flags_config
  *    .py:58-132`'s deterministic assignment), A = buckets 0–4.
  *  - CONVERSION: first 'purchase' strictly after the entry clock, via the
  *    native forward as-of join (entry clocks differ per cohort, so this
  *    is a genuine as-of merge, not a constant filter); 7-day window +
  *    ever, rate per group, mean days-to-conversion over converters.
  *
  * Scale shape: each flag evaluation is one aggregate pass over events;
  * entries shuffle once on the customer key, the as-of merge and the final
  * rollup ride the same partitioning; output is experiments × groups — a
  * handful of rows regardless of corpus size. No driver state, no
  * accumulating file.
  */
object Experiments {

  private val DayUs = 86400000000L

  /** The two pipeline-run clocks that log entry cohorts. */
  private val entryClocks = Seq(
    1704844800000000L, // 2024-01-10T00:00:00Z
    1705708800000000L) // 2024-01-20T00:00:00Z

  private val entryFlags = Seq("inactive_24h", "active_member")

  private def experimentOf(flag: org.apache.spark.sql.Column) =
    when(flag === "inactive_24h", "winback_2024_01")
      .otherwise("member_retention_2024_01")

  /** The deduped entry ledger: (user_id, entry_flag, entry_us,
    * experiment_id, ab_group). */
  private[queries] def entries(s: SparkSession, d: String): DataFrame = {
    val perClock = entryClocks.map { c =>
      FlagQs.flagsAt(s, d, c)
        .filter(col("flag_type").isin(entryFlags: _*))
        .select(col("user_id"), col("flag_type").as("entry_flag"),
          lit(c).as("entry_us"))
    }
    perClock.reduce(_ unionByName _)
      .groupBy(col("user_id"), col("entry_flag"))
      .agg(min(col("entry_us")).as("entry_us"))
      .withColumn("experiment_id", experimentOf(col("entry_flag")))
      .withColumn("ab_group",
        when(Normalize.abGroup(col("user_id").cast("string")) <= 4, "A")
          .otherwise("B"))
  }

  /** Oracle-side CTE chain (`co0…coN, uni, e`) mirroring [[entries]] —
    * shared by the ab1/ab2/ab3 oracles so the ledger has ONE SQL spelling. */
  private def entriesCtes: String = {
    val ab = Normalize.abGroupSql("CAST(user_id AS VARCHAR)")
    val flagsIn = entryFlags.map(f => s"'$f'").mkString(", ")
    val cohorts = entryClocks.zipWithIndex.map { case (c, i) =>
      s"""co$i AS (
         |  SELECT user_id, flag_type AS entry_flag,
         |    CAST($c AS BIGINT) AS entry_us
         |  FROM (${FlagQs.flagsSql(c)})
         |  WHERE flag_type IN ($flagsIn))""".stripMargin
    }.mkString(",\n")
    val uni = entryClocks.indices.map(i => s"SELECT * FROM co$i")
      .mkString("\nUNION ALL\n")
    s"""$cohorts,
       |uni AS ($uni),
       |e AS MATERIALIZED (
       |  SELECT user_id, entry_flag, MIN(entry_us) AS entry_us,
       |    CASE WHEN entry_flag = 'inactive_24h' THEN 'winback_2024_01'
       |      ELSE 'member_retention_2024_01' END AS experiment_id,
       |    CASE WHEN $ab <= 4 THEN 'A' ELSE 'B' END AS ab_group
       |  FROM uni GROUP BY user_id, entry_flag)""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("ab1_experiment_results",
      (s, d) => {
        val e = entries(s, d)
        val purchases = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), Q.usecs(col("ts")).as("p_us"),
            col("event_id").as("p_id"))
        val j = AsOfJoinPlan.asOfForward(e, purchases,
          "user_id", "entry_us", "p_user", "p_us", "p_id", outer = true)
        val dDays = ((col("p_us") - col("entry_us")) / lit(DayUs)).cast("long")
        j.groupBy(col("experiment_id"), col("ab_group"), col("entry_flag"))
          .agg(
            count(lit(1)).as("n_entered"),
            sum(when(col("p_us").isNotNull && dDays <= 7, 1L).otherwise(0L))
              .as("n_converted_7d"),
            sum(when(col("p_us").isNotNull, 1L).otherwise(0L))
              .as("n_converted_ever"),
            // decimal SUM (order-independent), DOUBLE division at the end —
            // decimal division scale/rounding is engine-specific (the k2b
            // lesson), so the divide stays out of decimal here
            (sum(when(col("p_us").isNotNull, dDays).cast(DecimalType(18, 4)))
              .cast("double") /
              count(when(col("p_us").isNotNull, dDays)))
              .as("avg_days_to_conversion"))
          .withColumn("conversion_rate_7d",
            round(col("n_converted_7d").cast("double") * 100.0 /
              col("n_entered").cast("double"), 2))
          .select(col("experiment_id"), col("ab_group"), col("entry_flag"),
            col("n_entered"), col("n_converted_7d"), col("n_converted_ever"),
            col("conversion_rate_7d"), col("avg_days_to_conversion"))
      },
      Some {
        s"""WITH $entriesCtes,
           |c AS (
           |  SELECT * FROM (
           |    SELECT e.*, p.p_us FROM e
           |    LEFT JOIN (SELECT user_id AS p_user, epoch_us(ts) AS p_us,
           |                 event_id AS p_id
           |               FROM events WHERE event_type = 'purchase') p
           |      ON e.user_id = p.p_user AND p.p_us > e.entry_us
           |    QUALIFY row_number() OVER (PARTITION BY e.user_id, e.entry_flag
           |      ORDER BY p.p_us, p.p_id) = 1))
           |SELECT experiment_id, ab_group, entry_flag,
           |  CAST(COUNT(*) AS BIGINT) AS n_entered,
           |  CAST(COUNT(*) FILTER (WHERE p_us IS NOT NULL
           |    AND (p_us - entry_us) // $DayUs <= 7) AS BIGINT) AS n_converted_7d,
           |  CAST(COUNT(*) FILTER (WHERE p_us IS NOT NULL) AS BIGINT)
           |    AS n_converted_ever,
           |  round(COUNT(*) FILTER (WHERE p_us IS NOT NULL
           |      AND (p_us - entry_us) // $DayUs <= 7) * 100.0 / COUNT(*), 2)
           |    AS conversion_rate_7d,
           |  CAST(SUM(CAST((CASE WHEN p_us IS NOT NULL
           |      THEN (p_us - entry_us) // $DayUs END) AS DECIMAL(18,4))) AS DOUBLE)
           |    / COUNT(CASE WHEN p_us IS NOT NULL
           |      THEN (p_us - entry_us) // $DayUs END)
           |    AS avg_days_to_conversion
           |FROM c GROUP BY 1, 2, 3""".stripMargin
      }),

    // AB2: the experiment-entry LEDGER itself — the reference's accumulating
    // `customer_experiment_entries.csv` (`experiment_tracking.py:15-103`:
    // per-run appends with a silent duplicate-entry skip at the
    // (customer, experiment) grain, `:86-96`, plus the last-digit audit
    // column, `:37-43`). Re-expressed as the o3 append+dedup shape: the two
    // run-clock cohorts union (the appends), first-entry-wins min-aggregate
    // (the skip), with the reference's exact ledger columns. ab1/ab3 are
    // analyses OVER this ledger — one definition, no drift.
    Q("ab2_entry_ledger",
      (s, d) => entries(s, d).select(
        col("user_id").as("customer_id"),
        col("experiment_id"),
        date_format(timestamp_micros(col("entry_us")), "yyyy-MM-dd")
          .as("entry_date"),
        col("ab_group"),
        (col("user_id") % 10).as("customer_id_last_digit"),
        col("entry_flag")),
      Some(s"""WITH $entriesCtes
              |SELECT user_id AS customer_id, experiment_id,
              |  strftime(make_timestamp(entry_us), '%Y-%m-%d') AS entry_date,
              |  ab_group,
              |  user_id % 10 AS customer_id_last_digit,
              |  entry_flag
              |FROM e""".stripMargin)),

    // AB3: per-experiment journey progress — the reference's funnel readout
    // over entered customers (`experiment_tracking.py:182-213` reports
    // per-group entry stats; `audit_ab_test_system.py` walks each entrant's
    // journey). Each entrant's post-entry view→click→purchase chain is the
    // w13 first-touch funnel ANCHORED AT THE ENTRY CLOCK (entry times
    // differ per cohort, so the anchor is a join, not a constant filter),
    // keyed on the (customer, experiment, group) struct — a user in two
    // experiments walks two independent journeys. Rollup: entrants and
    // stage-reach counts per experiment × group, with the exact milli-pct
    // finisher. Scale: the entry ledger and the event stream hash-partition
    // once on the user key; every funnel stage is a min-agg on that key;
    // output is experiments × groups rows.
    Q("ab3_experiment_journeys",
      (s, d) => {
        val e = entries(s, d)
        val ev = Tables.events(s, d).select(col("user_id"),
          col("event_type"), Q.usecs(col("ts")).as("us"))
        val post = ev.join(
          e.select(col("user_id"), col("experiment_id"), col("ab_group"),
            col("entry_us")), Seq("user_id"))
          .filter(col("us") > col("entry_us"))
          .select(struct(col("user_id"), col("experiment_id"),
            col("ab_group")).as("k"), col("event_type"), col("us"))
        val fn = Windows.funnel(post, "k", "event_type", "us",
          Seq("view", "click", "purchase"), windowUs = 7L * DayUs)
        val reach = fn.groupBy(col("k.experiment_id").as("experiment_id"),
            col("k.ab_group").as("ab_group"))
          .agg(count(lit(1)).as("n_reached_view"),
            sum(when(col("t2").isNotNull, 1L).otherwise(0L))
              .as("n_reached_click"),
            sum(when(col("t3").isNotNull, 1L).otherwise(0L))
              .as("n_reached_purchase"))
        e.groupBy(col("experiment_id"), col("ab_group"))
          .agg(count(lit(1)).as("n_entered"))
          .join(reach, Seq("experiment_id", "ab_group"), "left")
          .select(col("experiment_id"), col("ab_group"), col("n_entered"),
            coalesce(col("n_reached_view"), lit(0L)).as("n_reached_view"),
            coalesce(col("n_reached_click"), lit(0L)).as("n_reached_click"),
            coalesce(col("n_reached_purchase"), lit(0L))
              .as("n_reached_purchase"))
          .withColumn("purchase_pct_milli",
            expr("n_reached_purchase * 100000 div n_entered"))
      },
      Some {
        val w = 7L * DayUs
        s"""WITH $entriesCtes,
           |ev AS (SELECT user_id, event_type, ${Q.usecsSql("ts")} AS us
           |       FROM events),
           |j AS MATERIALIZED (
           |  SELECT e.user_id, e.experiment_id, e.ab_group,
           |    ev.event_type, ev.us
           |  FROM e JOIN ev USING (user_id) WHERE ev.us > e.entry_us),
           |s1 AS MATERIALIZED (SELECT user_id, experiment_id, ab_group, MIN(us) AS t1
           |  FROM j WHERE event_type = 'view' GROUP BY 1, 2, 3),
           |s2 AS MATERIALIZED (SELECT j.user_id, j.experiment_id, j.ab_group,
           |    MIN(us) AS t2
           |  FROM j JOIN s1 USING (user_id, experiment_id, ab_group)
           |  WHERE event_type = 'click' AND us > t1 AND us <= t1 + $w
           |  GROUP BY 1, 2, 3),
           |s3 AS (SELECT j.user_id, j.experiment_id, j.ab_group,
           |    MIN(us) AS t3
           |  FROM j JOIN s2 USING (user_id, experiment_id, ab_group)
           |  WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + $w
           |  GROUP BY 1, 2, 3),
           |fr AS (
           |  SELECT s1.experiment_id, s1.ab_group,
           |    CAST(COUNT(*) AS BIGINT) AS n_reached_view,
           |    CAST(COUNT(t2) AS BIGINT) AS n_reached_click,
           |    CAST(COUNT(t3) AS BIGINT) AS n_reached_purchase
           |  FROM s1
           |  LEFT JOIN s2 USING (user_id, experiment_id, ab_group)
           |  LEFT JOIN s3 USING (user_id, experiment_id, ab_group)
           |  GROUP BY 1, 2),
           |en AS (SELECT experiment_id, ab_group,
           |    CAST(COUNT(*) AS BIGINT) AS n_entered
           |  FROM e GROUP BY 1, 2)
           |SELECT experiment_id, ab_group, n_entered,
           |  COALESCE(n_reached_view, 0) AS n_reached_view,
           |  COALESCE(n_reached_click, 0) AS n_reached_click,
           |  COALESCE(n_reached_purchase, 0) AS n_reached_purchase,
           |  COALESCE(n_reached_purchase, 0) * 100000 // n_entered
           |    AS purchase_pct_milli
           |FROM en LEFT JOIN fr USING (experiment_id, ab_group)""".stripMargin
      })
  )
}
