package graft.queries

import graft.core.Tables
import graft.ops.Windows
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.5 W1–W7).
  *
  * The reference hand-rolls each of these with dict counters and list scans
  * (`/root/reference/data_pipeline/build_conversion_rate_analysis.py:203-218`);
  * here each is a single window spec: one shuffle on the partition key, sorted
  * once, then O(1)/O(log n) per row.
  */
object WindowQs {

  val qs: Seq[Q] = Seq(

    // W1: per-key visit ordinal.
    Q("w1_seq_number",
      (s, d) => Windows.sequenceNumber(
          Tables.events(s, d), col("user_id"), Q.usecs(col("ts")), col("event_id"), "seq_no")
        .select(col("user_id"), col("event_id"), col("seq_no").cast("long").as("seq_no")),
      Some(s"""SELECT user_id, event_id,
              |CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS BIGINT) AS seq_no
              |FROM events""".stripMargin)),

    // W2: rolling count over a trailing 24h range frame.
    Q("w2_rolling_count",
      (s, d) => Windows.rollingCount(
          Tables.events(s, d).withColumn("us", Q.usecs(col("ts"))),
          col("user_id"), col("us"), 86400L * 1000000L, "n_24h")
        .select(col("event_id"), col("user_id"), col("n_24h")),
      Some("""SELECT event_id, user_id,
             |COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS n_24h
             |FROM events""".stripMargin),
      bench = true),

    // W2b: ROWS frame — 5-row trailing moving sum per customer (the
    // complementary frame spec to W2's RANGE frame).
    Q("w2b_moving_sum_rows",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-4, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("moving_sum_5",
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .over(w).cast("double"))
          .select(col("o_orderkey"), col("o_custkey"), col("moving_sum_5"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum_5
             |FROM orders""".stripMargin)),

    // W3: lag — gap to previous event per user, in seconds.
    Q("w3_lag_gap",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        Tables.events(s, d).withColumn("us", Q.usecs(col("ts")))
          .withColumn("gap_secs", ((col("us") - lag(col("us"), 1).over(w)) / 1000000L).cast("long"))
          .select(col("user_id"), col("event_id"), col("gap_secs"))
      },
      Some("""SELECT user_id, event_id,
             |CAST((epoch_us(ts) - lag(epoch_us(ts), 1) OVER
             |  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) // 1000000 AS BIGINT) AS gap_secs
             |FROM events""".stripMargin)),

    // W4: last value before the partition's anchor (max prior timestamp).
    Q("w4_prev_before_last",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
        Tables.events(s, d).withColumn("us", Q.usecs(col("ts")))
          .withColumn("max_us", max(col("us")).over(w))
          .groupBy(col("user_id"))
          .agg(max(col("max_us")).as("last_us"),
            max(when(col("us") < col("max_us"), col("us"))).as("prev_us"))
          .select(col("user_id"), col("last_us"), col("prev_us"))
      },
      Some("""SELECT user_id, MAX(us) AS last_us,
             |MAX(CASE WHEN us < max_us THEN us END) AS prev_us FROM (
             |  SELECT user_id, epoch_us(ts) AS us,
             |         MAX(epoch_us(ts)) OVER (PARTITION BY user_id) AS max_us
             |  FROM events) GROUP BY user_id""".stripMargin)),

    // W5: rank-1 dedup — best row per (key, subkey) by preference.
    Q("w5_keep_best",
      (s, d) => Windows.keepBest(Tables.events(s, d),
          Seq(col("user_id"), col("event_type")), col("value"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id").as("best_event_id"),
          col("value").as("best_value")),
      Some("""SELECT user_id, event_type, event_id AS best_event_id, value AS best_value
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
             |  ORDER BY value DESC, event_id) = 1""".stripMargin)),

    // W6: deterministic top-k — TakeOrderedAndProject with a total sort key,
    // so no stage holds more than k rows per task.
    Q("w6_topk_customers",
      (s, d) => Windows.topK(
          Tables.orders(s, d).groupBy(col("o_custkey"))
            .agg(Q.dsum(col("o_totalprice")).as("revenue")),
          10, col("revenue"), col("o_custkey"))
        .select(col("o_custkey"), col("revenue")),
      Some(s"""SELECT o_custkey, revenue FROM (
              |  SELECT o_custkey, ${Q.dsumSql("o_totalprice")} AS revenue
              |  FROM orders GROUP BY o_custkey)
              |QUALIFY row_number() OVER (ORDER BY revenue DESC, o_custkey) <= 10""".stripMargin)),

    // W6b (+ §2.9 UDAF exemplar): per-group top-k via the typed TopK
    // Aggregator — partial aggregation caps shuffle state at k rows per
    // (partition, group) instead of window-sorting every row of every group.
    Q("w6b_grouped_topk",
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(graft.ops.Aggregators.topK(3)(col("c_acctbal"), col("c_custkey")).as("top"))
        .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("c_mktsegment"), col("s.id").as("c_custkey"),
          col("s.score").as("c_acctbal"), (col("pos") + 1).cast("long").as("rank")),
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal, CAST(row_number() OVER w AS BIGINT) AS rank
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
             |QUALIFY row_number() OVER w <= 3""".stripMargin)),

    // W7: multi-window recency counts relative to a fixed as-of.
    Q("w7_recency_counts",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") >= lit("2024-01-28").cast("timestamp"), 1L).otherwise(0L)).as("n_3d"),
          sum(when(col("ts") >= lit("2024-01-21").cast("timestamp"), 1L).otherwise(0L)).as("n_10d"),
          sum(when(col("ts") >= lit("2024-01-01").cast("timestamp"), 1L).otherwise(0L)).as("n_30d")),
      Some("""SELECT user_id,
             |CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-28' THEN 1 ELSE 0 END) AS BIGINT) AS n_3d,
             |CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT) AS n_10d,
             |CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_30d
             |FROM events GROUP BY user_id""".stripMargin)),

    // W9: distribution-rank window kit — ntile quartiles + percent_rank +
    // cume_dist per segment under a total order (tie-broken on the key, so
    // every rank function is engine-deterministic).
    Q("w9_rank_distributions",
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        Tables.customer(s, d)
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pct_rank", round(percent_rank().over(w), 6))
          .withColumn("cume", round(cume_dist().over(w), 6))
          .select(col("c_custkey"), col("c_mktsegment"), col("quartile"),
            col("pct_rank"), col("cume"))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |  ntile(4) OVER w AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank,
             |  round(cume_dist() OVER w, 6) AS cume
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin)),

    // W8: gap-based sessionization (30-min gap on the micros axis) rolled up
    // to per-session stats — the batch form of `session_window` and the
    // canonical user-journey shape the reference computes with per-customer
    // dict loops (`build_day_pass_engagement_table.py:105-121`).
    Q("w8_sessionize",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
          Q.usecs(col("ts")).as("us"))
        Windows.sessionize(ev, col("user_id"), col("us"), col("event_id"),
            30L * 60L * 1000000L)
          .groupBy(col("user_id"), col("session_no"))
          .agg(count(lit(1)).as("n_events"),
            min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |g AS (SELECT user_id, event_id, us,
             |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
             |            > 1800000000 THEN 1 ELSE 0 END AS nf FROM e),
             |sn AS (SELECT user_id, us,
             |  CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT)
             |    AS session_no FROM g)
             |SELECT user_id, session_no, COUNT(*) AS n_events,
             |  MIN(us) AS start_us, MAX(us) AS end_us
             |FROM sn GROUP BY 1, 2""".stripMargin)),

    // W10: SCD type-2 history — per user, collapse consecutive runs of the
    // same event_type into versioned validity intervals [valid_from,
    // valid_to) with an open (NULL) current version. Change detection, the
    // version numbering, and the interval chaining all share one
    // hash-partitioning on the key; the version windows run over the
    // reduced change-row frame, not the raw events.
    Q("w10_scd2_history",
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"), Q.usecs(col("ts")).as("us"))
        graft.ops.Windows.scd2(e, "user_id", "us", "event_id", "event_type")
          .select(col("user_id"), col("version"), col("event_type"),
            col("us").as("valid_from_us"), col("valid_to").as("valid_to_us"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
             |  FROM events),
             |c AS (SELECT *, lag(event_type)
             |    OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
             |st AS (SELECT user_id, event_id, event_type, us FROM c
             |  WHERE prev IS DISTINCT FROM event_type)
             |SELECT user_id, row_number() OVER w AS version, event_type,
             |  us AS valid_from_us, lead(us) OVER w AS valid_to_us
             |FROM st WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin)),

    // W11: member growth — per day, NEW users (first-seen) and NEW
    // purchasers (first purchase), each with its running cumulative.
    // "Cumulative distinct users" is rewritten as a cumulative sum over
    // first occurrences: the per-user min-day aggs and daily rollups
    // shuffle user/day-count rows; only the final running sums are a global
    // window, over a calendar-bounded day-count frame (the t16 base-frame
    // scale, not a data-sized one).
    Q("w11_user_growth",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
        def newPerDay(df: org.apache.spark.sql.DataFrame, cname: String) =
          df.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
            .groupBy(col("day")).agg(count(lit(1)).as(cname))
        val w = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        newPerDay(ev, "new_users")
          .join(newPerDay(ev.filter(col("event_type") === "purchase"),
            "new_purchasers"), Seq("day"), "full_outer")
          .na.fill(0L, Seq("new_users", "new_purchasers"))
          .withColumn("cum_users", sum(col("new_users")).over(w))
          .withColumn("cum_purchasers", sum(col("new_purchasers")).over(w))
      },
      Some("""WITH fu AS (
             |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
             |du AS (SELECT day, COUNT(*) AS new_users FROM fu GROUP BY 1),
             |fp AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |dp AS (SELECT day, COUNT(*) AS new_purchasers FROM fp GROUP BY 1),
             |j AS (
             |  SELECT COALESCE(du.day, dp.day) AS day,
             |    COALESCE(new_users, 0) AS new_users,
             |    COALESCE(new_purchasers, 0) AS new_purchasers
             |  FROM du FULL OUTER JOIN dp ON du.day = dp.day)
             |SELECT day, new_users, new_purchasers,
             |  CAST(SUM(new_users) OVER w AS BIGINT) AS cum_users,
             |  CAST(SUM(new_purchasers) OVER w AS BIGINT) AS cum_purchasers
             |FROM j WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)""".stripMargin)),

    // W12: event transition matrix — per-user next-event Markov counts
    // (the user-journey readout over the event ledger: what follows what,
    // and with what probability). One per-user lag window (hash-
    // partitioned on user_id), then a type-pair aggregation; the share
    // window is bounded by the event-type vocabulary, not the data.
    Q("w12_event_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(Q.usecs(col("ts")), col("event_id"))
        val pairs = Tables.events(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("cur_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
        val byCur = Window.partitionBy(col("cur_type"))
        pairs.withColumn("p",
          round(col("n").cast("double") / sum(col("n")).over(byCur), 6))
      },
      Some("""WITH nx AS (
             |  SELECT event_type AS cur_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS next_type
             |  FROM events),
             |pairs AS (
             |  SELECT cur_type, next_type, COUNT(*) AS n FROM nx
             |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
             |SELECT cur_type, next_type, n,
             |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY cur_type), 6) AS p
             |FROM pairs""".stripMargin)),

    // W13: first-touch multi-step FUNNEL at the user grain (the product-
    // analytics readout): first 'view', then the first 'click' within 72 h
    // OF THAT VIEW, then the first 'purchase' within 72 h of that click —
    // strict order, strictly-later timestamps. NOT a j5c duplicate: j5c
    // answers per-EVENT forward-as-of conversion windows (every click gets
    // its next purchase); w13 reads out one chain per user anchored at the
    // user's first touch — the funnel bar chart's row set. Each step is a
    // scan with its event_type PUSHED DOWN + one min-aggregation joined on
    // the user key: three pruned scans beat one cached full scan here, and
    // everything hash-partitions by user at any scale. Epoch-micros longs
    // keep the gate int64-safe.
    Q("w13_funnel_steps",
      (s, d) => Windows.funnel(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          Q.usecs(col("ts")).as("us")),
        "user_id", "event_type", "us", Seq("view", "click", "purchase"),
        windowUs = 72L * 3600L * 1000000L),
      Some(s"""WITH e AS MATERIALIZED (
              |  SELECT user_id, event_type, ${Q.usecsSql("ts")} AS us FROM events),
              |s1 AS MATERIALIZED (SELECT user_id, MIN(us) AS t1 FROM e
              |  WHERE event_type = 'view' GROUP BY 1),
              |s2 AS MATERIALIZED (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
              |  WHERE event_type = 'click' AND us > t1
              |    AND us <= t1 + ${72L * 3600L * 1000000L} GROUP BY 1),
              |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
              |  WHERE event_type = 'purchase' AND us > t2
              |    AND us <= t2 + ${72L * 3600L * 1000000L} GROUP BY 1)
              |SELECT s1.user_id, t1, t2, t3,
              |  CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
              |         + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS steps_completed
              |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""
        .stripMargin))
  )
}
