package graft.queries

import graft.core.Tables
import graft.ops.{Normalize, TimeJoins}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** Joins (SURVEY.md §2.3 J1–J11).
  *
  * Small dims get explicit `broadcast()`; the temporal joins go through
  * `graft.ops.TimeJoins` so every non-equi predicate rides on an equi blocking
  * key (no cartesian plans at any scale).
  */
object Joins {

  val qs: Seq[Q] = Seq(

    // J1: left hash equi-join of per-key stats onto a dimension.
    // Reference: `build_customer_master.py:335-340`.
    Q("j1_left_join_stats",
      (s, d) => {
        val stats = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), Q.dsum(col("o_totalprice")).as("revenue"))
        Tables.customer(s, d)
          .join(stats, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_mktsegment"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("revenue"), lit(0.0)).as("revenue"))
      },
      Some(s"""SELECT c_custkey, c_mktsegment, COALESCE(n_orders, 0) AS n_orders,
              |COALESCE(revenue, 0.0) AS revenue
              |FROM customer LEFT JOIN (
              |  SELECT o_custkey, COUNT(*) AS n_orders, ${Q.dsumSql("o_totalprice")} AS revenue
              |  FROM orders GROUP BY o_custkey) stats ON c_custkey = o_custkey""".stripMargin)),

    // J2: full outer join of two period series + null-fill.
    // Reference: new-vs-ended membership counts `dashboard.py:1227`.
    Q("j2_outer_join_periods",
      (s, d) => {
        val o = Tables.orders(s, d)
        val started = o.groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m1"))
          .agg(count(lit(1)).as("n_started"))
        val ended = o.groupBy(date_trunc("month", date_add(col("o_orderdate").cast("date"), 30))
            .cast("date").as("m2"))
          .agg(count(lit(1)).as("n_ended"))
        started.join(ended, col("m1") === col("m2"), "outer")
          .select(coalesce(col("m1"), col("m2")).as("month"),
            coalesce(col("n_started"), lit(0L)).as("n_started"),
            coalesce(col("n_ended"), lit(0L)).as("n_ended"))
      },
      Some("""SELECT COALESCE(m1, m2) AS month, COALESCE(n_started, 0) AS n_started,
             |COALESCE(n_ended, 0) AS n_ended
             |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m1, COUNT(*) AS n_started
             |      FROM orders GROUP BY 1) a
             |FULL OUTER JOIN
             |     (SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE) + 30) AS DATE) AS m2,
             |             COUNT(*) AS n_ended
             |      FROM orders GROUP BY 1) b ON m1 = m2""".stripMargin)),

    // J3: chained broadcast-dim lookups (the reference's Series.map(dict)).
    // Reference: `build_customer_master.py:159-161,319-324`.
    Q("j3_broadcast_lookup",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val sup = Tables.supplier(s, d)
        val nat = Tables.nation(s, d)
        val reg = Tables.region(s, d)
        li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
          .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT r_name, n_name,
              |${Q.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
              |COUNT(*) AS n_lines
              |FROM lineitem
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name""".stripMargin),
      bench = true),

    // J4: point-in-interval join — daily active-order counts over a date
    // spine, with month as the blocking key (each interval explodes into its
    // covered months; the containment predicate is a residual on a month
    // equi-join, never a BNLJ). Reference: daily active membership timeline
    // `dashboard.py:1014-1031` + `fetch_capitan_membership_data.py:299-312`.
    Q("j4_interval_active",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("start_d"))
          .withColumn("end_d", date_add(col("start_d"), 30))
        val exploded = o.withColumn("m",
          explode(sequence(trunc(col("start_d"), "MM"), trunc(col("end_d"), "MM"),
            expr("interval 1 month"))))
        val spine = Tables.orders(s, d)
          .select(min(col("o_orderdate")).cast("date").as("lo"),
            max(col("o_orderdate")).cast("date").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
          .withColumn("m", trunc(col("day"), "MM"))
        spine.join(exploded, Seq("m"))
          .filter(col("day").between(col("start_d"), col("end_d")))
          .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
      },
      Some("""WITH spine AS (
             |  SELECT CAST(unnest(generate_series(
             |    (SELECT MIN(CAST(o_orderdate AS DATE)) FROM orders),
             |    (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders),
             |    INTERVAL 1 DAY)) AS DATE) AS day),
             |iv AS (SELECT CAST(o_orderdate AS DATE) AS start_d,
             |              CAST(o_orderdate AS DATE) + 30 AS end_d FROM orders)
             |SELECT day, COUNT(*) AS n_active
             |FROM spine JOIN iv ON day BETWEEN start_d AND end_d
             |GROUP BY day""".stripMargin),
      bench = true),

    // J4b: the same point-in-interval shape written NAIVELY (pure range
    // predicate, no blocking key) — the `plans.IntervalBucketJoin` optimizer
    // rule rewrites it to a bucket equi-join (width 32 days >= the 31-day
    // interval, so each interval explodes into <= 2 buckets). What j4 does
    // by hand, the rule does to any user's naive range join. The width conf
    // is set on a scoped child session so the rule stays disarmed for every
    // other query planned on the shared session (a later keyless range join
    // on epoch-micros with a day-unit width would bucket-explode).
    Q("j4b_interval_rule",
      (outer, d) => {
        val s = GraftBridge.cloneWith(outer, Map(graft.plans.IntervalBucketJoin.WidthKey -> "32"))
        val o = Tables.orders(s, d).select(
            datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("start_day"))
          .withColumn("end_day", col("start_day") + 30)
        val days = s.range(365, 731).select(col("id").as("day_no"))
        days.join(o, col("day_no") >= col("start_day") && col("day_no") <= col("end_day"))
          .groupBy(col("day_no")).agg(count(lit(1)).as("n_active"))
      },
      Some("""WITH days AS (SELECT unnest(range(365, 731)) AS day_no),
             |iv AS (SELECT date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS sd
             |       FROM orders)
             |SELECT day_no, COUNT(*) AS n_active
             |FROM days JOIN iv ON day_no >= sd AND day_no <= sd + 30
             |GROUP BY day_no""".stripMargin),
      bench = true),

    // J5: as-of join — for each purchase, the user's latest click at or before
    // it. Reference: first-membership-after-pass `pipeline_handler.py:528-556`.
    Q("j5_asof_prior_click",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            Q.usecs(col("ts")).as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
            Q.usecs(col("ts")).as("c_us"))
        TimeJoins.asOf(purchases, clicks, "p_user", "c_user", "p_us", "c_us", "c_id", "p_id")
          .select(col("p_id").as("purchase_id"), col("c_id").as("prior_click_id"),
            ((col("p_us") - col("c_us")) / 1000000L).cast("long").as("gap_secs"))
      },
      Some("""SELECT p_id AS purchase_id, c_id AS prior_click_id,
             |CAST((p_us - c_us) // 1000000 AS BIGINT) AS gap_secs
             |FROM (
             |  SELECT p.event_id AS p_id, c.event_id AS c_id,
             |         epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
             |  FROM events p JOIN events c
             |    ON p.user_id = c.user_id AND p.event_type = 'purchase'
             |   AND c.event_type = 'click' AND epoch_us(c.ts) <= epoch_us(p.ts)
             |  QUALIFY row_number() OVER (PARTITION BY p.event_id
             |    ORDER BY epoch_us(c.ts) DESC, c.event_id) = 1)""".stripMargin)),

    // J5b: the SAME as-of semantics through the native AsOfJoinExec physical
    // operator (plans.AsOfJoinPlan): one shuffle+sort per side, streaming
    // merge with a single buffered best-match per key — no joined-pair
    // materialization, no second shuffle for the window. Same oracle as j5.
    Q("j5b_asof_native",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            Q.usecs(col("ts")).as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
            Q.usecs(col("ts")).as("c_us"))
        graft.plans.AsOfJoinPlan.asOfBackward(purchases, clicks,
            "p_user", "p_us", "c_user", "c_us", "c_id")
          .select(col("p_id").as("purchase_id"), col("c_id").as("prior_click_id"),
            ((col("p_us") - col("c_us")) / 1000000L).cast("long").as("gap_secs"))
      },
      Some("""SELECT p_id AS purchase_id, c_id AS prior_click_id,
             |CAST((p_us - c_us) // 1000000 AS BIGINT) AS gap_secs
             |FROM (
             |  SELECT p.event_id AS p_id, c.event_id AS c_id,
             |         epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
             |  FROM events p JOIN events c
             |    ON p.user_id = c.user_id AND p.event_type = 'purchase'
             |   AND c.event_type = 'click' AND epoch_us(c.ts) <= epoch_us(p.ts)
             |  QUALIFY row_number() OVER (PARTITION BY p.event_id
             |    ORDER BY epoch_us(c.ts) DESC, c.event_id) = 1)""".stripMargin),
      bench = true),

    // J5c: windowed conversion booleans on the FORWARD as-of — for each
    // signup, the first purchase strictly after it, flagged converted-in-3d/
    // 10d (reference's 7/30/60/90d gates, `build_conversion_rate_analysis.py:
    // 143-150,231-260`). Runs through the native AsOfJoinExec forward path.
    Q("j5c_conversion_windows",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user"), col("event_id").as("s_id"),
            Q.usecs(col("ts")).as("s_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            Q.usecs(col("ts")).as("p_us"))
        graft.plans.AsOfJoinPlan.asOfForward(signups, purchases,
            "s_user", "s_us", "p_user", "p_us", "p_id")
          .select(col("s_id").as("signup_id"), col("p_id").as("first_purchase_id"),
            (col("p_us") - col("s_us") <= 3L * 86400000000L).as("conv_3d"),
            (col("p_us") - col("s_us") <= 10L * 86400000000L).as("conv_10d"))
      },
      Some("""SELECT s_id AS signup_id, p_id AS first_purchase_id,
             |  gap_us <= 259200000000 AS conv_3d, gap_us <= 864000000000 AS conv_10d
             |FROM (
             |  SELECT s.event_id AS s_id, p.event_id AS p_id,
             |         epoch_us(p.ts) - epoch_us(s.ts) AS gap_us
             |  FROM events s JOIN events p
             |    ON s.user_id = p.user_id AND s.event_type = 'signup'
             |   AND p.event_type = 'purchase' AND epoch_us(p.ts) > epoch_us(s.ts)
             |  QUALIFY row_number() OVER (PARTITION BY s.event_id
             |    ORDER BY epoch_us(p.ts), p.event_id) = 1)""".stripMargin)),

    // J5d: left-OUTER backward as-of through the native operator — purchases
    // with no prior click survive with null click columns (the reference's
    // unmatched-transfer rows, `pass_transfer` 99.6% matched / 0.4% kept
    // unmatched). Same merge, zero extra shuffles: unmatched lefts are
    // emitted null-extended straight from the per-partition stream.
    Q("j5d_asof_outer",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            Q.usecs(col("ts")).as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
            Q.usecs(col("ts")).as("c_us"))
        graft.plans.AsOfJoinPlan.asOfBackward(purchases, clicks,
            "p_user", "p_us", "c_user", "c_us", "c_id", outer = true)
          .select(col("p_id").as("purchase_id"), col("c_id").as("prior_click_id"),
            ((col("p_us") - col("c_us")) / 1000000L).cast("long").as("gap_secs"))
      },
      Some("""SELECT p_id AS purchase_id, c_id AS prior_click_id,
             |CAST((p_us - c_us) // 1000000 AS BIGINT) AS gap_secs
             |FROM (
             |  SELECT p.event_id AS p_id, c.event_id AS c_id,
             |         epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
             |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |    ON p.user_id = c.user_id AND epoch_us(c.ts) <= epoch_us(p.ts)
             |  QUALIFY row_number() OVER (PARTITION BY p.event_id
             |    ORDER BY epoch_us(c.ts) DESC, c.event_id) = 1)""".stripMargin)),

    // J6: time-proximity self-join — pairs of same-type events within 120s,
    // bucketed on tolerance-sized time blocks (see TimeJoins.proximityPairs).
    // Reference: 5-min family co-checkin `build_family_relationships.py:396-429`.
    Q("j6_proximity_pairs",
      (s, d) => TimeJoins.proximityPairs(
          Tables.events(s, d).withColumn("us", Q.usecs(col("ts"))),
          Seq("event_type"), "us", "event_id", 120L * 1000000L)
        .select(col("event_type"), col("id_a"), col("id_b"),
          expr("abs(us_a - us_b) div 1000000").as("dt_secs")),
      Some("""SELECT a.event_type AS event_type, a.event_id AS id_a, b.event_id AS id_b,
             |abs(epoch_us(a.ts) - epoch_us(b.ts)) // 1000000 AS dt_secs
             |FROM events a JOIN events b
             |  ON a.event_type = b.event_type AND a.event_id < b.event_id
             | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000""".stripMargin),
      bench = true),

    // J7: fuzzy join — levenshtein similarity on a blocking key.
    // Reference: email fuzzy matching `customer_matching.py:104-120,432-445`.
    Q("j7_fuzzy_match",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"),
            regexp_extract(col("c_name"), "#(\\d+)", 1).cast("long").as("c_num"))
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"),
            regexp_extract(col("s_name"), "#(\\d+)", 1).cast("long").as("s_num"))
        c.join(broadcast(sup), col("c_num") % 100 === col("s_num") % 100)
          .withColumn("name_sim", round(Normalize.levRatio(col("c_name"), col("s_name")), 6))
          .filter(col("name_sim") >= 0.55)
          .select(col("c_custkey"), col("s_suppkey"), col("name_sim"))
      },
      Some(s"""SELECT c_custkey, s_suppkey, name_sim FROM (
              |  SELECT c_custkey, s_suppkey,
              |    round(${Normalize.levRatioSql("c_name", "s_name")}, 6) AS name_sim
              |  FROM customer JOIN supplier
              |    ON CAST(regexp_extract(c_name, '#(${"\\d"}+)', 1) AS BIGINT) % 100
              |     = CAST(regexp_extract(s_name, '#(${"\\d"}+)', 1) AS BIGINT) % 100)
              |WHERE name_sim >= 0.55""".stripMargin)),

    // J9: amount+date-proximity join — each error event linked to the user's
    // latest same-rounded-value purchase within the prior 7 days.
    // Reference: refund→charge linking `link_refunds_to_categories.py:74-150`.
    Q("j9_amount_date_link",
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("event_id").as("e_id"),
            col("value").as("e_value"), Q.usecs(col("ts")).as("e_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            col("value").as("p_value"), Q.usecs(col("ts")).as("p_us"))
        TimeJoins.amountDateMatch(errors, purchases, "e_user", "p_user",
            "e_value", "p_value", "e_us", "p_us", "e_id", "p_id", 7L * 86400L * 1000000L)
          .select(col("e_id").as("error_id"), col("p_id").as("linked_purchase_id"),
            col("e_value").as("error_value"), col("p_value").as("purchase_value"))
      },
      Some("""SELECT e_id AS error_id, p_id AS linked_purchase_id,
             |e_value AS error_value, p_value AS purchase_value
             |FROM (
             |  SELECT e.event_id AS e_id, p.event_id AS p_id, e.value AS e_value,
             |         p.value AS p_value, epoch_us(p.ts) AS p_us
             |  FROM events e JOIN events p
             |    ON e.user_id = p.user_id AND e.event_type = 'error' AND p.event_type = 'purchase'
             |   AND round(e.value, 0) = round(p.value, 0)
             |   AND epoch_us(p.ts) <= epoch_us(e.ts)
             |   AND epoch_us(p.ts) >= epoch_us(e.ts) - 604800000000
             |  QUALIFY row_number() OVER (PARTITION BY e.event_id
             |    ORDER BY epoch_us(p.ts) DESC, p.event_id) = 1)""".stripMargin)),

    // J7b: the same fuzzy join through the native bounded-Levenshtein
    // expression (graft.plans.BoundedLevenshtein, banded DP with early exit,
    // codegen'd) — `bounded_levenshtein(a,b,k) <= k` ≡ `levenshtein(a,b) <= k`
    // at a fraction of the comparisons.
    Q("j7b_fuzzy_bounded_native",
      (s, d) => {
        graft.plans.BoundedLevenshtein.register(s)
        val c = Tables.customer(s, d)
          .select(col("c_custkey"),
            regexp_extract(col("c_name"), "#(\\d+)", 1).as("c_num"))
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey"),
            regexp_extract(col("s_name"), "#(\\d+)", 1).as("s_num"))
        c.join(broadcast(sup), col("c_num").cast("long") % 100 === col("s_num").cast("long") % 100)
          .withColumn("dist", expr("bounded_levenshtein(c_num, s_num, 1)").cast("long"))
          .filter(col("dist") <= 1)
          .select(col("c_custkey"), col("s_suppkey"), col("dist"))
      },
      Some(s"""SELECT c_custkey, s_suppkey,
              |  CAST(levenshtein(regexp_extract(c_name, '#([0-9]+)', 1),
              |                   regexp_extract(s_name, '#([0-9]+)', 1)) AS BIGINT) AS dist
              |FROM customer JOIN supplier
              |  ON CAST(regexp_extract(c_name, '#([0-9]+)', 1) AS BIGINT) % 100
              |   = CAST(regexp_extract(s_name, '#([0-9]+)', 1) AS BIGINT) % 100
              |WHERE levenshtein(regexp_extract(c_name, '#([0-9]+)', 1),
              |                  regexp_extract(s_name, '#([0-9]+)', 1)) <= 1""".stripMargin)),

    // J9b: the reference's full refund pipeline: linked refunds adopt the
    // MODE of their matched categories; UNMATCHED refund value is
    // redistributed across categories proportionally to the linked share —
    // crosstab of linked-category totals joined back.
    // Reference: `link_refunds_to_categories.py:33,74-150` (mode at 122-129,
    // redistribution at the tail).
    Q("j9b_refund_redistribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("event_id").as("e_id"),
            col("value").as("e_value"), Q.usecs(col("ts")).as("e_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            col("value").as("p_value"), Q.usecs(col("ts")).as("p_us"),
            (get_json_object(col("props"), "$.k").cast("long") % 5).as("p_cat"))
        val linked = TimeJoins.amountDateMatch(errors, purchases, "e_user", "p_user",
          "e_value", "p_value", "e_us", "p_us", "e_id", "p_id", 7L * 86400L * 1000000L)
        val linkedByCat = linked.groupBy(col("p_cat").as("category"))
          .agg(Q.dsum(col("e_value")).as("linked_refunds"))
        val totalLinked = linkedByCat.agg(Q.dsum(col("linked_refunds")).as("total_linked"))
        val totalUnmatched = errors.join(linked.select(col("e_id").as("l_id")),
            col("e_id") === col("l_id"), "left_anti")
          .agg(coalesce(Q.dsum(col("e_value")), lit(0.0)).as("total_unmatched"))
        linkedByCat.crossJoin(broadcast(totalLinked)).crossJoin(broadcast(totalUnmatched))
          .select(col("category"), col("linked_refunds"),
            round(col("linked_refunds") + col("total_unmatched") *
              (col("linked_refunds") / col("total_linked")), 4).as("effective_refunds"))
      },
      Some(s"""WITH linked AS MATERIALIZED (
              |  SELECT e_id, e_value, p_cat FROM (
              |    SELECT e.event_id AS e_id, e.value AS e_value,
              |           CAST(json_extract_string(p.props, '$$.k') AS BIGINT) % 5 AS p_cat,
              |           epoch_us(p.ts) AS p_us, p.event_id AS p_id
              |    FROM events e JOIN events p
              |      ON e.user_id = p.user_id AND e.event_type = 'error' AND p.event_type = 'purchase'
              |     AND round(e.value, 0) = round(p.value, 0)
              |     AND epoch_us(p.ts) <= epoch_us(e.ts)
              |     AND epoch_us(p.ts) >= epoch_us(e.ts) - 604800000000
              |    QUALIFY row_number() OVER (PARTITION BY e.event_id
              |      ORDER BY epoch_us(p.ts) DESC, p.event_id) = 1)),
              |by_cat AS MATERIALIZED (
              |  SELECT p_cat AS category, ${Q.dsumSql("e_value")} AS linked_refunds
              |  FROM linked GROUP BY 1),
              |tot AS (SELECT ${Q.dsumSql("linked_refunds")} AS total_linked FROM by_cat),
              |unm AS (
              |  SELECT COALESCE(${Q.dsumSql("value")}, 0.0) AS total_unmatched
              |  FROM events WHERE event_type = 'error'
              |    AND event_id NOT IN (SELECT e_id FROM linked))
              |SELECT category, linked_refunds,
              |  round(linked_refunds + total_unmatched * (linked_refunds / total_linked), 4)
              |    AS effective_refunds
              |FROM by_cat, tot, unm""".stripMargin)),

    // J10: semi + anti joins — customers who ordered but never raised an event.
    // Reference: `~isin` membership filters `build_customer_master.py:285-321`.
    Q("j10_semi_anti",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .join(Tables.events(s, d).select(col("user_id")),
          col("c_custkey") === col("user_id"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |  AND NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)""".stripMargin)),

    // J11: regex-extract key then chained broadcast lookups.
    // Reference: membership-number extraction `customer_events_builder.py:87-104`.
    Q("j11_regex_extract_join",
      (s, d) => {
        val c = Tables.customer(s, d)
          .withColumn("cust_num", regexp_extract(col("c_name"), "#(\\d+)", 1).cast("long"))
        val nat = Tables.nation(s, d)
        val reg = Tables.region(s, d)
        c.join(broadcast(nat), c("cust_num") % 25 === nat("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT r_name, COUNT(*) AS n
             |FROM customer
             |JOIN nation ON CAST(regexp_extract(c_name, '#(\d+)', 1) AS BIGINT) % 25 = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin))
  )
}
