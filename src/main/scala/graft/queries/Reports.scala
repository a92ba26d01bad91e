package graft.queries

import graft.core.Tables
import org.apache.spark.sql.functions._

/** RP1-RP4 + CV3 — the reference's small composite follow-up reports:
  *
  *  - rp1: day-pass purchasers with no check-in
  *    (`build_purchased_not_checkedin.py:22-109`)
  *  - cv3: per-membership conversion metrics — check-ins before first
  *    membership (`build_membership_conversion_metrics.py:25-113`)
  *  - rp2: flag → email-received cross-check
  *    (`build_flag_email_verification.py:25-277`)
  *  - rp3: families buying day passes together the same day
  *    (`identify_family_day_passes.py:28-105`)
  *  - rp4: SMS-consent compliance audit — append-only consent ledger with
  *    keyed point-in-time status (`sms_consent_tracker.py:41-330`)
  *  - rp6: payment-failure rates by membership category
  *    (`process_failed_payments.py:12-151`)
  *  - rp7: expense categorization + monthly rollup
  *    (`categorize_expenses.py:40-143`)
  *  - rp8: 2-week-pass journey diagnostic — first broken stage per
  *    purchaser (`diagnose_2week_pass_journey.py:27-220`)
  *
  * Event-ledger conventions follow cv1 (`ConversionFunnel`): 'view' events
  * are facility check-ins / received campaigns, 'purchase' events are
  * membership/day-pass purchases. The evaluation clock is the flag engine's
  * (2024-01-31T00:00:00Z). */
object Reports {

  private val asOfUs = 1706659200000000L
  private val DayUs = 86400000000L

  /** cv3's keeper election: each customer's FIRST membership purchase under
    * the TOTAL order (us, event_id, value) — `min_by` over a native struct
    * key (the gr3 idiom), not a printf-encoded composite: zero-padded
    * strings misorder signed ids, and leaving `value` out of the key made
    * the pick nondeterministic when dirty data carries two purchase rows
    * with equal (ts, event_id) but different value (dq2 measures duplicate
    * event keys as a real possibility). Struct ordering compares each field
    * natively, so the full signed 64-bit id domain and IEEE double order
    * both hold — mirrored in the oracle as a row_number window on the same
    * three columns. */
  private[graft] def firstMembership(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ok = struct(Q.usecs(col("ts")), col("event_id"), col("value"))
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(Q.usecs(col("ts"))).as("m_us"),
        min_by(col("event_id"), ok).as("membership_id"),
        min_by(col("value"), ok).as("m_value"))
  }

  val qs: Seq[Q] = Seq(

    // RP1: purchasers with NO corresponding check-in — the reference's
    // highest-priority follow-up list (`build_purchased_not_checkedin.py:
    // 67-105`): recent positive-amount day-pass purchases (trailing 30
    // days) with no facility visit SINCE the purchase. (The reference's
    // transaction and check-in logs are disjoint sources, so "never checked
    // in" is common there; in the unified event ledger the faithful reading
    // of "purchased but no corresponding visit" is no 'view' strictly after
    // the purchase — every synthetic user has SOME historical view, and an
    // all-history anti-join would be structurally empty.) Per-purchase
    // max-view comparison: the check-in side reduces to one MAX(us) per
    // user on the same user key the join shuffles on — at 100 TB both
    // sides hash-partition once and the 30-day window filter, not the
    // corpus, sizes the probe side.
    Q("rp1_purchased_not_checkedin",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev
          .filter(col("event_type") === "purchase" && col("value") > 0.0 &&
            Q.usecs(col("ts")) >= asOfUs - 30L * DayUs &&
            Q.usecs(col("ts")) < asOfUs)
        val lastView = ev
          .filter(col("event_type") === "view" && Q.usecs(col("ts")) < asOfUs)
          .groupBy(col("user_id")).agg(max(Q.usecs(col("ts"))).as("last_view_us"))
        purchases.join(lastView, Seq("user_id"), "left")
          .filter(col("last_view_us").isNull ||
            col("last_view_us") <= Q.usecs(col("ts")))
          .select(col("user_id").as("customer_id"),
            col("event_id").as("transaction_id"),
            Q.tsFmt(col("ts")).as("purchase_ts"),
            col("value").as("amount"),
            lit("day_pass_purchased_no_checkin").as("event_type"),
            lit("high").as("source_confidence"))
      },
      Some(s"""SELECT user_id AS customer_id, event_id AS transaction_id,
              |  ${Q.tsFmtSql("ts")} AS purchase_ts, value AS amount,
              |  'day_pass_purchased_no_checkin' AS event_type,
              |  'high' AS source_confidence
              |FROM events e
              |WHERE event_type = 'purchase' AND value > 0.0
              |  AND ${Q.usecsSql("ts")} >= ${asOfUs - 30L * DayUs}
              |  AND ${Q.usecsSql("ts")} < $asOfUs
              |  AND NOT EXISTS (
              |    SELECT 1 FROM events v
              |    WHERE v.event_type = 'view' AND v.user_id = e.user_id
              |      AND ${Q.usecsSql("v.ts")} > ${Q.usecsSql("e.ts")}
              |      AND ${Q.usecsSql("v.ts")} < $asOfUs)""".stripMargin)),

    // CV3: per-membership conversion readout — for each customer's FIRST
    // membership (first 'purchase' by (ts, event_id)), how many check-ins
    // preceded it (`build_membership_conversion_metrics.py:60-98`: groupby
    // owner .first() after sort + per-membership prior-checkin count +
    // 0..4/'5+' bucket). Grain: one row per first membership — cv1/cv2
    // cover the per-VISIT and per-COHORT grains; this is the reference's
    // third, per-MEMBERSHIP readout. Tier derives from the purchase value
    // (the membership_type seat; the reference reads it off the membership
    // row). Both aggregations hash-partition on the same user key — the
    // prior-visit count joins first-membership times back to the view
    // stream with no second shuffle of the heavy side.
    Q("cv3_membership_conversion",
      (s, d) => {
        val ev = Tables.events(s, d).filter(Q.usecs(col("ts")) < asOfUs)
        val firstMem = Reports.firstMembership(ev)
        val prior = firstMem
          .join(ev.filter(col("event_type") === "view")
              .select(col("user_id"), Q.usecs(col("ts")).as("v_us")),
            Seq("user_id"), "left")
          .groupBy(col("user_id"), col("membership_id"), col("m_us"), col("m_value"))
          .agg(count(when(col("v_us") < col("m_us"), 1)).as("previous_checkins_count"))
        prior.select(
          col("membership_id"), col("user_id").as("customer_id"),
          Q.tsFmt(timestamp_micros(col("m_us"))).as("membership_start"),
          when(col("m_value") >= 100.0, "premium")
            .when(col("m_value") >= 30.0, "standard")
            .otherwise("basic").as("membership_type"),
          col("previous_checkins_count"),
          when(col("previous_checkins_count") >= 5, "5+")
            .otherwise(col("previous_checkins_count").cast("string"))
            .as("checkins_bucket"))
      },
      Some(s"""WITH ev AS MATERIALIZED (
              |  SELECT *, ${Q.usecsSql("ts")} AS us FROM events
              |  WHERE ${Q.usecsSql("ts")} < $asOfUs),
              |fm AS (
              |  -- keeper election under the total (us, event_id, value) order —
              |  -- DuckDB arg_min rejects struct keys, so the row_number form of
              |  -- Spark's min_by(_, struct(us, event_id, value))
              |  SELECT user_id, us AS m_us, event_id AS membership_id,
              |    value AS m_value
              |  FROM ev WHERE event_type = 'purchase'
              |  QUALIFY row_number() OVER (PARTITION BY user_id
              |    ORDER BY us, event_id, value) = 1),
              |pc AS (
              |  SELECT fm.user_id, fm.membership_id, fm.m_us, fm.m_value,
              |    COUNT(CASE WHEN v.us < fm.m_us THEN 1 END) AS previous_checkins_count
              |  FROM fm LEFT JOIN (SELECT user_id, us FROM ev WHERE event_type = 'view') v
              |    ON v.user_id = fm.user_id
              |  GROUP BY 1, 2, 3, 4)
              |SELECT membership_id, user_id AS customer_id,
              |  ${Q.tsFmtSql("make_timestamp(m_us)")} AS membership_start,
              |  CASE WHEN m_value >= 100.0 THEN 'premium'
              |       WHEN m_value >= 30.0 THEN 'standard'
              |       ELSE 'basic' END AS membership_type,
              |  previous_checkins_count,
              |  CASE WHEN previous_checkins_count >= 5 THEN '5+'
              |       ELSE CAST(previous_checkins_count AS VARCHAR)
              |  END AS checkins_bucket
              |FROM pc""".stripMargin)),

    // RP2: flag → email cross-check (`build_flag_email_verification.py:
    // 140-277`): every active flag joined through the identity layer to a
    // contact email, then to the campaigns that address received — one row
    // per (flag, campaign), with the reference's two sentinel rows: a flag
    // whose customer HAS an email but received nothing ('NO EMAILS
    // RECEIVED') and a flag with no resolvable email ('NO EMAIL ADDRESS').
    // Campaign rows are 'view' events (the klaviyo convention of cm1);
    // opened/clicked derive deterministically from the payload key. The
    // flags frame is rule-engine output (small); the campaign side is
    // pre-grouped per user before the join, so the flags×campaigns fan-out
    // is the report's true output size, not an intermediate blow-up.
    Q("rp2_flag_email_verification",
      (s, d) => {
        val flags = FlagQs.flagsAt(s, d, asOfUs)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey").cast("long").as("user_id"),
            CustomerMaster.synthEmail.as("customer_email"))
        val campaigns = Tables.events(s, d)
          .filter(col("event_type") === "view" && Q.usecs(col("ts")) < asOfUs)
          .select(col("user_id").as("v_user"),
            col("event_id").as("campaign_id"),
            Q.tsFmt(col("ts")).as("email_sent_ts"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
        flags.join(cust, Seq("user_id"), "left")
          .join(campaigns,
            col("user_id") === col("v_user") && col("customer_email").isNotNull,
            "left")
          .select(
            col("user_id").as("customer_id"), col("customer_email"),
            col("flag_type"), col("priority"),
            when(col("v_user").isNotNull, "klaviyo").as("email_source"),
            col("campaign_id"),
            when(col("customer_email").isNull, "NO EMAIL ADDRESS")
              .when(col("v_user").isNull, "NO EMAILS RECEIVED")
              .otherwise(concat(lit("campaign_"), (col("k") % 20).cast("string")))
              .as("campaign_title"),
            col("email_sent_ts"),
            coalesce(col("k") % 3 === 0, lit(false)).as("email_opened"),
            coalesce(col("k") % 5 === 0, lit(false)).as("email_clicked"))
      },
      Some(s"""WITH flags AS (${FlagQs.flagsSql(asOfUs)}),
              |cust AS (
              |  SELECT CAST(c_custkey AS BIGINT) AS user_id,
              |    ${CustomerMaster.synthEmailSql} AS customer_email
              |  FROM customer),
              |camp AS (
              |  SELECT user_id AS v_user, event_id AS campaign_id,
              |    ${Q.tsFmtSql("ts")} AS email_sent_ts,
              |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
              |  FROM events
              |  WHERE event_type = 'view' AND ${Q.usecsSql("ts")} < $asOfUs)
              |SELECT f.user_id AS customer_id, c.customer_email,
              |  f.flag_type, f.priority,
              |  CASE WHEN camp.v_user IS NOT NULL THEN 'klaviyo' END AS email_source,
              |  camp.campaign_id,
              |  CASE WHEN c.customer_email IS NULL THEN 'NO EMAIL ADDRESS'
              |       WHEN camp.v_user IS NULL THEN 'NO EMAILS RECEIVED'
              |       ELSE 'campaign_' || CAST(camp.k % 20 AS VARCHAR)
              |  END AS campaign_title,
              |  camp.email_sent_ts,
              |  COALESCE(camp.k % 3 = 0, false) AS email_opened,
              |  COALESCE(camp.k % 5 = 0, false) AS email_clicked
              |FROM flags f
              |LEFT JOIN cust c ON c.user_id = f.user_id
              |LEFT JOIN camp ON camp.v_user = f.user_id
              |  AND c.customer_email IS NOT NULL""".stripMargin)),

    // RP3: families buying day passes together the same day — the last
    // reference analytic without an engine twin (`identify_family_day_
    // passes.py:28-105`: keyword-mask day-pass check-ins, group by
    // (last_name, date), keep groups of 2+ people, read out names/emails
    // for targeted marketing). Event-ledger re-grounding: check-ins are
    // 'view' events (cv1's convention); the entry-method seat derives from
    // event_id%4 — three pass classes the reference's keyword mask keeps
    // plus the 'Membership Check-in' class it excludes (`:46-52`); the
    // surname is the family-decade key (SURVEY §1.2: the decade IS the
    // family — familyMap/fam1's model), rendered 'famN'; "2+ people" uses
    // DISTINCT customers (the reference's stated intent; its len(group)
    // row-count would call one person's two same-day check-ins a family).
    // Positioning vs fam1/a9: fam1 infers parent-child EDGES and a9 groups
    // duplicate IDENTITIES — rp3 groups same-day co-purchase BEHAVIOR of
    // an existing family key. Scale shape: the group aggregate and the
    // group join share the (fam, date) key — one shuffle of the check-in
    // stream, bounded group state; the name/email dim joins on the user
    // key (the decade arithmetic keeps it skew-free at any corpus size).
    Q("rp3_family_day_passes",
      (s, d) => {
        val pt = col("event_id") % 4
        val views = Tables.events(s, d)
          .filter(col("event_type") === "view" && Q.usecs(col("ts")) < asOfUs)
          .withColumn("pass_type",
            when(pt === 0, "Day Pass").when(pt === 1, "Punch Pass")
              .when(pt === 2, "Pass with Gear").otherwise("Membership Check-in"))
          .filter(col("pass_type") =!= "Membership Check-in")
          .select(col("user_id"), expr("user_id div 10").as("fam"),
            date_format(col("ts"), "yyyy-MM-dd").as("date"), col("pass_type"))
        val groups = views.groupBy(col("fam"), col("date"))
          .agg(countDistinct(col("user_id")).as("family_size"))
          .filter(col("family_size") >= 2)
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name").as("first_name"),
            CustomerMaster.synthEmail.as("email"))
        views.join(groups, Seq("fam", "date"))
          .join(dim, col("user_id") === col("c_custkey"), "left")
          .select(col("first_name"),
            concat(lit("fam"), col("fam").cast("string")).as("last_name"),
            col("date"), col("user_id").as("customer_id"), col("email"),
            col("pass_type"), col("family_size"))
      },
      Some(s"""WITH v AS (
              |  SELECT user_id, user_id // 10 AS fam,
              |    strftime(ts, '%Y-%m-%d') AS date,
              |    CASE event_id % 4 WHEN 0 THEN 'Day Pass'
              |         WHEN 1 THEN 'Punch Pass' WHEN 2 THEN 'Pass with Gear'
              |         ELSE 'Membership Check-in' END AS pass_type
              |  FROM events
              |  WHERE event_type = 'view' AND ${Q.usecsSql("ts")} < $asOfUs),
              |dp AS MATERIALIZED (SELECT * FROM v WHERE pass_type <> 'Membership Check-in'),
              |g AS (
              |  SELECT fam, date,
              |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS family_size
              |  FROM dp GROUP BY 1, 2 HAVING COUNT(DISTINCT user_id) >= 2)
              |SELECT c.c_name AS first_name,
              |  'fam' || CAST(dp.fam AS VARCHAR) AS last_name,
              |  dp.date, dp.user_id AS customer_id,
              |  ${CustomerMaster.synthEmailSql} AS email,
              |  dp.pass_type, g.family_size
              |FROM dp JOIN g ON dp.fam = g.fam AND dp.date = g.date
              |LEFT JOIN customer c ON c.c_custkey = dp.user_id""".stripMargin)),

    // RP4: SMS-consent compliance audit (`sms_consent_tracker.py:41-330`) —
    // the reference appends every opt-in/revocation to an S3 CSV audit
    // trail and answers point-in-time consent lookups off it. In-engine,
    // the ledger is derived from the event stream (opt-in = 'signup' —
    // consent captured at signup; revocation = 'error' — the opt-out
    // signal), with the reference's compliance seats modeled
    // deterministically: E.164 phone off the user key (`:369` normalize),
    // opt-in method web_form/keyword/in_person/qr_code off the event key
    // (`:118-218`'s three recorders + QR), consent_id = md5 of
    // phone+first-opt-in (`:363-367`). One row per consented phone at the
    // evaluation clock: first opt-in (the auditable consent record) plus
    // the LATEST ledger action deciding active/revoked — the reference's
    // get_consent_status(`:272-301`), whose "most recent record wins" is
    // the o3/a11 keyed-latest shape. Positioning vs cm1's
    // has_been_contacted / rp2's email cross-check: those read MARKETING
    // reach; rp4 is the legal consent REGISTER (who may be texted at all).
    // Scale shape: two aggregates over the filtered ledger on the same
    // user key (first opt-in, latest action) joined co-partitioned — one
    // shuffle, no windows over the corpus.
    Q("rp4_sms_consent_audit",
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(Q.usecs(col("ts")) < asOfUs &&
            col("event_type").isin("signup", "error"))
          .select(col("user_id"), col("event_id"), Q.usecs(col("ts")).as("us"),
            when(col("event_type") === "signup", "opt_in")
              .otherwise("revoke").as("action"))
        val optIns = ev.filter(col("action") === "opt_in")
          .groupBy(col("user_id"))
          .agg(min(col("us")).as("first_opt_us"),
            min_by(col("event_id"), struct(col("us"), col("event_id")))
              .as("first_opt_event"),
            count(lit(1)).as("n_opt_ins"))
        val last = ev.groupBy(col("user_id"))
          .agg(max_by(col("action"), struct(col("us"), col("event_id")))
              .as("last_action"),
            max_by(col("event_id"), struct(col("us"), col("event_id")))
              .as("last_event"),
            max(col("us")).as("last_us"),
            count(lit(1)).as("n_ledger_rows"))
        val m = col("first_opt_event") % 4
        val phone = concat(lit("+1512"),
          lpad((col("user_id") % 10000000L).cast("string"), 7, "0"))
        optIns.join(last, Seq("user_id"))
          .select(
            md5(concat(phone, lit(":"), col("first_opt_us").cast("string")))
              .as("consent_id"),
            phone.as("phone_number"), col("user_id").as("customer_id"),
            Q.tsFmt(timestamp_micros(col("first_opt_us"))).as("opted_in_at"),
            when(m === 0, "web_form").when(m === 1, "keyword")
              .when(m === 2, "in_person").otherwise("qr_code")
              .as("opt_in_method"),
            when(col("last_action") === "revoke", "revoked")
              .otherwise("active").as("status"),
            when(col("last_action") === "revoke",
              Q.tsFmt(timestamp_micros(col("last_us")))).as("revoked_at"),
            when(col("last_action") === "revoke",
              when(col("last_event") % 2 === 0, "stop_keyword")
                .otherwise("customer_request")).as("revoked_method"),
            col("n_opt_ins"), col("n_ledger_rows"))
      },
      Some(s"""WITH led AS MATERIALIZED (
              |  SELECT user_id, event_id, ${Q.usecsSql("ts")} AS us,
              |    CASE WHEN event_type = 'signup' THEN 'opt_in'
              |         ELSE 'revoke' END AS action
              |  FROM events
              |  WHERE ${Q.usecsSql("ts")} < $asOfUs
              |    AND event_type IN ('signup', 'error')),
              |oi AS (
              |  SELECT user_id, MIN(us) AS first_opt_us,
              |    CAST(COUNT(*) AS BIGINT) AS n_opt_ins
              |  FROM led WHERE action = 'opt_in' GROUP BY user_id),
              |oie AS (
              |  SELECT user_id, event_id AS first_opt_event
              |  FROM led WHERE action = 'opt_in'
              |  QUALIFY row_number() OVER (PARTITION BY user_id
              |    ORDER BY us, event_id) = 1),
              |la AS (
              |  SELECT user_id, action AS last_action, event_id AS last_event,
              |    us AS last_us,
              |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
              |      AS n_ledger_rows
              |  FROM led
              |  QUALIFY row_number() OVER (PARTITION BY user_id
              |    ORDER BY us DESC, event_id DESC) = 1),
              |base AS (
              |  SELECT oi.user_id, oi.first_opt_us, oie.first_opt_event,
              |    oi.n_opt_ins, la.last_action, la.last_event, la.last_us,
              |    la.n_ledger_rows,
              |    '+1512' || lpad(CAST(oi.user_id % 10000000 AS VARCHAR), 7, '0')
              |      AS phone
              |  FROM oi JOIN oie ON oie.user_id = oi.user_id
              |  JOIN la ON la.user_id = oi.user_id)
              |SELECT
              |  md5(phone || ':' || CAST(first_opt_us AS VARCHAR)) AS consent_id,
              |  phone AS phone_number, user_id AS customer_id,
              |  ${Q.tsFmtSql("make_timestamp(first_opt_us)")} AS opted_in_at,
              |  CASE first_opt_event % 4 WHEN 0 THEN 'web_form'
              |       WHEN 1 THEN 'keyword' WHEN 2 THEN 'in_person'
              |       ELSE 'qr_code' END AS opt_in_method,
              |  CASE WHEN last_action = 'revoke' THEN 'revoked'
              |       ELSE 'active' END AS status,
              |  CASE WHEN last_action = 'revoke'
              |       THEN ${Q.tsFmtSql("make_timestamp(last_us)")} END AS revoked_at,
              |  CASE WHEN last_action = 'revoke' THEN
              |       CASE WHEN last_event % 2 = 0 THEN 'stop_keyword'
              |            ELSE 'customer_request' END END AS revoked_method,
              |  n_opt_ins, n_ledger_rows
              |FROM base""".stripMargin)),

    // RP5: cohort RETENTION TRIANGLE — the classic cohort × periods-since-
    // acquisition activity matrix (the cohort extension of the dashboard's
    // attrition-vs-new chart, `dashboard.py:1201-1273`, and the natural
    // companion to cv2's conversion cohorts): cohort = ISO week (Monday
    // truncation, identical in both engines) of a user's FIRST event; a
    // cell counts distinct cohort users active cohort_week + offset weeks
    // later. Week grain, not month: the gate-scale ledger spans one
    // calendar month, which would collapse a monthly triangle to a single
    // cell. Offsets are exact day-diffs div 7 (both ends Monday-truncated,
    // so the division is exact). Percentages are floor milli-ratios (the
    // engine-wide exact-finisher discipline).
    // Scale: two user-keyed aggs (first event, distinct activity weeks —
    // both map-side combinable), one broadcast-able cohort-size frame; the
    // triangle itself is weeks² rows, KB-sized at any corpus.
    Q("rp5_retention_triangle",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), trunc(col("ts").cast("date"), "week").as("w"))
        val first = ev.groupBy(col("user_id"))
          .agg(min(col("w")).as("cohort_week"))
        val act = ev.distinct()
        val cs = first.groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("cohort_size"))
        act.join(first, "user_id")
          .withColumn("week_offset",
            (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(cs, "cohort_week")
          .withColumn("retained_pct_milli",
            expr("n_active * 100000 div cohort_size"))
      },
      Some("""WITH ev AS MATERIALIZED (
             |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
             |  FROM events),
             |f AS MATERIALIZED (SELECT user_id, MIN(w) AS cohort_week FROM ev GROUP BY 1),
             |act AS (SELECT DISTINCT user_id, w FROM ev),
             |cs AS (SELECT cohort_week, COUNT(*) AS cohort_size
             |       FROM f GROUP BY 1),
             |tri AS (
             |  SELECT f.cohort_week,
             |    CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT)
             |      AS week_offset,
             |    COUNT(DISTINCT a.user_id) AS n_active
             |  FROM act a JOIN f USING (user_id)
             |  GROUP BY 1, 2)
             |SELECT cohort_week, week_offset, n_active, cohort_size,
             |  n_active * 100000 // cohort_size AS retained_pct_milli
             |FROM tri JOIN cs USING (cohort_week)""".stripMargin)),

    // RP6: payment-failure rates by membership category — the billing-health
    // report (`process_failed_payments.py:38-151`): for each membership
    // CATEGORY (overlapping boolean flags) and each SIZE group, the count of
    // active memberships, memberships with any failed payment, total/
    // insufficient-funds failure counts, and the two unique-membership
    // failure rates, mirroring the reference's output columns (`:101-110`).
    // Memberships are orders (active = status 'O'); failed payments are
    // returned lineitems (membership_id = l_orderkey), with decline_code
    // 'insufficient_funds' for the settled ('F') half. The reference loops
    // categories re-scanning the failures per category (`:72-146`, O(C·N));
    // here one per-membership failure rollup (a single hash agg on the
    // payment key) left-joins one exploded label table — the category
    // dimension rides an array explode of the SAME membership scan, and the
    // final rollup is categories-sized. Uniqueness needs no DISTINCT: the
    // join grain IS the membership.
    Q("rp6_failed_payment_rates",
      (s, d) => {
        val labels = array(
          when(col("o_orderpriority") === "1-URGENT", "Urgent"),
          when(col("o_orderpriority") === "2-HIGH", "High"),
          when(col("o_orderpriority") === "3-MEDIUM", "Medium"),
          when(col("o_orderpriority") === "5-LOW", "Low"),
          when(col("o_orderpriority") === "4-NOT SPECIFIED",
            "Standard (no special category)"),
          when(col("o_totalprice") >= 400000.0, "High Value"),
          when(col("o_totalprice") < 125000.0, "Solo (by size)")
            .when(col("o_totalprice") < 250000.0, "Duo (by size)")
            .when(col("o_totalprice") < 375000.0, "Family (by size)")
            .otherwise("Corporate (by size)"))
        val members = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey").as("membership_id"),
            explode(filter(labels, x => x.isNotNull)).as("membership_type"))
        val fails = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_orderkey").as("membership_id"))
          .agg(count(lit(1)).as("n_fail"),
            sum(when(col("l_linestatus") === "F", 1L).otherwise(0L))
              .as("n_insuff"))
        members.join(fails, Seq("membership_id"), "left")
          .groupBy(col("membership_type"))
          .agg(
            count(lit(1)).as("active_memberships"),
            sum(when(col("n_fail").isNotNull, 1L).otherwise(0L))
              .as("unique_with_failures"),
            sum(coalesce(col("n_fail"), lit(0L))).as("total_failures"),
            sum(coalesce(col("n_insuff"), lit(0L)))
              .as("insufficient_funds_failures"),
            sum(when(col("n_insuff") > 0L, 1L).otherwise(0L))
              .as("unique_with_insuff_funds"))
          .withColumn("failure_rate_pct_milli",
            expr("unique_with_failures * 100000 div active_memberships"))
          .withColumn("insufficient_funds_rate_pct_milli",
            expr("unique_with_insuff_funds * 100000 div active_memberships"))
      },
      Some("""WITH m AS MATERIALIZED (
             |  SELECT o_orderkey AS membership_id, o_orderpriority AS pr,
             |    o_totalprice AS tp
             |  FROM orders WHERE o_orderstatus = 'O'),
             |lab AS (
             |  SELECT membership_id, 'Urgent' AS membership_type FROM m
             |    WHERE pr = '1-URGENT'
             |  UNION ALL SELECT membership_id, 'High' FROM m WHERE pr = '2-HIGH'
             |  UNION ALL SELECT membership_id, 'Medium' FROM m
             |    WHERE pr = '3-MEDIUM'
             |  UNION ALL SELECT membership_id, 'Low' FROM m WHERE pr = '5-LOW'
             |  UNION ALL SELECT membership_id, 'Standard (no special category)'
             |    FROM m WHERE pr = '4-NOT SPECIFIED'
             |  UNION ALL SELECT membership_id, 'High Value' FROM m
             |    WHERE tp >= 400000.0
             |  UNION ALL SELECT membership_id,
             |    CASE WHEN tp < 125000.0 THEN 'Solo (by size)'
             |         WHEN tp < 250000.0 THEN 'Duo (by size)'
             |         WHEN tp < 375000.0 THEN 'Family (by size)'
             |         ELSE 'Corporate (by size)' END FROM m),
             |f AS (
             |  SELECT l_orderkey AS membership_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_fail,
             |    CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_insuff
             |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
             |SELECT membership_type,
             |  CAST(COUNT(*) AS BIGINT) AS active_memberships,
             |  CAST(COUNT(n_fail) AS BIGINT) AS unique_with_failures,
             |  CAST(SUM(COALESCE(n_fail, 0)) AS BIGINT) AS total_failures,
             |  CAST(SUM(COALESCE(n_insuff, 0)) AS BIGINT)
             |    AS insufficient_funds_failures,
             |  CAST(COUNT(CASE WHEN n_insuff > 0 THEN 1 END) AS BIGINT)
             |    AS unique_with_insuff_funds,
             |  CAST(COUNT(n_fail) AS BIGINT) * 100000
             |    // CAST(COUNT(*) AS BIGINT) AS failure_rate_pct_milli,
             |  CAST(COUNT(CASE WHEN n_insuff > 0 THEN 1 END) AS BIGINT) * 100000
             |    // CAST(COUNT(*) AS BIGINT)
             |    AS insufficient_funds_rate_pct_milli
             |FROM lab LEFT JOIN f USING (membership_id)
             |GROUP BY 1""".stripMargin)),

    // RP7: expense categorization mart (`categorize_expenses.py:40-143`) —
    // the exact-match category map (subcategory list → group, everything
    // else dropped, `:40-61`) applied to the expense line items, then the
    // monthly rollup per category group with the summary's count/avg
    // columns (`get_monthly_expenses` + `get_category_summary`). Expenses
    // are lineitems (amount = l_extendedprice, date = l_shipdate) with the
    // part type as the raw QuickBooks category. The map lives on the PART
    // side and filters BEFORE the join — only mapped parts reach the fact
    // join (the category filter is the most selective predicate, so it
    // prunes the build side instead of post-filtering the joined fact), and
    // the rollup output is months × groups regardless of corpus size.
    Q("rp7_expense_categories",
      (s, d) => {
        val catMap = when(col("p_type").isin("STANDARD", "ECONOMY", "MEDIUM"),
          "Payroll")
          .when(col("p_type").isin("PROMO"), "Marketing")
        // the explicit IN predicate (not just the CASE's isNotNull) so the
        // most selective filter PUSHES to the part scan — plan-checked:
        // PushedFilters carries In(p_type, ...)
        val parts = Tables.part(s, d)
          .filter(col("p_type").isin("STANDARD", "ECONOMY", "MEDIUM", "PROMO"))
          .select(col("p_partkey"), catMap.as("category_group"))
        Tables.lineitem(s, d)
          .select(col("l_partkey").as("p_partkey"),
            date_format(col("l_shipdate"), "yyyy-MM").as("year_month"),
            col("l_extendedprice").as("amount"))
          .join(parts, "p_partkey")
          .groupBy(col("year_month"), col("category_group"))
          .agg(Q.dsum(col("amount")).as("total_amount"),
            count(lit(1)).as("transaction_count"),
            // decimal SUM → double, THEN divide (the ab1 pattern): decimal
            // division scale/rounding is engine-specific, double÷int isn't
            (Q.dsum(col("amount")) / count(lit(1))).as("avg_amount"))
      },
      Some(s"""WITH p AS (
              |  SELECT p_partkey,
              |    CASE WHEN p_type IN ('STANDARD', 'ECONOMY', 'MEDIUM')
              |           THEN 'Payroll'
              |         WHEN p_type IN ('PROMO') THEN 'Marketing'
              |    END AS category_group
              |  FROM part
              |  WHERE p_type IN ('STANDARD', 'ECONOMY', 'MEDIUM', 'PROMO'))
              |SELECT strftime(l_shipdate, '%Y-%m') AS year_month,
              |  category_group,
              |  ${Q.dsumSql("l_extendedprice")} AS total_amount,
              |  CAST(COUNT(*) AS BIGINT) AS transaction_count,
              |  ${Q.dsumSql("l_extendedprice")} / COUNT(*) AS avg_amount
              |FROM lineitem JOIN p ON l_partkey = p_partkey
              |GROUP BY 1, 2""".stripMargin)),

    // RP8: 2-week-pass journey diagnostic (`diagnose_2week_pass_journey.py:
    // 27-220`) — per 2-week-pass purchaser, walk the automated-journey
    // stages and name the first one that BROKE: first qualifying check-in →
    // flag created (the reference's 2_week_pass flag = our
    // returning_offer_2wk, the same FirstTimeDayPass2WeekOfferFlag family)
    // → email known (the capitan→uuid→email identifier chain = synthEmail,
    // with the reference's 'No email' sentinel) → present in the commerce
    // system (the u2d name-number directory — ONE matching definition
    // shared with the recovery mart, so the two reports can never disagree
    // about who is findable) → campaign emails received, split by system
    // (the reference's SendGrid/Mailchimp recipient activity = rp2's
    // campaign model partitioned by k parity). The 2-week classes refine
    // rp3's entry-method ladder on the 8-modulus (both land in rp3's
    // non-membership seats, so the two reports' cohort algebra composes).
    // Shape: ONE event pass (window first-row per user on (ts, event_id) —
    // user-keyed, never global), then user-keyed left joins: flag rollup,
    // customer dim, directory, one conditional campaign aggregate — one
    // hash partitioning end to end; output is cohort-sized.
    Q("rp8_pass_journey_diagnostic",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pt8 = col("event_id") % 8
        val cohortEvents = Tables.events(s, d)
          .filter(col("event_type") === "view" && Q.usecs(col("ts")) < asOfUs &&
            (pt8 === 1 || pt8 === 5))
          .select(col("user_id"), col("ts"), col("event_id"),
            when(pt8 === 1, "2-Week Climbing Pass")
              .otherwise("2-Week Fitness Pass").as("pass_type"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val cohort = cohortEvents
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"), Q.tsFmt(col("ts")).as("first_checkin"),
            col("pass_type"))
        val flags = FlagQs.flagsAt(s, d, asOfUs)
          .filter(col("flag_type") === "returning_offer_2wk")
          .select(col("user_id"), col("flag_data"))
        val cust = Tables.customer(s, d)
          .select(col("c_custkey").cast("long").as("user_id"),
            col("c_name").as("name"), CustomerMaster.synthEmail.as("email"),
            regexp_extract(lower(trim(col("c_name"))), "#([0-9]+)", 1)
              .as("num"))
        // the u2d directory: suppliers with an email seat, keyed by the
        // normalized person number
        val dir = Tables.supplier(s, d)
          .filter(col("s_suppkey") % 11 =!= 5)
          .select(
            regexp_extract(lower(trim(col("s_name"))), "#([0-9]+)", 1)
              .as("num"))
          .groupBy(col("num")).agg(count(lit(1)).as("__d"))
          .select(col("num"), lit(true).as("shopify_found"))
        val camp = Tables.events(s, d)
          // campaigns are the views that are NOT facility check-ins (the
          // rp3/rp8 entry-method classes) — without the exclusion the
          // cohort's own check-in counts as a received email and the
          // 'no_emails_received' break can structurally never fire
          .filter(col("event_type") === "view" && Q.usecs(col("ts")) < asOfUs &&
            col("event_id") % 4 === 3)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("user_id"))
          .agg(sum(when(col("k") % 2 === 0, 1L).otherwise(0L))
              .as("sendgrid_email_count"),
            sum(when(col("k") % 2 === 1, 1L).otherwise(0L))
              .as("mailchimp_email_count"))
        cohort
          .join(flags, Seq("user_id"), "left")
          .join(cust, Seq("user_id"), "left")
          .join(dir, Seq("num"), "left")
          .join(camp, Seq("user_id"), "left")
          .select(col("user_id").as("customer_id"), col("name"),
            coalesce(col("email"), lit("No email")).as("email"),
            col("pass_type"), col("first_checkin"),
            col("flag_data").isNotNull.as("has_flag"),
            coalesce(col("flag_data"), lit("N/A")).as("flag_data"),
            // the reference's Shopify search only RUNS when the identifier
            // chain produced an email — a no-email purchaser must read
            // shopify_found=false even if their number is in the directory
            when(col("email").isNotNull,
              coalesce(col("shopify_found"), lit(false))).otherwise(false)
              .as("shopify_found"),
            // email-gated counts: the reference only reads recipient
            // activity when the identifier chain produced an email
            when(col("email").isNotNull,
              coalesce(col("sendgrid_email_count"), lit(0L))).otherwise(0L)
              .as("sendgrid_email_count"),
            when(col("email").isNotNull,
              coalesce(col("mailchimp_email_count"), lit(0L))).otherwise(0L)
              .as("mailchimp_email_count"))
          .withColumn("journey_break",
            when(!col("has_flag"), "missing_flag")
              .when(col("email") === "No email", "missing_email")
              .when(!col("shopify_found"), "not_in_shopify")
              .when(col("sendgrid_email_count") + col("mailchimp_email_count")
                === 0L, "no_emails_received")
              .otherwise("complete"))
      },
      Some(s"""WITH flags AS (${FlagQs.flagsSql(asOfUs)}),
              |ce AS (
              |  SELECT user_id, ts, event_id,
              |    CASE event_id % 8 WHEN 1 THEN '2-Week Climbing Pass'
              |         ELSE '2-Week Fitness Pass' END AS pass_type
              |  FROM events
              |  WHERE event_type = 'view' AND ${Q.usecsSql("ts")} < $asOfUs
              |    AND event_id % 8 IN (1, 5)),
              |cohort AS (
              |  SELECT user_id, ${Q.tsFmtSql("ts")} AS first_checkin, pass_type
              |  FROM ce
              |  QUALIFY row_number() OVER (PARTITION BY user_id
              |    ORDER BY ts, event_id) = 1),
              |f2 AS (
              |  SELECT user_id, flag_data FROM flags
              |  WHERE flag_type = 'returning_offer_2wk'),
              |cust AS (
              |  SELECT CAST(c_custkey AS BIGINT) AS user_id, c_name AS name,
              |    ${CustomerMaster.synthEmailSql} AS email,
              |    regexp_extract(lower(trim(c_name)), '#([0-9]+)', 1) AS num
              |  FROM customer),
              |dir AS (
              |  SELECT regexp_extract(lower(trim(s_name)), '#([0-9]+)', 1)
              |      AS num, true AS shopify_found
              |  FROM supplier WHERE s_suppkey % 11 <> 5
              |  GROUP BY 1),
              |camp AS (
              |  SELECT user_id,
              |    CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$$.k')
              |      AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS sendgrid_email_count,
              |    CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$$.k')
              |      AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS mailchimp_email_count
              |  FROM events
              |  WHERE event_type = 'view' AND ${Q.usecsSql("ts")} < $asOfUs
              |    AND event_id % 4 = 3
              |  GROUP BY 1),
              |base AS (
              |  SELECT co.user_id AS customer_id, cu.name,
              |    COALESCE(cu.email, 'No email') AS email,
              |    co.pass_type, co.first_checkin,
              |    f2.flag_data IS NOT NULL AS has_flag,
              |    COALESCE(f2.flag_data, 'N/A') AS flag_data,
              |    CASE WHEN cu.email IS NOT NULL
              |      THEN COALESCE(dr.shopify_found, false) ELSE false
              |      END AS shopify_found,
              |    CASE WHEN cu.email IS NOT NULL
              |      THEN COALESCE(ca.sendgrid_email_count, 0) ELSE 0
              |      END AS sendgrid_email_count,
              |    CASE WHEN cu.email IS NOT NULL
              |      THEN COALESCE(ca.mailchimp_email_count, 0) ELSE 0
              |      END AS mailchimp_email_count
              |  FROM cohort co
              |  LEFT JOIN f2 ON f2.user_id = co.user_id
              |  LEFT JOIN cust cu ON cu.user_id = co.user_id
              |  LEFT JOIN dir dr ON dr.num = cu.num
              |  LEFT JOIN camp ca ON ca.user_id = co.user_id)
              |SELECT *,
              |  CASE WHEN NOT has_flag THEN 'missing_flag'
              |       WHEN email = 'No email' THEN 'missing_email'
              |       WHEN NOT shopify_found THEN 'not_in_shopify'
              |       WHEN sendgrid_email_count + mailchimp_email_count = 0
              |         THEN 'no_emails_received'
              |       ELSE 'complete' END AS journey_break
              |FROM base""".stripMargin))
  )
}
