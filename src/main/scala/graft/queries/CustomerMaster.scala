package graft.queries

import graft.core.Tables
import graft.flags.FlagPasses
import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CM1 — the wide customer master: ONE row per customer carrying identity,
  * family links + contact fallback, membership state, spend, visit stats,
  * lead classification, outreach/engagement counters, and the flag rollup,
  * as a single declared plan.
  *
  * Reference: `build_customer_master.py:28-570` — the reference's
  * most-consumed table, built there as ~10 sequential pandas passes with
  * driver-side dict lookups. Here every pass is a key-partitioned aggregate
  * or join on the customer key, so the build is one DAG with no driver state:
  *
  *  - base + synthetic identity (`:120-152`): email derived deterministically
  *    from the key (the u2b seam — local part from the key, domain ladder by
  *    key%10); `%7==3` models the missing-email rows, `%13==12` shares the
  *    previous customer's email (the same-email duplicate class flagged at
  *    `:137-152` via a count-over-email window).
  *  - family (`:167-266`): FlagPasses.familyMap derives (child, parent) from
  *    the key universe; contact_email falls back to the parent's
  *    (`:196-211`), children roll up to parents (`:252-266`).
  *  - membership (`:283-338`): orders are the membership ledger (j4's
  *    convention) — status 'O' is ACT; the carried name/start prefer an
  *    active row then latest start (`membership_info`'s ACT-preference),
  *    via max_by over a sortable act|date|key string.
  *  - check-in stats (`:330-347`), spend (`:351-368`), lead source =
  *    first lead-eligible event mapped through the entry-method ladder
  *    (`:373-440`), crew contact (`:444-465`), klaviyo engagement
  *    (`:469-495`) — ONE aggregate pass over events and one over orders.
  *  - flags (`:505-516`): the u1 rules engine output rolled up per user
  *    (sorted comma-join, the reference's `', '.join`).
  *
  * Scale shape: events/orders each shuffle once into per-customer aggregates;
  * every join is an equi-join on the customer key, so the chained left joins
  * sort-merge on one partitioning with no re-exchange of the accumulating
  * master; the only non-key shuffle is the dup-check window on (slim) email.
  * Nothing customer-sized is broadcast and there is no driver-side state.
  */
object CustomerMaster {

  /** Evaluation clock shared with the flag rules: 2024-01-31T00:00:00Z. */
  private val asOfUs = FlagQs.asOfUs

  private val DayUs = 86400000000L

  /** Synthetic contact email over an arbitrary person-key column (SURVEY
    * §1.2 identity model: `%7==3` models missing-email rows, `%13==12`
    * shares the previous customer's email — the duplicate class the
    * reference flags). Parameterized so a TRANSACTION row can carry the
    * same person's receipt email without pre-linking through the key
    * (cm2's email-match strategy — the cross-system identifier is the
    * email string, never the key). */
  private[queries] def synthEmailOf(key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val emailKey = key - when(key % 13 === 12, 1L).otherwise(0L)
    val domain = when(emailKey % 10 <= 3, "gmail.com")
      .when(emailKey % 10 <= 7, "climb.org").otherwise("yahoo.net")
    when(key % 7 =!= 3,
      concat(lit("c"), emailKey.cast("string"), lit("@"), domain))
  }

  /** The customer-master spelling of [[synthEmailOf]]. Shared by the master
    * build and the rp2 flag-email cross-check. */
  private[queries] val synthEmail: org.apache.spark.sql.Column =
    synthEmailOf(col("c_custkey"))

  /** Oracle-side spelling of [[synthEmailOf]]. */
  private[queries] def synthEmailSqlOf(keyExpr: String): String = {
    val ek = s"($keyExpr - CASE WHEN $keyExpr % 13 = 12 THEN 1 ELSE 0 END)"
    s"""CASE WHEN $keyExpr % 7 <> 3 THEN
       |      'c' || CAST($ek AS VARCHAR) || '@' ||
       |      CASE WHEN $ek % 10 <= 3 THEN 'gmail.com'
       |           WHEN $ek % 10 <= 7 THEN 'climb.org'
       |           ELSE 'yahoo.net' END
       |    END""".stripMargin
  }

  /** Oracle-side spelling of [[synthEmail]]. */
  private[queries] val synthEmailSql: String = synthEmailSqlOf("c_custkey")

  /** The wide-master frame, reusable by downstream composites (dq1). */
  private[queries] def master(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
        // --- base + synthetic identity ------------------------------------
        val email = synthEmail
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("c_nationkey"), col("c_acctbal"), email.as("email"))
          .withColumn("is_potential_duplicate",
            col("email").isNotNull &&
              count(lit(1)).over(Window.partitionBy(col("email"))) > 1)

        // --- family dim (child -> parent) and rollups ---------------------
        // materialized once: both the child join and the kids rollup consume
        // it, and familyMap itself reads its universe twice — without the
        // checkpoint the customer scan replays 4x (the u1c lesson)
        val fam = FlagPasses.familyMap(
          base.select(col("c_custkey").as("user_id"))).barrier()
        val kids = fam.groupBy(col("parent_id"))
          .agg(count(lit(1)).as("child_count"),
            concat_ws(",", array_sort(collect_set(col("child_id").cast("string"))))
              .as("child_customer_ids"))
          .withColumnRenamed("parent_id", "kp_key")
        val parents = base.select(col("c_custkey").as("p_key"),
          col("email").as("parent_email"))

        // --- membership + spend: one aggregate over orders ----------------
        // mk sort key: the date is rendered EXPLICITLY (date_format) — %s
        // on a TimestampType would format the internal epoch-micros long,
        // whose lexicographic order only coincides with the oracle's ISO
        // string while every date stays 15 digits wide
        val om = Tables.orders(s, d)
          .withColumn("mk", format_string("%d|%s|%010d",
            when(col("o_orderstatus") === "O", 1).otherwise(0),
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
            col("o_orderkey")))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            Q.dsum(col("o_totalprice")).as("total_spend"),
            bool_or(col("o_orderstatus") === "O").as("has_active"),
            max_by(col("o_orderpriority"), col("mk")).as("membership_name"),
            max_by(col("o_orderdate"), col("mk")).as("membership_start_date"))

        // --- visits, lead source, crew, klaviyo: one pass over events -----
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            Q.usecs(col("ts")).as("us"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("total_visits"),
            min(col("us")).as("first_us"),
            max(col("us")).as("last_us"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
              .as("crew_contact_count"),
            max(when(col("event_type") === "error", col("us"))).as("crew_us"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("klaviyo_emails_received"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("klaviyo_emails_opened"),
            nullif(concat_ws(",", array_sort(collect_set(
              when(col("event_type") === "view" && col("k").isNotNull,
                concat(lit("flow_"), (col("k") % 4).cast("string")))))), lit(""))
              .as("klaviyo_flows_entered"),
            expr("min_by(event_type, format_string('%020d|%020d', us, event_id)) " +
              "FILTER (WHERE event_type IN ('view','click','signup'))").as("lead_ev"))

        // --- flag rollup: u1 rules engine output, comma-joined ------------
        val fl = FlagQs.flagsAt(s, d, asOfUs)
          .groupBy(col("user_id"))
          .agg(concat_ws(",", array_sort(collect_set(col("flag_type"))))
              .as("active_flags"),
            count(lit(1)).as("flag_count"))

        // --- assemble: chained left equi-joins on the customer key --------
        val m = base
          .join(fam, base("c_custkey") === fam("child_id"), "left")
          .join(parents, col("parent_id") === col("p_key"), "left")
          .join(kids, base("c_custkey") === kids("kp_key"), "left")
          .join(om, base("c_custkey") === om("o_custkey"), "left")
          .join(ev, base("c_custkey") === ev("user_id"), "left")
          .join(fl, base("c_custkey") === fl("user_id"), "left")

        val active = coalesce(col("has_active"), lit(false))
        val ever = col("o_custkey").isNotNull
        val lapsed = ever && !active
        val leadSrcRaw = when(col("lead_ev") === "view", "Day Pass")
          .when(col("lead_ev") === "click", "Guest Pass")
          .when(col("lead_ev") === "signup", "Event")
        val crewN = coalesce(col("crew_contact_count"), lit(0L))

        m.select(
          base("c_custkey").as("customer_id"),
          col("c_name").as("name"),
          col("c_mktsegment").as("segment"),
          col("c_nationkey").as("nation_key"),
          col("c_acctbal").as("acctbal"),
          col("email"),
          col("parent_id").as("parent_customer_id"),
          col("parent_email"),
          coalesce(col("email"), col("parent_email")).as("contact_email"),
          (col("email").isNull && col("parent_email").isNotNull)
            .as("is_using_parent_contact"),
          col("is_potential_duplicate"),
          col("child_id").isNotNull.as("is_child"),
          col("kp_key").isNotNull.as("has_youth"),
          coalesce(col("child_count"), lit(0L)).as("child_count"),
          col("child_customer_ids"),
          active.as("has_active_membership"),
          ever.as("ever_had_membership"),
          lapsed.as("is_lapsed_member"),
          col("membership_name"),
          col("membership_start_date"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spend"), lit(0.0)).as("total_spend"),
          coalesce(col("total_visits"), lit(0L)).as("total_visits"),
          Q.tsFmt(timestamp_micros(col("first_us"))).as("first_checkin"),
          Q.tsFmt(timestamp_micros(col("last_us"))).as("last_checkin"),
          ((lit(asOfUs) - col("last_us")).cast("long") / lit(DayUs)).cast("long")
            .as("days_since_last_visit"),
          coalesce(leadSrcRaw, when(lapsed, "Lapsed Member")).as("lead_source"),
          ((leadSrcRaw.isNotNull || lapsed) && !active).as("is_lead"),
          (crewN > 0).as("has_been_contacted"),
          crewN.as("crew_contact_count"),
          Q.tsFmt(timestamp_micros(col("crew_us"))).as("last_crew_contact"),
          coalesce(col("klaviyo_emails_received"), lit(0L)).as("klaviyo_emails_received"),
          coalesce(col("klaviyo_emails_opened"), lit(0L)).as("klaviyo_emails_opened"),
          col("klaviyo_flows_entered"),
          col("active_flags"),
          coalesce(col("flag_count"), lit(0L)).as("flag_count"))
  }

  /** Oracle-side wide master (a full SELECT), reusable as a CTE body. */
  private[queries] lazy val masterSql: String = {
        s"""WITH base AS (
           |  SELECT c_custkey, c_name, c_mktsegment, c_nationkey, c_acctbal,
           |    $synthEmailSql AS email
           |  FROM customer),
           |based AS MATERIALIZED (
           |  SELECT *, email IS NOT NULL AND
           |      COUNT(*) OVER (PARTITION BY email) > 1 AS is_potential_duplicate
           |  FROM base),
           |fam AS MATERIALIZED (
           |  SELECT c_custkey AS child_id, c_custkey - c_custkey % 10 AS parent_id
           |  FROM customer
           |  WHERE c_custkey % 10 >= 8
           |    AND (c_custkey - c_custkey % 10) IN (SELECT c_custkey FROM customer)),
           |kids AS (
           |  SELECT parent_id, CAST(COUNT(*) AS BIGINT) AS child_count,
           |    string_agg(DISTINCT CAST(child_id AS VARCHAR), ','
           |      ORDER BY CAST(child_id AS VARCHAR)) AS child_customer_ids
           |  FROM fam GROUP BY parent_id),
           |om AS (
           |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |    ${Q.dsumSql("o_totalprice")} AS total_spend,
           |    bool_or(o_orderstatus = 'O') AS has_active,
           |    arg_max(o_orderpriority, printf('%d|%s|%010d',
           |      CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END,
           |      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderkey))
           |      AS membership_name,
           |    arg_max(o_orderdate, printf('%d|%s|%010d',
           |      CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END,
           |      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderkey))
           |      AS membership_start_date
           |  FROM orders GROUP BY o_custkey),
           |ev AS (
           |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total_visits,
           |    MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           |      AS crew_contact_count,
           |    MAX(epoch_us(ts)) FILTER (WHERE event_type = 'error') AS crew_us,
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
           |      AS klaviyo_emails_received,
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
           |      AS klaviyo_emails_opened,
           |    string_agg(DISTINCT
           |        'flow_' || CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT) % 4
           |          AS VARCHAR), ','
           |        ORDER BY 'flow_' || CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT) % 4
           |          AS VARCHAR))
           |      FILTER (WHERE event_type = 'view'
           |        AND json_extract_string(props, '$$.k') IS NOT NULL)
           |      AS klaviyo_flows_entered,
           |    arg_min(event_type, printf('%020d|%020d', epoch_us(ts), event_id))
           |      FILTER (WHERE event_type IN ('view', 'click', 'signup')) AS lead_ev
           |  FROM events GROUP BY user_id),
           |fl AS (
           |  SELECT user_id,
           |    string_agg(DISTINCT flag_type, ',' ORDER BY flag_type) AS active_flags,
           |    CAST(COUNT(*) AS BIGINT) AS flag_count
           |  FROM (${FlagQs.flagsSql(asOfUs)}) GROUP BY user_id)
           |SELECT
           |  b.c_custkey AS customer_id, b.c_name AS name,
           |  b.c_mktsegment AS segment, b.c_nationkey AS nation_key,
           |  b.c_acctbal AS acctbal, b.email,
           |  f.parent_id AS parent_customer_id,
           |  p.email AS parent_email,
           |  COALESCE(b.email, p.email) AS contact_email,
           |  b.email IS NULL AND p.email IS NOT NULL AS is_using_parent_contact,
           |  b.is_potential_duplicate,
           |  f.child_id IS NOT NULL AS is_child,
           |  k.parent_id IS NOT NULL AS has_youth,
           |  COALESCE(k.child_count, 0) AS child_count,
           |  k.child_customer_ids,
           |  COALESCE(om.has_active, false) AS has_active_membership,
           |  om.o_custkey IS NOT NULL AS ever_had_membership,
           |  om.o_custkey IS NOT NULL AND NOT COALESCE(om.has_active, false)
           |    AS is_lapsed_member,
           |  om.membership_name, om.membership_start_date,
           |  COALESCE(om.n_orders, 0) AS n_orders,
           |  COALESCE(om.total_spend, 0.0) AS total_spend,
           |  COALESCE(ev.total_visits, 0) AS total_visits,
           |  ${Q.tsFmtSql("make_timestamp(ev.first_us)")} AS first_checkin,
           |  ${Q.tsFmtSql("make_timestamp(ev.last_us)")} AS last_checkin,
           |  ($asOfUs - ev.last_us) // $DayUs AS days_since_last_visit,
           |  COALESCE(
           |    CASE ev.lead_ev WHEN 'view' THEN 'Day Pass'
           |      WHEN 'click' THEN 'Guest Pass' WHEN 'signup' THEN 'Event' END,
           |    CASE WHEN om.o_custkey IS NOT NULL
           |        AND NOT COALESCE(om.has_active, false)
           |      THEN 'Lapsed Member' END) AS lead_source,
           |  (ev.lead_ev IS NOT NULL
           |    OR (om.o_custkey IS NOT NULL AND NOT COALESCE(om.has_active, false)))
           |    AND NOT COALESCE(om.has_active, false) AS is_lead,
           |  COALESCE(ev.crew_contact_count, 0) > 0 AS has_been_contacted,
           |  COALESCE(ev.crew_contact_count, 0) AS crew_contact_count,
           |  ${Q.tsFmtSql("make_timestamp(ev.crew_us)")} AS last_crew_contact,
           |  COALESCE(ev.klaviyo_emails_received, 0) AS klaviyo_emails_received,
           |  COALESCE(ev.klaviyo_emails_opened, 0) AS klaviyo_emails_opened,
           |  ev.klaviyo_flows_entered,
           |  fl.active_flags,
           |  COALESCE(fl.flag_count, 0) AS flag_count
           |FROM based b
           |LEFT JOIN fam f ON b.c_custkey = f.child_id
           |LEFT JOIN based p ON f.parent_id = p.c_custkey
           |LEFT JOIN kids k ON b.c_custkey = k.parent_id
           |LEFT JOIN om ON b.c_custkey = om.o_custkey
           |LEFT JOIN ev ON b.c_custkey = ev.user_id
           |LEFT JOIN fl ON b.c_custkey = fl.user_id""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("cm1_customer_master", (s, d) => master(s, d), Some(masterSql),
      bench = true)
  )
}
