package graft.queries

import graft.core.Tables
import graft.ops.Checkpoints
import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.functions._

/** DQ1 — the warehouse-health "data questions" mart: customers whose data
  * the pipeline can't resolve automatically, emitted as a CRM review queue.
  *
  * Reference: `build_data_questions.py:20-170` — three question classes
  * over the customer master + family links + checkins: (Q1) active
  * children with unresolved/ambiguous parentage, (Q2) reachable leads that
  * never entered a mail flow (capped at 50), (Q3) lapsed members never
  * contacted by crew.
  *
  * Q1 is re-grounded in the engine's own family-evidence model: the
  * reference matches child surnames against adults-with-email; here the
  * equivalent ambiguity signal is fam1's edge disagreement — a child whose
  * BEHAVIORAL edges (reservation-slot owner, shared-checkin adult) point at
  * parents other than the relations-dim parent needs a human call
  * (`ambiguous_parent`), and a child-shaped key with no relations link at
  * all is `missing_parent` (rare by construction in a contiguous key
  * universe, but the class the reference's Q1 names).
  *
  * Scale shape: one pass over the wide master (checkpointed — three
  * question branches consume it), the behavioral edge union re-uses fam1's
  * blocked derivations (slot-keyed equi-join + bucketed proximity), and
  * every branch is a filter + key-partitioned aggregate; the only global
  * order is Q2's reference-mandated deterministic 50-row cap (a top-k, not
  * a sort of the corpus).
  */
object DataQuestions {

  val qs: Seq[Q] = Seq(
    Q("dq1_data_questions",
      (s, d) => {
        // §2.6 (overlap independent jobs): the wide-master subtree (flags
        // engine + six keyed rollups) and the behavioral family-edge union
        // (slot equi-join + bucketed proximity) share no inputs beyond the
        // base scans — run both barriers at once (Checkpoints.both) so the
        // edge build back-fills the master's barrier tail instead of queuing
        // behind it. Plans are untouched; results cannot change.
        val (cm, beh) = Checkpoints.both(
          // three branches consume the master
          CustomerMaster.master(s, d).barrier(),
          // Q1: family-evidence questions over active child-shaped keys
          FamilyEdges.reservationEdges(s, d)
            .unionByName(FamilyEdges.checkinEdges(s, d))
            .select(col("parent_customer_id").as("b_parent"),
              col("child_customer_id").as("b_child"))
            .barrier())
        val kids = cm.filter(col("customer_id") % 10 >= 8 &&
            col("total_visits") > 0)
          .select(col("customer_id"), col("name"), col("is_child"),
            col("parent_customer_id"), col("total_visits"))
        val q1 = kids
          .join(beh, col("customer_id") === col("b_child"), "left")
          .withColumn("disagree", col("b_parent").isNotNull &&
            (col("parent_customer_id").isNull ||
              col("b_parent") =!= col("parent_customer_id")))
          .groupBy(col("customer_id"), col("name"), col("is_child"),
            col("total_visits"))
          .agg(countDistinct(when(col("disagree"), col("b_parent")))
            .as("n_cand"))
          .filter(!col("is_child") || col("n_cand") >= 1)
          .select(col("customer_id"), col("name").as("customer_name"),
            when(!col("is_child"), "missing_parent")
              .otherwise("ambiguous_parent").as("question_type"),
            when(!col("is_child"),
                when(col("total_visits") >= 3, "high").otherwise("medium"))
              .otherwise("medium").as("priority"),
            col("n_cand").as("n_candidates"), col("total_visits"))

        // Q2: reachable leads never in a mail flow — deterministic 50 cap
        // (the reference's head(50)), smallest keys first. Priority rides
        // ORDER volume, not visits: in this event model zero-Klaviyo leads
        // are exactly the no-event lapsed class (every visiting user
        // receives views), so the reference's visit-count priority signal
        // is re-grounded on the ledger that actually has volume for them.
        val q2 = cm.filter(col("is_lead") && col("contact_email").isNotNull &&
            col("klaviyo_emails_received") === 0)
          .orderBy(col("customer_id")).limit(50)
          .select(col("customer_id"), col("name").as("customer_name"),
            lit("no_klaviyo").as("question_type"),
            when(col("n_orders") >= 5, "high").otherwise("medium")
              .as("priority"),
            lit(null).cast("long").as("n_candidates"), col("total_visits"))

        // Q3: lapsed members never contacted by crew
        val q3 = cm.filter(col("is_lapsed_member") &&
            !col("has_been_contacted") && col("contact_email").isNotNull)
          .select(col("customer_id"), col("name").as("customer_name"),
            lit("lapsed_no_contact").as("question_type"),
            lit("medium").as("priority"),
            lit(null).cast("long").as("n_candidates"), col("total_visits"))

        q1.unionByName(q2).unionByName(q3)
      },
      Some(
        s"""WITH cm AS MATERIALIZED (${CustomerMaster.masterSql}),
           |${FamilyEdges.behavioralSqlCtes},
           |beh AS (
           |  SELECT parent_customer_id AS b_parent,
           |         child_customer_id AS b_child
           |  FROM (SELECT parent_customer_id, child_customer_id FROM res
           |        UNION ALL
           |        SELECT parent_customer_id, child_customer_id FROM prox)),
           |q1 AS (
           |  SELECT customer_id, customer_name,
           |    CASE WHEN NOT is_child THEN 'missing_parent'
           |         ELSE 'ambiguous_parent' END AS question_type,
           |    CASE WHEN NOT is_child THEN
           |           CASE WHEN total_visits >= 3 THEN 'high' ELSE 'medium' END
           |         ELSE 'medium' END AS priority,
           |    n_cand AS n_candidates, total_visits
           |  FROM (
           |    SELECT cm.customer_id, cm.name AS customer_name, cm.is_child,
           |      cm.total_visits,
           |      CAST(COUNT(DISTINCT CASE WHEN b.b_parent IS NOT NULL
           |        AND (cm.parent_customer_id IS NULL
           |             OR b.b_parent <> cm.parent_customer_id)
           |        THEN b.b_parent END) AS BIGINT) AS n_cand
           |    FROM cm LEFT JOIN beh b ON cm.customer_id = b.b_child
           |    WHERE cm.customer_id % 10 >= 8 AND cm.total_visits > 0
           |    GROUP BY 1, 2, 3, 4)
           |  WHERE NOT is_child OR n_cand >= 1),
           |q2 AS (
           |  SELECT customer_id, name AS customer_name,
           |    'no_klaviyo' AS question_type,
           |    CASE WHEN n_orders >= 5 THEN 'high' ELSE 'medium' END
           |      AS priority,
           |    CAST(NULL AS BIGINT) AS n_candidates, total_visits
           |  FROM cm
           |  WHERE is_lead AND contact_email IS NOT NULL
           |    AND klaviyo_emails_received = 0
           |  ORDER BY customer_id LIMIT 50),
           |q3 AS (
           |  SELECT customer_id, name AS customer_name,
           |    'lapsed_no_contact' AS question_type,
           |    'medium' AS priority,
           |    CAST(NULL AS BIGINT) AS n_candidates, total_visits
           |  FROM cm
           |  WHERE is_lapsed_member AND NOT has_been_contacted
           |    AND contact_email IS NOT NULL)
           |SELECT * FROM q1
           |UNION ALL SELECT * FROM q2
           |UNION ALL SELECT * FROM q3""".stripMargin),
      // promoted round 11: third-largest untimed query by 3-rep median
      // (3.99 s at sf0.1) — the master-consuming CRM queue
      bench = true),

    // DQ2: declarative CONSTRAINT SUITE over the raw warehouse tables — the
    // Deequ-style publish gate dq1's CRM queue doesn't cover: uniqueness,
    // completeness, value-range, set-membership, and referential-integrity
    // checks, each reported as (table, constraint, violations, ok). The
    // Deequ core trick applies: ALL of a table's metrics compute in ONE
    // aggregation pass (violations are conditional counts), plus one
    // anti-join per referential rule — so the suite costs one scan per
    // table regardless of how many constraints it carries. At 100 TB this
    // is the nightly load's go/no-go before marts publish.
    Q("dq2_constraint_report",
      (s, d) => {
        import graft.core.Tables
        val knownTypes = Seq("click", "error", "purchase", "signup", "view")
        val o = Tables.orders(s, d).agg(
          count(lit(1)).as("o_n"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("o_dup_key"),
          count(when(col("o_custkey").isNull, 1)).as("o_null_cust"),
          count(when(col("o_totalprice") <= 0, 1)).as("o_bad_price"))
        // NULL-key rows are the `complete:` constraint's business, not the
        // `ref:` one — filter them EXPLICITLY so both engines agree when the
        // constraint fires (a bare NOT IN oracle would return NULL for a
        // NULL o_custkey and collapse to 0 rows if any c_custkey were NULL;
        // the anti-join would count them — divergent exactly on dirty data).
        val orphans = Tables.orders(s, d)
          .filter(col("o_custkey").isNotNull)
          .join(Tables.customer(s, d).filter(col("c_custkey").isNotNull),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("o_orphans"))
        val e = Tables.events(s, d).agg(
          count(lit(1)).as("e_n"),
          (count(lit(1)) - countDistinct(col("event_id"))).as("e_dup_key"),
          count(when(col("event_type").isNull, 1)).as("e_null_type"),
          count(when(not(col("event_type").isin(knownTypes: _*)), 1)).as("e_bad_type"),
          count(when(col("value") < 0, 1)).as("e_neg_value"))
        val c = Tables.customer(s, d).agg(
          count(lit(1)).as("c_n"),
          (count(lit(1)) - countDistinct(col("c_custkey"))).as("c_dup_key"),
          count(when(col("c_mktsegment").isNull, 1)).as("c_null_seg"))
        val m = o.crossJoin(broadcast(orphans)).crossJoin(broadcast(e))
          .crossJoin(broadcast(c))
        def row(t: String, cn: String, v: String, n: String) =
          s"struct('$t' AS table_name, '$cn' AS constraint_name, " +
            s"CAST($n AS BIGINT) AS n_checked, CAST($v AS BIGINT) AS violations)"
        m.select(explode(expr(s"array(${Seq(
            row("orders", "unique:o_orderkey", "o_dup_key", "o_n"),
            row("orders", "complete:o_custkey", "o_null_cust", "o_n"),
            row("orders", "range:o_totalprice>0", "o_bad_price", "o_n"),
            row("orders", "ref:o_custkey->customer", "o_orphans", "o_n"),
            row("events", "unique:event_id", "e_dup_key", "e_n"),
            row("events", "complete:event_type", "e_null_type", "e_n"),
            row("events", "in_set:event_type", "e_bad_type", "e_n"),
            row("events", "range:value>=0", "e_neg_value", "e_n"),
            row("customer", "unique:c_custkey", "c_dup_key", "c_n"),
            row("customer", "complete:c_mktsegment", "c_null_seg", "c_n")).mkString(", ")})"))
            .as("r"))
          .select(col("r.table_name"), col("r.constraint_name"),
            col("r.n_checked"), col("r.violations"),
            (col("r.violations") === 0).as("ok"))
      },
      Some("""WITH o AS MATERIALIZED (
             |  SELECT COUNT(*) AS n, COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_key,
             |    COUNT(*) FILTER (WHERE o_custkey IS NULL) AS null_cust,
             |    COUNT(*) FILTER (WHERE o_totalprice <= 0) AS bad_price
             |  FROM orders),
             |orph AS (
             |  -- NOT EXISTS + explicit NULL guards: NULL keys are the
             |  -- complete: constraint's business; NOT IN would silently
             |  -- diverge from the engine's anti-join on dirty data
             |  SELECT COUNT(*) AS orphans FROM orders o2
             |  WHERE o2.o_custkey IS NOT NULL AND NOT EXISTS (
             |    SELECT 1 FROM customer c2
             |    WHERE c2.c_custkey IS NOT NULL
             |      AND c2.c_custkey = o2.o_custkey)),
             |e AS MATERIALIZED (
             |  SELECT COUNT(*) AS n, COUNT(*) - COUNT(DISTINCT event_id) AS dup_key,
             |    COUNT(*) FILTER (WHERE event_type IS NULL) AS null_type,
             |    COUNT(*) FILTER (WHERE event_type NOT IN
             |      ('click','error','purchase','signup','view')) AS bad_type,
             |    COUNT(*) FILTER (WHERE value < 0) AS neg_value
             |  FROM events),
             |c AS MATERIALIZED (
             |  SELECT COUNT(*) AS n, COUNT(*) - COUNT(DISTINCT c_custkey) AS dup_key,
             |    COUNT(*) FILTER (WHERE c_mktsegment IS NULL) AS null_seg
             |  FROM customer)
             |SELECT 'orders' AS table_name, 'unique:o_orderkey' AS constraint_name,
             |  CAST(o.n AS BIGINT) AS n_checked,
             |  CAST(o.dup_key AS BIGINT) AS violations, o.dup_key = 0 AS ok FROM o
             |UNION ALL SELECT 'orders', 'complete:o_custkey', CAST(o.n AS BIGINT),
             |  CAST(o.null_cust AS BIGINT), o.null_cust = 0 FROM o
             |UNION ALL SELECT 'orders', 'range:o_totalprice>0', CAST(o.n AS BIGINT),
             |  CAST(o.bad_price AS BIGINT), o.bad_price = 0 FROM o
             |UNION ALL SELECT 'orders', 'ref:o_custkey->customer',
             |  (SELECT CAST(n AS BIGINT) FROM o),
             |  CAST(orph.orphans AS BIGINT), orph.orphans = 0 FROM orph
             |UNION ALL SELECT 'events', 'unique:event_id', CAST(e.n AS BIGINT),
             |  CAST(e.dup_key AS BIGINT), e.dup_key = 0 FROM e
             |UNION ALL SELECT 'events', 'complete:event_type', CAST(e.n AS BIGINT),
             |  CAST(e.null_type AS BIGINT), e.null_type = 0 FROM e
             |UNION ALL SELECT 'events', 'in_set:event_type', CAST(e.n AS BIGINT),
             |  CAST(e.bad_type AS BIGINT), e.bad_type = 0 FROM e
             |UNION ALL SELECT 'events', 'range:value>=0', CAST(e.n AS BIGINT),
             |  CAST(e.neg_value AS BIGINT), e.neg_value = 0 FROM e
             |UNION ALL SELECT 'customer', 'unique:c_custkey', CAST(c.n AS BIGINT),
             |  CAST(c.dup_key AS BIGINT), c.dup_key = 0 FROM c
             |UNION ALL SELECT 'customer', 'complete:c_mktsegment', CAST(c.n AS BIGINT),
             |  CAST(c.null_seg AS BIGINT), c.null_seg = 0 FROM c""".stripMargin)),

    // DQ3: the system-health / data-freshness monitor (`dashboard/
    // system_health.py:167-254`): per-source max(updated_at) staleness vs
    // the reference's 6h/24h thresholds with its m/h/d age rendering
    // (`:199-215`), the flag-engine run-recency row, and the recent-errors
    // surfacing seat (`:232-254`) — the health-tab complement to dq2's
    // value constraints (dq2 asks "is the data RIGHT", dq3 asks "is the
    // data ARRIVING"). The reference heads S3 objects for LastModified;
    // in-engine each source's recency IS its max event-time, measured
    // against the flag clock and clamped at 0 (data can't arrive from the
    // clock's future). The three event-ledger rows (full ledger, check-in
    // view, trailing-24h errors) share ONE conditional aggregation pass
    // (the dq2 one-pass-per-table discipline) exploded to rows; orders and
    // lineitem are one 1-row pass each; the flag row re-runs the engine at
    // the clock (u1's shape) with the run clock itself as last_updated.
    // Scale shape: every branch is a full-scan max/count — map-side
    // combined, no shuffle wider than one row per source; output is
    // source-count bounded at any corpus size.
    Q("dq3_freshness_report",
      (s, d) => {
        val asOfUs = 1706659200000000L
        val dayUs = 86400000000L
        def us(c: org.apache.spark.sql.Column) = Q.usecs(c)
        val ev = Tables.events(s, d).filter(us(col("ts")) < asOfUs)
        val isErr24 = col("event_type") === "error" &&
          us(col("ts")) >= asOfUs - dayUs
        val evRows = ev.agg(
            max(us(col("ts"))).as("ev_us"), count(lit(1)).as("ev_n"),
            max(when(col("event_type") === "view", us(col("ts")))).as("ck_us"),
            count(when(col("event_type") === "view", 1)).as("ck_n"),
            max(when(isErr24, us(col("ts")))).as("er_us"),
            count(when(isErr24, 1)).as("er_n"))
          .select(explode(array(
            struct(lit("customer_events").as("data_source"),
              col("ev_us").as("last_us"), col("ev_n").as("n_rows")),
            struct(lit("capitan_checkins").as("data_source"),
              col("ck_us").as("last_us"), col("ck_n").as("n_rows")),
            struct(lit("recent_errors").as("data_source"),
              col("er_us").as("last_us"), col("er_n").as("n_rows")))).as("r"))
          .select(col("r.data_source"), col("r.last_us"), col("r.n_rows"))
        val ordRow = Tables.orders(s, d)
          .filter(us(col("o_orderdate")) < asOfUs)
          .agg(max(us(col("o_orderdate"))).as("last_us"),
            count(lit(1)).as("n_rows"))
          .select(lit("stripe_transactions").as("data_source"),
            col("last_us"), col("n_rows"))
        val liRow = Tables.lineitem(s, d)
          .filter(us(col("l_shipdate")) < asOfUs)
          .agg(max(us(col("l_shipdate"))).as("last_us"),
            count(lit(1)).as("n_rows"))
          .select(lit("shipment_lines").as("data_source"),
            col("last_us"), col("n_rows"))
        val flagRow = FlagQs.flagsAt(s, d, asOfUs)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit("customer_flags").as("data_source"),
            lit(asOfUs).as("last_us"), col("n_rows"))
        val all = evRows.unionByName(ordRow).unionByName(liRow)
          .unionByName(flagRow)
        val diff = greatest(lit(0L), lit(asOfUs) - col("last_us"))
        val mins = floor(diff / lit(60000000L)).cast("long")
        val hrs = floor(diff / lit(3600000000L)).cast("long")
        val days = floor(diff / lit(dayUs)).cast("long")
        all.select(col("data_source"),
          when(col("last_us").isNotNull,
            Q.tsFmt(timestamp_micros(col("last_us")))).as("last_updated"),
          when(col("last_us").isNull, "never")
            .when(hrs < 1, concat(mins.cast("string"), lit("m ago")))
            .when(hrs < 24, concat(hrs.cast("string"), lit("h ago")))
            .otherwise(concat(days.cast("string"), lit("d ago"))).as("age"),
          when(col("last_us").isNull, "Stale")
            .when(hrs < 6, "Fresh").when(hrs < 24, "Aging")
            .otherwise("Stale").as("status"),
          col("n_rows"))
      },
      Some {
        val asOfUs = 1706659200000000L
        s"""WITH src AS (
           |  SELECT 'customer_events' AS data_source,
           |    MAX(${Q.usecsSql("ts")}) AS last_us,
           |    CAST(COUNT(*) AS BIGINT) AS n_rows
           |  FROM events WHERE ${Q.usecsSql("ts")} < $asOfUs
           |  UNION ALL
           |  SELECT 'capitan_checkins',
           |    MAX(CASE WHEN event_type = 'view'
           |        THEN ${Q.usecsSql("ts")} END),
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
           |  FROM events WHERE ${Q.usecsSql("ts")} < $asOfUs
           |  UNION ALL
           |  SELECT 'recent_errors',
           |    MAX(CASE WHEN event_type = 'error'
           |        AND ${Q.usecsSql("ts")} >= $asOfUs - 86400000000
           |        THEN ${Q.usecsSql("ts")} END),
           |    CAST(COUNT(*) FILTER (WHERE event_type = 'error'
           |        AND ${Q.usecsSql("ts")} >= $asOfUs - 86400000000) AS BIGINT)
           |  FROM events WHERE ${Q.usecsSql("ts")} < $asOfUs
           |  UNION ALL
           |  SELECT 'stripe_transactions', MAX(${Q.usecsSql("o_orderdate")}),
           |    CAST(COUNT(*) AS BIGINT)
           |  FROM orders WHERE ${Q.usecsSql("o_orderdate")} < $asOfUs
           |  UNION ALL
           |  SELECT 'shipment_lines', MAX(${Q.usecsSql("l_shipdate")}),
           |    CAST(COUNT(*) AS BIGINT)
           |  FROM lineitem WHERE ${Q.usecsSql("l_shipdate")} < $asOfUs
           |  UNION ALL
           |  SELECT 'customer_flags', $asOfUs,
           |    (SELECT CAST(COUNT(*) AS BIGINT)
           |     FROM (${FlagQs.flagsSql(asOfUs)}))),
           |ages AS (
           |  SELECT *, GREATEST(0, $asOfUs - last_us) AS diff,
           |    GREATEST(0, $asOfUs - last_us) // 60000000 AS mins,
           |    GREATEST(0, $asOfUs - last_us) // 3600000000 AS hrs,
           |    GREATEST(0, $asOfUs - last_us) // 86400000000 AS days
           |  FROM src)
           |SELECT data_source,
           |  CASE WHEN last_us IS NOT NULL
           |       THEN ${Q.tsFmtSql("make_timestamp(last_us)")} END
           |    AS last_updated,
           |  CASE WHEN last_us IS NULL THEN 'never'
           |       WHEN hrs < 1 THEN CAST(mins AS VARCHAR) || 'm ago'
           |       WHEN hrs < 24 THEN CAST(hrs AS VARCHAR) || 'h ago'
           |       ELSE CAST(days AS VARCHAR) || 'd ago' END AS age,
           |  CASE WHEN last_us IS NULL THEN 'Stale'
           |       WHEN hrs < 6 THEN 'Fresh' WHEN hrs < 24 THEN 'Aging'
           |       ELSE 'Stale' END AS status,
           |  n_rows
           |FROM ages""".stripMargin
      })
  )
}
