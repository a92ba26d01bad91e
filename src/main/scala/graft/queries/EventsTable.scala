package graft.queries

import graft.core.Tables
import graft.ops.Categorize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's last three composition marts (VERDICT r9 "what's missing"):
  *
  *  - CM2 `customer_transactions` (`build_customer_transactions.py:22-199`):
  *    the transaction→customer match WATERFALL — membership-number regex →
  *    ledger owner; entry-pass-number regex → pass owner; receipt-email →
  *    master email index — first match wins, each tier recorded as
  *    `match_method`, unmatched rows dropped. The one table where every
  *    transaction row a CRM user reads carries its customer.
  *  - EV1 `reservation_events` (`build_reservation_events.py:25-123`):
  *    keyword-ladder classification of reservations into typed signup
  *    events (camp/fitness/climbing/youth/competition), with the booking
  *    owner carried for parent attribution.
  *  - EV2 `events_table` (`build_events_table.py:27-385`): ONE table for
  *    ALL events for ALL people — a 7-source union (check-ins, pipeline
  *    customer events, campaign/flow events, crew contacts, reservations,
  *    birthday parties, linked transactions) normalized to a single
  *    schema + timestamp format, deduplicated on the reference's
  *    (customer, type, date, details) key with source-priority keep-first.
  *
  * Substrate mapping (§1.2/§1.3 conventions already used by the green
  * shapes): orders = the combined multi-source transaction feed AND the
  * reservations ledger (FamilyEdges' slot convention), events 'view' =
  * facility check-ins (rp3/rp8), events 'view' with event_id%4==3 =
  * campaign/flow deliveries (rp8's exclusion — here they become the flow
  * slice, so the two classes partition cleanly), events 'signup'/'purchase'
  * = pipeline customer events, events 'click' = crew touches, and the
  * %25==13 check-in class = birthday-party traffic. The synthetic receipt
  * email is `CustomerMaster.synthEmailOf(o_custkey)` — the transaction
  * carries the person's email STRING, and the match goes through the email
  * equi-join, never the key (the cross-system discipline of u2d/rp8); the
  * %13==12 shared-email duplicate class therefore mis-attributes to the
  * max-key sibling exactly like the reference's dict-overwrite index.
  *
  * Scale shape: every waterfall tier is an equi-join on its own key
  * (extracted number, pass id, email) — no driver dicts (the reference
  * iterates rows against three in-memory maps); the union mart is filtered
  * projections + ONE window on the dedup key (single shuffle of the union);
  * the only aggregates are the dim-sized email index and slot-owner
  * election. Nothing fact-sized is broadcast.
  */
object EventsTable {

  /** Transaction feed synthesis over orders: source by %3 (the reference's
    * Stripe/Shopify/Square), description classes by %7 — membership
    * renewals reference the ledger row 3 keys back (organic hit/miss mix:
    * the referenced order must exist AND be status-'O' active), entry
    * passes reference a bounded pass number (present at every scale),
    * everything else is retail. Square rows carry no email (the
    * reference's Square feed has no receipt_email — it is the name-match
    * tier's clientele, which SURVEY scopes to u2d). */
  private def txnFeed(s: SparkSession, d: String): DataFrame =
    txnFeedFrom(Tables.orders(s, d))

  /** [[txnFeed]] as a pure column transform — one definition for the batch
    * mart and the st17 streaming arrival path (row-local, so it composes
    * with a streaming source unchanged). */
  private[queries] def txnFeedFrom(orders: DataFrame): DataFrame = {
    val key = col("o_orderkey")
    orders
      .withColumn("data_source",
        when(key % 3 === 0, "stripe")
          .when(key % 3 === 1, "shopify").otherwise("square"))
      .withColumn("description",
        when(key % 7 === 0,
          concat(lit("Renewal for Membership #"), (key - 3).cast("string")))
        .when(key % 7 === 1,
          concat(lit("Entry Pass #"), (key % 997).cast("string")))
        .otherwise(concat(col("o_orderpriority"), lit(" retail purchase"))))
      .withColumn("receipt_email",
        when(col("data_source") =!= "square",
          CustomerMaster.synthEmailOf(col("o_custkey"))))
  }

  private val txnFeedSql: String =
    s"""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
       |    CASE WHEN o_orderkey % 3 = 0 THEN 'stripe'
       |         WHEN o_orderkey % 3 = 1 THEN 'shopify'
       |         ELSE 'square' END AS data_source,
       |    CASE WHEN o_orderkey % 7 = 0 THEN
       |           'Renewal for Membership #' || CAST(o_orderkey - 3 AS VARCHAR)
       |         WHEN o_orderkey % 7 = 1 THEN
       |           'Entry Pass #' || CAST(o_orderkey % 997 AS VARCHAR)
       |         ELSE o_orderpriority || ' retail purchase' END AS description,
       |    CASE WHEN o_orderkey % 3 = 2 THEN NULL
       |         ELSE ${CustomerMaster.synthEmailSqlOf("o_custkey")} END
       |      AS receipt_email
       |  FROM orders""".stripMargin

  /** Revenue categorization of the matched feed — the reference's
    * `revenue_category` arrives pre-computed on the combined feed; here the
    * same first-match keyword ladder (M3) derives it from the description. */
  private val revenueRules: Seq[(String, String)] =
    Seq("membership" -> "membership", "entry pass" -> "day_pass")

  /** The three match-waterfall dimension frames (membership ledger, entry-
    * pass directory, master email index) — static sides for both the batch
    * mart and the st17 stream-static joins. */
  private[queries] def waterfallDims(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // membership ledger: active orders, id → owner (j4's convention)
    val mem = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("membership_id"),
        col("o_custkey").as("mem_owner"))
    // entry-pass directory: signup events, pass id → owner
    val passes = Tables.events(s, d).filter(col("event_type") === "signup")
      .select(col("event_id").as("pass_id"), col("user_id").as("pass_owner"))
    // master email index — LAST key wins on duplicate emails (the
    // reference's dict assignment overwrites, so the %13==12 shared-email
    // pair resolves to the max key; a declared max-election, not file luck)
    val emails = Tables.customer(s, d)
      .select(CustomerMaster.synthEmail.as("email"), col("c_custkey"))
      .filter(col("email").isNotNull)
      .groupBy(col("email")).agg(max(col("c_custkey")).as("email_cid"))
    (mem, passes, emails)
  }

  /** CM2 frame (shared with the EV2 union's transaction slice). */
  private[queries] def customerTransactions(s: SparkSession, d: String)
      : DataFrame = {
    val (mem, passes, emails) = waterfallDims(s, d)
    matchWaterfall(txnFeed(s, d), mem, passes, emails)
  }

  /** The tier-ordered match waterfall over an arrivals frame — one
    * definition for the batch mart and the st17 streaming seat (the joins
    * are stream-static there; every step is append-safe). */
  private[queries] def matchWaterfall(txns: DataFrame, mem: DataFrame,
      passes: DataFrame, emails: DataFrame): DataFrame = {
    // the reference re-PARSES the description (regex, case-insensitive)
    // rather than trusting feed metadata — so does the mart
    val parsed = txns
      .withColumn("mem_num",
        regexp_extract(lower(col("description")), "membership #([0-9]+)", 1))
      .withColumn("mem_num",
        when(col("mem_num") =!= "", col("mem_num").cast("long")))
      .withColumn("pass_num",
        regexp_extract(lower(col("description")), "entry pass #([0-9]+)", 1))
      .withColumn("pass_num",
        when(col("pass_num") =!= "", col("pass_num").cast("long")))
    // NULL-SALTED tier keys: a NULL key never matches, but in a shuffle
    // join every NULL-key row hashes to ONE partition — and ~6/7 of the
    // feed is keyless for the membership tier (only %7==0 descriptions
    // parse a number). At the gated scales the dims broadcast and this is
    // moot; at warehouse scale the membership ledger is ORDER-sized (not
    // broadcastable), the tier joins go sort-merge, and the NULL partition
    // is a straggler that holds 6/7 of 100 TB. Joining on
    // coalesce(key, -o_orderkey - 1) gives each keyless row a UNIQUE,
    // never-matching negative key (ledger/pass ids are positive), so NULLs
    // spread uniformly across the exchange; the string tier uses a
    // sentinel prefix no synthesized email can carry. One plan tree, one
    // fact scan — an explicit filter-slice + union bypass was measured
    // at 28 scan replays (2^tiers subtree duplication) and rejected.
    val noKey = -col("o_orderkey") - lit(1L)
    parsed
      .join(mem, coalesce(col("mem_num"), noKey) === col("membership_id"),
        "left")
      .join(passes, coalesce(col("pass_num"), noKey) === col("pass_id"),
        "left")
      .join(emails, coalesce(col("receipt_email"),
          concat(lit("\u0000nokey:"), col("o_orderkey").cast("string")))
          === col("email"), "left")
      .withColumn("customer_id",
        coalesce(col("mem_owner"), col("pass_owner"), col("email_cid")))
      .filter(col("customer_id").isNotNull)
      .select(col("customer_id"),
        col("o_orderkey").as("transaction_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
        substring(col("description"), 1, 100).as("description"),
        col("o_totalprice").as("amount"),
        col("data_source"),
        Categorize.keywordLadder(col("description"), revenueRules, "retail")
          .as("revenue_category"),
        when(col("mem_owner").isNotNull, "membership_id")
          .when(col("pass_owner").isNotNull, "entry_pass_id")
          .otherwise("email").as("match_method"))
  }

  /** CM2 oracle body (a full SELECT — EV2 embeds it as a CTE). */
  private[queries] val customerTransactionsSql: String =
    s"""WITH txn AS (
       |$txnFeedSql),
       |parsed AS (
       |  SELECT *,
       |    TRY_CAST(regexp_extract(lower(description),
       |      'membership #([0-9]+)', 1) AS BIGINT) AS mem_num,
       |    TRY_CAST(regexp_extract(lower(description),
       |      'entry pass #([0-9]+)', 1) AS BIGINT) AS pass_num
       |  FROM txn),
       |mem AS (
       |  SELECT o_orderkey AS membership_id, o_custkey AS mem_owner
       |  FROM orders WHERE o_orderstatus = 'O'),
       |pass AS (
       |  SELECT event_id AS pass_id, user_id AS pass_owner
       |  FROM events WHERE event_type = 'signup'),
       |em AS (
       |  SELECT email, MAX(c_custkey) AS email_cid FROM (
       |    SELECT ${CustomerMaster.synthEmailSql} AS email, c_custkey
       |    FROM customer) WHERE email IS NOT NULL GROUP BY 1)
       |SELECT COALESCE(mem_owner, pass_owner, email_cid) AS customer_id,
       |  t.o_orderkey AS transaction_id,
       |  strftime(t.o_orderdate, '%Y-%m-%d') AS date,
       |  substr(t.description, 1, 100) AS description,
       |  t.o_totalprice AS amount, t.data_source,
       |  ${Categorize.keywordLadderSql("t.description", revenueRules, "retail")}
       |    AS revenue_category,
       |  CASE WHEN mem_owner IS NOT NULL THEN 'membership_id'
       |       WHEN pass_owner IS NOT NULL THEN 'entry_pass_id'
       |       ELSE 'email' END AS match_method
       |FROM parsed t
       |LEFT JOIN mem ON t.mem_num = mem.membership_id
       |LEFT JOIN pass ON t.pass_num = pass.pass_id
       |LEFT JOIN em ON t.receipt_email = em.email
       |WHERE COALESCE(mem_owner, pass_owner, email_cid) IS NOT NULL""".stripMargin

  /** Reservation event names, indexed by o_orderkey % 12 — the fixed
    * name domain the keyword ladder classifies (reference names,
    * `build_reservation_events.py:28-35`). */
  private val resNames: Seq[String] = Seq(
    "Summer Camp Week", "HYROX Fitness Challenge", "Belay Class Level 1",
    "Homeschool Climb Club", "Bouldering League Night", "Yoga Flow",
    "Intro to Climbing", "Mini Ascenders", "Spring Break Camp",
    "Open Gym Social", "Member Appreciation Night", "Top Rope Clinic")

  /** The reference's EVENT_CATEGORIES dict flattened in category order —
    * first matching keyword wins, preserving its category-then-keyword
    * iteration (`:28-44`). */
  private val resCatRules: Seq[(String, String)] = Seq(
    "camp" -> "camp_signup", "spring break" -> "camp_signup",
    "hyrox" -> "fitness_class_signup",
    "basin strong" -> "fitness_class_signup",
    "basin fit" -> "fitness_class_signup",
    "yoga" -> "fitness_class_signup", "fitness" -> "fitness_class_signup",
    "belay" -> "climbing_class_signup",
    "intro to climbing" -> "climbing_class_signup",
    "top rope" -> "climbing_class_signup",
    "lead climb" -> "climbing_class_signup",
    "homeschool" -> "youth_program_signup",
    "climb club" -> "youth_program_signup",
    "mini ascenders" -> "youth_program_signup",
    "kids" -> "youth_program_signup",
    "bouldering league" -> "competition_signup",
    "competition" -> "competition_signup", "comp" -> "competition_signup")

  private def resNameLadder(idx: Column): Column =
    resNames.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, (n, i)) =>
        Some(acc.fold(when(idx === i, n))(_.when(idx === i, n)))
    }.get.otherwise("Special Event")

  private val resNameLadderSql: String = {
    val whens = resNames.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '$n'" }.mkString(" ")
    s"CASE o_orderkey % 12 $whens ELSE 'Special Event' END"
  }

  /** EV1 frame (shared with the EV2 union's reservation slice).
    * Reservations = orders; slot = (date, priority) per FamilyEdges'
    * convention; booking owner = min ADULT key in the slot among
    * non-cancelled rows; cancellations (%23==11) are dropped before
    * anything else (the reference's is_cancelled filter, `:74-76`).
    * The reference's event_data JSON blob is emitted as typed columns —
    * the fields a SQL engine can actually filter on. */
  private[queries] def reservationEvents(s: SparkSession, d: String)
      : DataFrame = {
    val res = Tables.orders(s, d)
      .filter(col("o_orderkey") % 23 =!= 11)
      .withColumn("event_name", resNameLadder(col("o_orderkey") % 12))
    val booker = res.filter(col("o_custkey") % 10 < 8)
      .groupBy(col("o_orderdate").as("b_date"),
        col("o_orderpriority").as("b_prio"))
      .agg(min(col("o_custkey")).as("booking_customer_id"))
    res.join(booker,
        col("o_orderdate") === col("b_date") &&
          col("o_orderpriority") === col("b_prio"), "left")
      .select(
        col("o_custkey").as("customer_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("event_date"),
        Categorize.keywordLadder(col("event_name"), resCatRules,
          "event_signup").as("event_type"),
        lit("capitan").as("event_source"),
        lit("exact").as("source_confidence"),
        col("event_name").as("event_details"),
        col("o_orderkey").as("reservation_id"),
        col("booking_customer_id"),
        CustomerMaster.synthEmailOf(col("booking_customer_id"))
          .as("booking_customer_email"),
        (col("booking_customer_id").isNotNull &&
          col("booking_customer_id") =!= col("o_custkey"))
          .as("booked_by_other"))
  }

  /** EV1 oracle body (a full SELECT — EV2 embeds it as a CTE). */
  private[queries] val reservationEventsSql: String =
    s"""WITH res AS MATERIALIZED (
       |  SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
       |    $resNameLadderSql AS event_name
       |  FROM orders WHERE o_orderkey % 23 <> 11),
       |booker AS (
       |  SELECT o_orderdate AS b_date, o_orderpriority AS b_prio,
       |    MIN(o_custkey) AS booking_customer_id
       |  FROM res WHERE o_custkey % 10 < 8 GROUP BY 1, 2)
       |SELECT r.o_custkey AS customer_id,
       |  strftime(r.o_orderdate, '%Y-%m-%d') AS event_date,
       |  ${Categorize.keywordLadderSql("r.event_name", resCatRules,
            "event_signup")} AS event_type,
       |  'capitan' AS event_source, 'exact' AS source_confidence,
       |  r.event_name AS event_details,
       |  r.o_orderkey AS reservation_id,
       |  b.booking_customer_id,
       |  ${CustomerMaster.synthEmailSqlOf("b.booking_customer_id")}
       |    AS booking_customer_email,
       |  b.booking_customer_id IS NOT NULL AND
       |    b.booking_customer_id <> r.o_custkey AS booked_by_other
       |FROM res r LEFT JOIN booker b
       |  ON r.o_orderdate = b.b_date AND r.o_orderpriority = b.b_prio""".stripMargin

  /** The four event-stream-sourced EV2 slices (check-ins with
    * birthday-attendee detection, uuid-mapped pipeline customer events,
    * campaign/flow deliveries, crew contacts) normalized to the unified
    * schema, with the source `ts` RETAINED and the slice-priority column
    * attached — ONE definition read by the batch mart (ev2, which drops
    * `ts`) and the streaming ingest seat (st15, which watermarks on it).
    * Slice event_types are mutually disjoint BY CONSTRUCTION (checkin* /
    * membership_start|purchase / klaviyo_* / crew_contact), and within a
    * slice every non-key column is a function of the dedup key — so any
    * keep-first over (customer_id, event_type, event_date, details) is
    * order-independent here (the st2 discipline; st15's oracle leans on
    * it: streaming first-arrival == batch DISTINCT). */
  private[queries] def eventSlices(ev: DataFrame): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm"
    val k = get_json_object(col("props"), "$.k").cast("long")
    // 1. check-ins (views that are NOT campaign deliveries), with the
    // reference's birthday-attendee detection on the entry description
    val isBday = col("event_id") % 25 === 13
    val checkins = ev
      .filter(col("event_type") === "view" && col("event_id") % 4 =!= 3)
      .select(col("ts"), col("user_id").as("customer_id"),
        date_format(col("ts"), fmt).as("event_date"),
        when(isBday, "birthday_party_attendee_checkin")
          .otherwise("checkin").as("event_type"),
        when(isBday, "Birthday party guest pass")
          .when(col("event_id") % 4 === 0, "Day Pass")
          .when(col("event_id") % 4 === 1, "Punch Pass")
          .otherwise("Pass with Gear").as("details"),
        lit("capitan").as("source"),
        when(isBday, "birthday")
          .when(col("event_id") % 4 === 0, "day_pass")
          .when(col("event_id") % 4 === 1, "punch_pass")
          .otherwise("pass_with_gear").as("entry_method"),
        lit(null).cast("double").as("amount"), lit(1).as("prio"))
    // 2. pipeline customer events — UUID-keyed rows map to the master
    // only when the person has an email identity (%7==3 unmappable →
    // dropped, the reference's to_capitan_id None branch)
    val custEvents = ev
      .filter(col("event_type").isin("signup", "purchase") &&
        col("user_id") % 7 =!= 3)
      .select(col("ts"), col("user_id").as("customer_id"),
        date_format(col("ts"), fmt).as("event_date"),
        when(col("event_type") === "signup", "membership_start")
          .otherwise("purchase").as("event_type"),
        substring(col("props"), 1, 200).as("details"),
        lit("pipeline").as("source"),
        lit(null).cast("string").as("entry_method"),
        lit(null).cast("double").as("amount"), lit(2).as("prio"))
    // 3. campaign/flow deliveries (rp8's campaign class): type by the
    // flow key's residue, flow id by its decade
    val klaviyo = ev
      .filter(col("event_type") === "view" && col("event_id") % 4 === 3)
      .select(col("ts"), col("user_id").as("customer_id"),
        date_format(col("ts"), fmt).as("event_date"),
        when(k % 4 === 0, "klaviyo_email_received")
          .when(k % 4 === 1, "klaviyo_email_opened")
          .when(k % 4 === 2, "klaviyo_email_clicked")
          .otherwise("klaviyo_sms_received").as("event_type"),
        // integer `div`, not double `/` + cast: a double quotient loses
        // exactness above 2^53, where DuckDB's integer `// 10` does not.
        // (Spark `div` truncates, DuckDB `//` floors — equal on the
        // nonnegative flow keys this slice mints; the double path was
        // additionally wrong for any key above 2^53.)
        concat(lit("flow #"), expr(
            "CAST(get_json_object(props, '$.k') AS BIGINT) div 10")
          .cast("string")).as("details"),
        lit("klaviyo").as("source"),
        lit(null).cast("string").as("entry_method"),
        lit(null).cast("double").as("amount"), lit(3).as("prio"))
    // 4. crew interactions: contact type by event key, outcome by the
    // engagement value
    val crew = ev.filter(col("event_type") === "click")
      .select(col("ts"), col("user_id").as("customer_id"),
        date_format(col("ts"), fmt).as("event_date"),
        lit("crew_contact").as("event_type"),
        concat(
          when(col("event_id") % 3 === 0, "call")
            .when(col("event_id") % 3 === 1, "email")
            .otherwise("in_person"),
          lit(" -> "),
          when(col("value") > 5, "connected").otherwise("left_message"))
          .as("details"),
        lit("supabase").as("source"),
        lit(null).cast("string").as("entry_method"),
        lit(null).cast("double").as("amount"), lit(4).as("prio"))
    Seq(checkins, custEvents, klaviyo, crew).reduce(_.unionByName(_))
  }

  /** Oracle-side UNION ALL of [[eventSlices]] (same column set incl. prio,
    * minus ts) — embedded by both the ev2 and st15 oracles. */
  private[queries] val eventSlicesSql: String =
    """  SELECT user_id AS customer_id,
      |    strftime(ts, '%Y-%m-%d %H:%M') AS event_date,
      |    CASE WHEN event_id % 25 = 13
      |      THEN 'birthday_party_attendee_checkin'
      |      ELSE 'checkin' END AS event_type,
      |    CASE WHEN event_id % 25 = 13 THEN 'Birthday party guest pass'
      |         WHEN event_id % 4 = 0 THEN 'Day Pass'
      |         WHEN event_id % 4 = 1 THEN 'Punch Pass'
      |         ELSE 'Pass with Gear' END AS details,
      |    'capitan' AS source,
      |    CASE WHEN event_id % 25 = 13 THEN 'birthday'
      |         WHEN event_id % 4 = 0 THEN 'day_pass'
      |         WHEN event_id % 4 = 1 THEN 'punch_pass'
      |         ELSE 'pass_with_gear' END AS entry_method,
      |    CAST(NULL AS DOUBLE) AS amount, 1 AS prio
      |  FROM events WHERE event_type = 'view' AND event_id % 4 <> 3
      |  UNION ALL
      |  SELECT user_id,
      |    strftime(ts, '%Y-%m-%d %H:%M'),
      |    CASE WHEN event_type = 'signup' THEN 'membership_start'
      |         ELSE 'purchase' END,
      |    substr(props, 1, 200), 'pipeline', NULL,
      |    CAST(NULL AS DOUBLE), 2
      |  FROM events
      |  WHERE event_type IN ('signup', 'purchase') AND user_id % 7 <> 3
      |  UNION ALL
      |  SELECT user_id,
      |    strftime(ts, '%Y-%m-%d %H:%M'),
      |    CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
      |         WHEN 0 THEN 'klaviyo_email_received'
      |         WHEN 1 THEN 'klaviyo_email_opened'
      |         WHEN 2 THEN 'klaviyo_email_clicked'
      |         ELSE 'klaviyo_sms_received' END,
      |    'flow #' || CAST(CAST(json_extract_string(props, '$.k')
      |      AS BIGINT) // 10 AS VARCHAR),
      |    'klaviyo', NULL, CAST(NULL AS DOUBLE), 3
      |  FROM events WHERE event_type = 'view' AND event_id % 4 = 3
      |  UNION ALL
      |  SELECT user_id,
      |    strftime(ts, '%Y-%m-%d %H:%M'), 'crew_contact',
      |    (CASE WHEN event_id % 3 = 0 THEN 'call'
      |          WHEN event_id % 3 = 1 THEN 'email'
      |          ELSE 'in_person' END) || ' -> ' ||
      |    (CASE WHEN value > 5 THEN 'connected'
      |          ELSE 'left_message' END),
      |    'supabase', NULL, CAST(NULL AS DOUBLE), 4
      |  FROM events WHERE event_type = 'click'""".stripMargin

  val qs: Seq[Q] = Seq(

    Q("cm2_customer_transactions",
      (s, d) => customerTransactions(s, d),
      Some(customerTransactionsSql)),

    Q("ev1_reservation_events",
      (s, d) => reservationEvents(s, d),
      Some(reservationEventsSql)),

    // EV2: the unified events table. Seven slices → one schema
    // (customer_id, event_date 'yyyy-MM-dd HH:mm', event_type, details,
    // source, entry_method, amount), then the reference's
    // drop_duplicates(subset=[customer_id, event_type, event_date,
    // details], keep='first') — 'first' = concat order, encoded here as an
    // explicit slice-priority column (never file luck), with a total
    // tiebreak so the survivor is deterministic under any partitioning.
    Q("ev2_events_table",
      (s, d) => eventsTableFrom(Tables.events(s, d),
        customerTransactions(s, d), reservationEvents(s, d)),
      Some(eventsTableSql)),
  )

  /** The ev2 body over INJECTED upstream frames: the registry query above
    * recomputes cm2/ev1 inline (self-contained, oracle-replayable from base
    * tables alone), while the PIPELINE seat injects their already-
    * MATERIALIZED parquet outputs — so the cm2 match waterfall and the ev1
    * slot election run once per pipeline run, not once standalone plus once
    * again inside the union mart (its ordering dep used to encode reference
    * read order only; now it encodes actual data reuse). */
  private[graft] def eventsTableFrom(ev: DataFrame, ctxn: DataFrame,
      resv: DataFrame): DataFrame = {
        def slice(df: DataFrame, prio: Int): DataFrame =
          df.withColumn("prio", lit(prio))
        // slices 1-4 — shared with the streaming ingest seat (st15)
        val fromEvents = eventSlices(ev).drop("ts")

        // 5. reservations — the EV1 frame (one definition, two readers)
        val res = slice(resv
          .select(col("customer_id"),
            concat(col("event_date"), lit(" 00:00")).as("event_date"),
            col("event_type"), col("event_details").as("details"),
            lit("capitan").as("source"),
            lit(null).cast("string").as("entry_method"),
            lit(null).cast("double").as("amount")), 5)

        // 6. birthday parties: party = (family, date) of the birthday
        // check-in class; host = the family's base adult (>=1), attendees
        // RSVP rows from the same class (the reference's firebase slice)
        val bdayRows = ev
          .filter(col("event_type") === "view" && col("event_id") % 4 =!= 3 &&
            col("event_id") % 25 === 13)
          .select(col("user_id"), expr("user_id div 10").as("fam"),
            date_format(col("ts"), "yyyy-MM-dd").as("pdate"))
        val hosts = slice(bdayRows
          .select(col("fam"), col("pdate")).distinct()
          .select((col("fam") * 10).as("customer_id"),
            concat(col("pdate"), lit(" 00:00")).as("event_date"),
            lit("birthday_party_host").as("event_type"),
            concat(lit("Birthday party host (fam"),
              col("fam").cast("string"), lit(")")).as("details"),
            lit("firebase").as("source"),
            lit(null).cast("string").as("entry_method"),
            lit(null).cast("double").as("amount"))
          .filter(col("customer_id") >= 1), 6)
        val attendees = slice(bdayRows
          .select(col("user_id").as("customer_id"),
            concat(col("pdate"), lit(" 00:00")).as("event_date"),
            lit("birthday_party_attendee").as("event_type"),
            concat(lit("Birthday party attendee (fam"),
              col("fam").cast("string"), lit(")")).as("details"),
            lit("firebase").as("source"),
            lit(null).cast("string").as("entry_method"),
            lit(null).cast("double").as("amount"))
          .distinct(), 6)

        // 7. linked transactions — the CM2 frame (one definition, two
        // readers); details render the amount at exact 2-dp decimal
        val txns = slice(ctxn
          .select(col("customer_id"),
            concat(col("date"), lit(" 00:00")).as("event_date"),
            lit("transaction").as("event_type"),
            concat(col("data_source"), lit(": "), col("description"),
              lit(" $"), col("amount")
                .cast(org.apache.spark.sql.types.DecimalType(18, 2))
                .cast("string")).as("details"),
            col("data_source").as("source"),
            lit(null).cast("string").as("entry_method"),
            col("amount")), 7)

        val unioned = Seq(fromEvents, res,
          hosts, attendees, txns).reduce(_.unionByName(_))
        val w = Window
          .partitionBy(col("customer_id"), col("event_type"),
            col("event_date"), col("details"))
          .orderBy(col("prio"), col("source"),
            col("amount").asc_nulls_last, col("entry_method").asc_nulls_last)
        unioned.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("customer_id"), col("event_date"), col("event_type"),
            col("details"), col("source"), col("entry_method"), col("amount"))
  }

  // lazy: declared after `qs`, which captures it at Seq construction time
  private lazy val eventsTableSql: String =
    s"""WITH ctxn AS (
              |${customerTransactionsSql.linesIterator
                  .map("  " + _).mkString("\n")}),
              |resv AS (
              |${reservationEventsSql.linesIterator
                  .map("  " + _).mkString("\n")}),
              |unioned AS (
              |$eventSlicesSql
              |  UNION ALL
              |  SELECT customer_id, event_date || ' 00:00', event_type,
              |    event_details, 'capitan', NULL, CAST(NULL AS DOUBLE), 5
              |  FROM resv
              |  UNION ALL
              |  SELECT fam * 10, pdate || ' 00:00', 'birthday_party_host',
              |    'Birthday party host (fam' || CAST(fam AS VARCHAR) || ')',
              |    'firebase', NULL, CAST(NULL AS DOUBLE), 6
              |  FROM (
              |    SELECT DISTINCT user_id // 10 AS fam,
              |      strftime(ts, '%Y-%m-%d') AS pdate
              |    FROM events WHERE event_type = 'view' AND event_id % 4 <> 3
              |      AND event_id % 25 = 13)
              |  WHERE fam * 10 >= 1
              |  UNION ALL
              |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') || ' 00:00',
              |    'birthday_party_attendee',
              |    'Birthday party attendee (fam' ||
              |      CAST(user_id // 10 AS VARCHAR) || ')',
              |    'firebase', NULL, CAST(NULL AS DOUBLE), 6
              |  FROM events WHERE event_type = 'view' AND event_id % 4 <> 3
              |    AND event_id % 25 = 13
              |  UNION ALL
              |  SELECT customer_id, date || ' 00:00', 'transaction',
              |    data_source || ': ' || description || ' $$' ||
              |      CAST(CAST(amount AS DECIMAL(18,2)) AS VARCHAR),
              |    data_source, NULL, amount, 7
              |  FROM ctxn)
              |SELECT customer_id, event_date, event_type, details, source,
              |  entry_method, amount
              |FROM unioned
              |QUALIFY row_number() OVER (
              |  PARTITION BY customer_id, event_type, event_date, details
              |  ORDER BY prio, source, amount ASC NULLS LAST,
              |    entry_method ASC NULLS LAST) = 1""".stripMargin
}
