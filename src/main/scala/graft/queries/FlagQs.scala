package graft.queries

import graft.core.Tables
import graft.flags.{Ev, FlagRules}
import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flag-rule evaluation (SURVEY.md §2.9 U1) — typed
  * `groupByKey.flatMapGroups` over per-user event timelines, with a relational
  * oracle proving the procedural rules compute exactly what they claim. */
object FlagQs {

  /** Evaluation clock: 2024-01-31T00:00:00Z (data ends 2024-01-30). */
  private[graft] val asOfUs = 1706659200000000L

  /** Earlier clock for the lifecycle query: 2024-01-15T00:00:00Z. */
  private[graft] val asOf1Us = 1705276800000000L

  /** Oracle-side per-user flag evaluation at a parameterized clock —
    * mirrors `FlagRules.active` exactly (shared by u1 and u1b). */
  private[queries] def flagsSql(asOf: Long): String =
    s"""WITH per_user AS MATERIALIZED (
       |  SELECT user_id,
       |    MAX(CASE WHEN epoch_us(ts) < $asOf THEN epoch_us(ts) END) AS last_us,
       |    SUM(CASE WHEN epoch_us(ts) >= $asOf - 2592000000000 AND epoch_us(ts) < $asOf
       |        THEN 1 ELSE 0 END) AS n_30d,
       |    SUM(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= $asOf - 2592000000000
       |             AND epoch_us(ts) < $asOf
       |        THEN CAST(value AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS spend_30d,
       |    SUM(CASE WHEN event_type = 'error' AND epoch_us(ts) >= $asOf - 2592000000000
       |             AND epoch_us(ts) < $asOf THEN 1 ELSE 0 END) AS err_30d,
       |    COUNT(DISTINCT CASE WHEN epoch_us(ts) >= $asOf - 604800000000 AND epoch_us(ts) < $asOf
       |        THEN epoch_us(ts) // 86400000000 END) AS active_days_7d,
       |    SUM(CASE WHEN epoch_us(ts) >= $asOf - 2592000000000 AND epoch_us(ts) < $asOf
       |             AND (epoch_us(ts) // 3600000000) % 24 < 6 THEN 1 ELSE 0 END) AS night_30d,
       |    SUM(CASE WHEN epoch_us(ts) >= $asOf - 2592000000000 AND epoch_us(ts) < $asOf
       |             AND ((epoch_us(ts) // 86400000000 + 4) % 7) IN (0, 6)
       |        THEN 1 ELSE 0 END) AS wkd_30d,
       |    SUM(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= $asOf - 604800000000
       |             AND epoch_us(ts) < $asOf THEN 1 ELSE 0 END) AS p7,
       |    SUM(CASE WHEN event_type = 'signup' AND epoch_us(ts) >= $asOf - 604800000000
       |             AND epoch_us(ts) < $asOf THEN 1 ELSE 0 END) AS s7,
       |    SUM(CASE WHEN event_type = 'signup' AND epoch_us(ts) >= $asOf - 1209600000000
       |             AND epoch_us(ts) < $asOf THEN 1 ELSE 0 END) AS s14
       |  FROM events GROUP BY user_id)
       |SELECT user_id, 'inactive_24h' AS flag_type,
       |  'hours_since_last=' || (($asOf - last_us) // 3600000000) AS flag_data,
       |  'medium' AS priority
       |FROM per_user WHERE last_us < $asOf - 86400000000
       |UNION ALL
       |SELECT user_id, 'power_user', 'n_30d=' || n_30d, 'low'
       |FROM per_user WHERE n_30d >= 80
       |UNION ALL
       |SELECT user_id, 'big_spender',
       |  'spend_30d_cents=' || CAST(spend_30d * 100 AS BIGINT), 'medium'
       |FROM per_user WHERE spend_30d * 100 >= 80000
       |UNION ALL
       |SELECT user_id, 'error_prone', 'err_30d=' || err_30d || ',total_30d=' || n_30d,
       |  'high'
       |FROM per_user WHERE err_30d >= 10 AND err_30d * 4 >= n_30d
       |UNION ALL
       |SELECT user_id, 'streak_7d', 'active_days=7', 'low'
       |FROM per_user WHERE active_days_7d = 7
       |UNION ALL
       |SELECT user_id, 'night_owl', 'night_30d=' || night_30d || ',total_30d=' || n_30d,
       |  'low'
       |FROM per_user WHERE n_30d >= 20 AND night_30d * 10 >= n_30d * 3
       |UNION ALL
       |SELECT user_id, 'weekend_warrior', 'weekend_30d=' || wkd_30d || ',total_30d=' || n_30d,
       |  'low'
       |FROM per_user WHERE n_30d >= 20 AND wkd_30d * 100 >= n_30d * 35
       |UNION ALL
       |SELECT user_id, 'returning_offer_2wk', 'p7=' || p7 || ',s7=' || s7, 'high'
       |FROM per_user
       |WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) AS BIGINT) % 10 <= 4
       |  AND p7 >= 2 AND s7 < p7
       |UNION ALL
       |SELECT user_id, 'active_member', 'signups_14d=' || s14, 'low'
       |FROM per_user WHERE s14 >= 1""".stripMargin

  /** Typed per-user evaluation at a clock (events strictly before it). */
  private[queries] def flagsAt(s: SparkSession, d: String, asOf: Long): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter(Q.usecs(col("ts")) < asOf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        Q.usecs(col("ts")).as("us"), col("value"))
      .toDF("userId", "eventId", "eventType", "us", "value")
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroups { (uid, it) => FlagRules.evaluateAll(uid, it.toSeq, asOf) }
      .toDF()
  }

  /** u1c's flags at a clock: [[flagsAt]] followed by the child/parent pass,
    * the form the reference's evaluate_all_customers tail leaves (minors'
    * suppression happens at evaluation time, so synced flags are post-pass). */
  private[graft] def childFlagsAt(s: SparkSession, d: String, asOf: Long): DataFrame = {
    import graft.flags.FlagPasses
    // familyMap consumes the universe twice (child derivation + the
    // parent-exists semi-join); the distinct-user frame is tiny, the
    // events scan behind it is not — materialize it once.
    val uni = Tables.events(s, d).filter(Q.usecs(col("ts")) < asOf)
      .select(col("user_id")).distinct().barrier()
    // the flags frame feeds BOTH childPass branches (tagged + parent-own);
    // without a materialization frontier each branch re-runs the whole
    // per-user rule evaluation. The frame is flag-count sized — a
    // barrier costs one tiny write, saves a full corpus pass.
    val flags = flagsAt(s, d, asOf).barrier()
    FlagPasses.childPass(flags, FlagPasses.familyMap(uni))
  }

  private val ttlUs = 14L * 86400L * 1000000L

  /** Shared persistent-type list (see FlagRules.persistentFlags). error_prone
    * is the one whose qualification can lapse between runs; active_member
    * is the billing-status archetype the reference marks persistent. */
  private val persistentFlags = FlagRules.persistentFlags

  /** The flag lifecycle merge of two runs, each stamped with its `added_us`:
    * keep the newest row per (user, flag_type), then expire non-persistent
    * flags older than `ttl` at `asOf`. u1b and the refresh's flag sync. */
  private[graft] def mergeFlags(stored: DataFrame, fresh: DataFrame, asOf: Long,
      ttl: Long = ttlUs, persistent: Seq[String] = persistentFlags): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("flag_type"))
      .orderBy(col("added_us").desc)
    stored.unionByName(fresh)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .filter(col("added_us") >= asOf - ttl || col("flag_type").isin(persistent: _*))
  }

  val qs: Seq[Q] = Seq(
    Q("u1_flag_rules",
      (s, d) => flagsAt(s, d, asOfUs),
      Some(flagsSql(asOfUs)),
      bench = true),

    // U1b: the flag LIFECYCLE — two evaluation runs merged keep-newest per
    // (user, flag_type), then 14-day TTL expiry with persistent-type carve-out.
    // Reference: merge keep-most-recent `customer_flags_engine.py:666-698`,
    // TTL `:362-408`, persistent types `customer_flags_config.py:22-42`.
    Q("u1b_flag_lifecycle",
      (s, d) => {
        def run(asOf: Long) = flagsAt(s, d, asOf).withColumn("added_us", lit(asOf))
        mergeFlags(run(asOf1Us), run(asOfUs), asOfUs)
          .select(col("user_id"), col("flag_type"), col("flag_data"),
            col("priority"),
            date_format(timestamp_micros(col("added_us")), "yyyy-MM-dd").as("flag_added"))
      },
      Some(s"""WITH old_f AS (
              |  SELECT *, $asOf1Us AS added_us FROM (${flagsSql(asOf1Us)})),
              |new_f AS (
              |  SELECT *, $asOfUs AS added_us FROM (${flagsSql(asOfUs)})),
              |merged AS (SELECT * FROM old_f UNION ALL SELECT * FROM new_f),
              |kept AS (
              |  SELECT * FROM merged
              |  QUALIFY row_number() OVER (PARTITION BY user_id, flag_type
              |    ORDER BY added_us DESC) = 1)
              |SELECT user_id, flag_type, flag_data, priority,
              |  strftime(make_timestamp(added_us), '%Y-%m-%d') AS flag_added
              |FROM kept
              |WHERE added_us >= ${asOfUs - ttlUs}
              |   OR flag_type IN (${persistentFlags.map(f => s"'$f'").mkString(", ")})""".stripMargin)),

    // U1c: the child/parent pass — minors' child-eligible flags become
    // child_<base> carrying parent_user_id, then are suppressed when the
    // parent raised the same base flag themselves. Reference: prefixing
    // `customer_flags_engine.py:184-205`, suppression `:276-312`.
    Q("u1c_child_suppression",
      (s, d) => childFlagsAt(s, d, asOfUs),
      Some {
        val eligible = graft.flags.FlagPasses.childEligible.map(f => s"'$f'").mkString(", ")
        s"""WITH f AS MATERIALIZED (${flagsSql(asOfUs)}),
           |uni AS MATERIALIZED (SELECT DISTINCT user_id FROM events WHERE epoch_us(ts) < $asOfUs),
           |fam AS MATERIALIZED (
           |  SELECT user_id AS child_id, user_id - user_id % 10 AS parent_id
           |  FROM uni WHERE user_id % 10 >= 8
           |    AND (user_id - user_id % 10) IN (SELECT user_id FROM uni)),
           |tagged AS (
           |  SELECT f.user_id, f.flag_type, f.flag_data, f.priority, fam.parent_id,
           |    CASE WHEN fam.child_id IS NOT NULL AND f.flag_type IN ($eligible)
           |         THEN 1 ELSE 0 END AS icf
           |  FROM f LEFT JOIN fam ON f.user_id = fam.child_id),
           |po AS (
           |  SELECT user_id, flag_type FROM f
           |  WHERE user_id NOT IN (SELECT child_id FROM fam))
           |SELECT t.user_id,
           |  CASE WHEN t.icf = 1 THEN 'child_' || t.flag_type
           |       ELSE t.flag_type END AS flag_type,
           |  t.flag_data, t.priority,
           |  CASE WHEN t.icf = 1 THEN t.parent_id END AS parent_user_id
           |FROM tagged t
           |WHERE NOT (t.icf = 1 AND EXISTS (
           |  SELECT 1 FROM po
           |  WHERE po.user_id = t.parent_id AND po.flag_type = t.flag_type))""".stripMargin
      },
      bench = true),

    // U1d: the relational party rules — host 7-days-out, host 6-days-out,
    // attendee 7-days-out — over the deterministic parties/RSVPs dims.
    // Reference: `customer_flags_config.py:708-978`.
    Q("u1d_party_flags",
      (s, d) => {
        import graft.flags.PartyFlags
        val uni = Tables.events(s, d).filter(Q.usecs(col("ts")) < asOfUs)
          .select(col("user_id")).distinct()
        // party_day is a pure function of o_orderkey, so pre-filtering orders
        // to the two due days pushes the predicate to the scan and shrinks
        // every downstream RSVP explode ~7x — the three union branches then
        // derive their dims from the due slice, not the full fact table.
        // rsvp_yes stays exact: a party's RSVPs derive from its own row.
        val asOfDay = asOfUs / 86400000000L
        val due = Tables.orders(s, d).filter(
          (lit(PartyFlags.PartyBaseDay) + col("o_orderkey") % 14)
            .isin(asOfDay + 6, asOfDay + 7))
        val parties = PartyFlags.parties(due)
        val rsvps = PartyFlags.rsvps(due, uni)
        PartyFlags.hostFlags(parties, uni, asOfUs, 7, "party_host_7d")
          .unionByName(PartyFlags.hostFlags(parties, uni, asOfUs, 6, "party_host_6d"))
          .unionByName(PartyFlags.attendeeFlags(parties, rsvps, asOfUs, 7, "party_attendee_7d"))
      },
      Some {
        val asOfDay = asOfUs / 86400000000L
        val base = graft.flags.PartyFlags.PartyBaseDay
        s"""WITH uni AS MATERIALIZED (
           |  SELECT DISTINCT user_id FROM events WHERE epoch_us(ts) < $asOfUs),
           |rsvps_all AS MATERIALIZED (
           |  SELECT o_orderkey AS party_id, o_custkey + t.i AS attendee_user,
           |    CASE WHEN (o_orderkey + t.i) % 4 = 0 THEN 'no' ELSE 'yes' END AS attending
           |  FROM orders, UNNEST(range(1, CAST(o_orderkey % 3 AS BIGINT) + 1)) AS t(i)
           |  WHERE o_orderkey % 3 >= 1),
           |yes_counts AS (
           |  SELECT party_id, COUNT(*) AS n_yes FROM rsvps_all
           |  WHERE attending = 'yes' GROUP BY 1),
           |parties AS MATERIALIZED (
           |  SELECT o_orderkey AS party_id, o_custkey AS host_user,
           |    $base + o_orderkey % 14 AS party_day,
           |    COALESCE(y.n_yes, 0) AS rsvp_yes
           |  FROM orders LEFT JOIN yes_counts y ON y.party_id = o_orderkey),
           |rsvps AS (
           |  SELECT * FROM rsvps_all
           |  WHERE attendee_user IN (SELECT user_id FROM uni))
           |SELECT host_user AS user_id, 'party_host_7d' AS flag_type,
           |  'party_id=' || MIN(party_id) || ',party_day=' || ${asOfDay + 7} ||
           |  ',rsvp_yes=' || min_by(rsvp_yes, party_id) || ',days_until=7' AS flag_data,
           |  'high' AS priority
           |FROM parties WHERE party_day = ${asOfDay + 7}
           |  AND host_user IN (SELECT user_id FROM uni) GROUP BY 1
           |UNION ALL
           |SELECT host_user, 'party_host_6d',
           |  'party_id=' || MIN(party_id) || ',party_day=' || ${asOfDay + 6} ||
           |  ',rsvp_yes=' || min_by(rsvp_yes, party_id) || ',days_until=6', 'high'
           |FROM parties WHERE party_day = ${asOfDay + 6}
           |  AND host_user IN (SELECT user_id FROM uni) GROUP BY 1
           |UNION ALL
           |SELECT r.attendee_user, 'party_attendee_7d',
           |  'party_id=' || MIN(r.party_id) || ',party_day=' || ${asOfDay + 7} ||
           |  ',days_until=7', 'medium'
           |FROM rsvps r JOIN parties p ON r.party_id = p.party_id
           |WHERE r.attending = 'yes' AND p.party_day = ${asOfDay + 7}
           |GROUP BY 1""".stripMargin
      },
      bench = true),

    // U1e: the offer's prior-state guards as anti-join annotations — the
    // 180-day re-flag guard (flag_set lookback) and the 30-day sync
    // cooldown (flag_synced lookback), fed by the prior run at asOf1.
    // Reference: `customer_flags_config.py:327-356`.
    Q("u1e_offer_guarded",
      (s, d) => {
        import graft.flags.FlagPasses
        val offer = "returning_offer_2wk"
        val cur = flagsAt(s, d, asOfUs).filter(col("flag_type") === offer)
        // prior feeds both guard lookups (sets + syncs) — checkpoint the
        // tiny filtered frame so the asOf1 evaluation runs exactly once
        val prior = flagsAt(s, d, asOf1Us).filter(col("flag_type") === offer)
          .barrier()
        FlagPasses.guardOffers(cur,
          prior.withColumn("set_us", lit(asOf1Us)),
          prior.withColumn("sync_us", lit(asOf1Us + 3600000000L)),
          asOfUs)
      },
      Some(s"""WITH cur AS (
              |  SELECT * FROM (${flagsSql(asOfUs)})
              |  WHERE flag_type = 'returning_offer_2wk'),
              |prior AS (
              |  SELECT user_id, flag_type, MAX($asOf1Us) AS last_set_us,
              |    MAX(${asOf1Us + 3600000000L}) AS last_sync_us
              |  FROM (${flagsSql(asOf1Us)})
              |  WHERE flag_type = 'returning_offer_2wk' GROUP BY 1, 2)
              |SELECT c.user_id, c.flag_type, c.flag_data, c.priority,
              |  CASE WHEN p.last_set_us >= ${asOfUs - 180L * 86400000000L}
              |         THEN 'reflag_180d'
              |       WHEN p.last_sync_us >= ${asOfUs - 30L * 86400000000L}
              |         THEN 'sync_30d'
              |       ELSE 'none' END AS suppressed_by
              |FROM cur c LEFT JOIN prior p
              |  ON c.user_id = p.user_id AND c.flag_type = p.flag_type""".stripMargin),
      bench = true)
  )
}
