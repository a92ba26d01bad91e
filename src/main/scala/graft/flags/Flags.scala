package graft.flags

/** Rule-driven customer flagging (SURVEY.md §2.9 U1).
  *
  * The reference's flag engine evaluates 12 Python rule objects against each
  * customer's time-sorted event list
  * (`/root/reference/data_pipeline/customer_flags_config.py:135-170` base
  * contract, `customer_flags_engine.py:131-205` per-customer evaluation).
  * This is the engine's one deliberately procedural region: rules are plain
  * Scala over an in-memory per-user event slice, applied inside
  * `Dataset.groupByKey(_.userId).flatMapGroups` — state-free per group, so it
  * scales horizontally with the number of users and never materializes more
  * than one user's events at a time.
  *
  * Money is summed in BigDecimal (exact, order-independent) — the reference's
  * float-dollar arithmetic is its weakest numeric decision; the oracle mirrors
  * this with DECIMAL sums.
  */
final case class Ev(userId: Long, eventId: Long, eventType: String, us: Long, value: Double)

final case class Flag(user_id: Long, flag_type: String, flag_data: String,
  priority: String)

trait FlagRule {
  def name: String

  /** Outreach priority, the reference's per-rule `priority` field
    * (`customer_flags_config.py` rule constructors): high / medium / low. */
  def priority: String

  /** `events` is the user's full event list sorted by (us, eventId);
    * `asOfUs` is the evaluation clock in epoch micros (explicit — the
    * reference's scattered `datetime.now()` made results irreproducible). */
  def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag]
}

object FlagRules {
  private val Hour  = 3600L * 1000000L
  private val Day   = 24L * Hour

  /** No activity in the trailing 24h. (Reference analogue: winback/at-risk
    * recency rules, `customer_flags_config.py:1421-1905`.) */
  object Inactive24h extends FlagRule {
    val priority = "medium"
    val name = "inactive_24h"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val lastUs = events.last.us
      if (lastUs < asOfUs - Day)
        Some(Flag(userId, name, s"hours_since_last=${(asOfUs - lastUs) / Hour}", priority))
      else None
    }
  }

  /** >= 80 events in the trailing 30 days. */
  object PowerUser extends FlagRule {
    val priority = "low"
    val name = "power_user"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val n = events.count(e => e.us >= asOfUs - 30 * Day && e.us < asOfUs)
      if (n >= 80) Some(Flag(userId, name, s"n_30d=$n", priority)) else None
    }
  }

  /** Purchase spend >= $800 in the trailing 30 days (exact decimal cents). */
  object BigSpender extends FlagRule {
    val priority = "medium"
    val name = "big_spender"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val cents = events.iterator
        .filter(e => e.eventType == "purchase" && e.us >= asOfUs - 30 * Day && e.us < asOfUs)
        .map(e => BigDecimal.valueOf(e.value))
        .foldLeft(BigDecimal(0))(_ + _) * 100
      if (cents >= 80000) Some(Flag(userId, name, s"spend_30d_cents=${cents.toLongExact}", priority))
      else None
    }
  }

  /** >= 10 errors and an error share >= 25% in the trailing 30 days
    * (integer arithmetic — no float ratio). */
  object ErrorProne extends FlagRule {
    val priority = "high"
    val name = "error_prone"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val recent = events.filter(e => e.us >= asOfUs - 30 * Day && e.us < asOfUs)
      val errs = recent.count(_.eventType == "error")
      if (errs >= 10 && errs * 4 >= recent.size)
        Some(Flag(userId, name, s"err_30d=$errs,total_30d=${recent.size}", priority))
      else None
    }
  }

  /** Epoch day (UTC). 1970-01-01 was a Thursday; with 0=Sunday its weekday
    * index is (day + 4) % 7 — pure integer arithmetic, identical in any
    * engine regardless of its date/locale settings. */
  private def epochDay(us: Long): Long = us / Day
  private def isWeekend(us: Long): Boolean = {
    val w = (epochDay(us) + 4) % 7
    w == 0 || w == 6
  }
  private def hourOfDay(us: Long): Long = (us / Hour) % 24

  /** Active on every one of the trailing 7 calendar days. (Reference
    * analogue: the new-member engagement streak rules,
    * `customer_flags_config.py:1421-1905`.) */
  object Streak7d extends FlagRule {
    val priority = "low"
    val name = "streak_7d"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val d0 = epochDay(asOfUs)
      val days = events.iterator
        .filter(e => e.us >= asOfUs - 7 * Day && e.us < asOfUs)
        .map(e => epochDay(e.us)).filter(d => d >= d0 - 7 && d < d0)
        .toSet
      if (days.size == 7) Some(Flag(userId, name, s"active_days=7", priority)) else None
    }
  }

  /** >= 30% of trailing-30d events between 00:00 and 06:00 UTC, with a
    * minimum volume (integer cross-multiplication — no float ratio). */
  object NightOwl extends FlagRule {
    val priority = "low"
    val name = "night_owl"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val recent = events.filter(e => e.us >= asOfUs - 30 * Day && e.us < asOfUs)
      val night = recent.count(e => hourOfDay(e.us) < 6)
      if (recent.size >= 20 && night * 10 >= recent.size * 3)
        Some(Flag(userId, name, s"night_30d=$night,total_30d=${recent.size}", priority))
      else None
    }
  }

  /** >= 35% of trailing-30d events on Saturday/Sunday (UTC), with a minimum
    * volume (expected share is 2/7 ~ 28.6%; integer cross-multiplication). */
  object WeekendWarrior extends FlagRule {
    val priority = "low"
    val name = "weekend_warrior"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val recent = events.filter(e => e.us >= asOfUs - 30 * Day && e.us < asOfUs)
      val wkd = recent.count(e => isWeekend(e.us))
      if (recent.size >= 20 && wkd * 100 >= recent.size * 35)
        Some(Flag(userId, name, s"weekend_30d=$wkd,total_30d=${recent.size}", priority))
      else None
    }
  }

  /** Last hex digit of the md5 of a string, mod 10 — the stable A/B bucket
    * (`customer_flags_config.py:58-132`). JVM MD5 == DuckDB md5 == Spark md5
    * on identical bytes, so rules using this stay oracle-portable. */
  def abDigit(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(15) & 0x0f).toLong % 10L
  }

  /** A/B-gated 2-week offer (`FirstTimeDayPass2WeekOfferFlag`,
    * `customer_flags_config.py:231-374`), re-parameterized for this data
    * shape: Group A only (id-hash last digit 0-4), >= 2 purchases in the
    * trailing 7 days (the "recent day passes"), and fewer signups than
    * purchases in that window (the "not already an active member" gate).
    * The reference's 180-day re-flag guard and 30-day sync cooldown are
    * prior-state filters — relational anti-join post-passes in
    * [[graft.flags.FlagPasses.guardOffers]] (u1e), exactly where the
    * reference reads its own flag_set / flag_synced_to_shopify events. */
  object ReturningOffer2wk extends FlagRule {
    val priority = "high"
    val name = "returning_offer_2wk"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      if (abDigit(userId.toString) > 4) return None // Group B: different journey
      val recent = events.filter(e => e.us >= asOfUs - 7 * Day && e.us < asOfUs)
      val p7 = recent.count(_.eventType == "purchase")
      val s7 = recent.count(_.eventType == "signup")
      if (p7 >= 2 && s7 < p7) Some(Flag(userId, name, s"p7=$p7,s7=$s7", priority))
      else None
    }
  }

  /** PERSISTENT status flag (`ActiveMembershipFlag`,
    * `customer_flags_config.py:1421-1573`): a signup in the trailing 14 days
    * marks the account membership-active. Persistent = exempt from the
    * lifecycle TTL (u1b), like the reference's PERSISTENT_FLAGS. */
  object ActiveMember extends FlagRule {
    val priority = "low"
    val name = "active_member"
    def evaluate(userId: Long, events: Seq[Ev], asOfUs: Long): Option[Flag] = {
      val s14 = events.count(e =>
        e.eventType == "signup" && e.us >= asOfUs - 14 * Day && e.us < asOfUs)
      if (s14 >= 1) Some(Flag(userId, name, s"signups_14d=$s14", priority)) else None
    }
  }

  /** Persistent (never-expiring) flag types — the reference's
    * PERSISTENT_FLAGS (`customer_flags_config.py:22-42`). THE single source
    * of truth: `FlagQs.mergeFlags`, the merge the u1b lifecycle query and
    * the refresh's flag sync both run, reads this list, so the daily and
    * refresh paths can never disagree on which flags outlive the TTL. */
  val persistentFlags: Seq[String] = Seq("error_prone", "active_member")

  /** Registry — mirrors `ACTIVE_RULES` `customer_flags_config.py:1888-1905`.
    * 9 timeline rules here + 3 relational party rules in
    * [[graft.flags.PartyFlags]] = the reference's 12 active rules. */
  val active: Seq[FlagRule] =
    Seq(Inactive24h, PowerUser, BigSpender, ErrorProne, Streak7d, NightOwl,
      WeekendWarrior, ReturningOffer2wk, ActiveMember)

  def evaluateAll(userId: Long, events: Seq[Ev], asOfUs: Long): Seq[Flag] = {
    val sorted = events.sortBy(e => (e.us, e.eventId))
    active.flatMap(_.evaluate(userId, sorted, asOfUs))
  }
}
