package graft.queries

import graft.core.Tables
import graft.ops.Categorize
import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2.4 A1–A16).
  *
  * All shaped as map-side-combinable hash aggregates (Catalyst plans partial +
  * final HashAggregate automatically). Double sums go through [[Q.dsum]] so the
  * result is order-independent — required both for the DuckDB oracle and for
  * run-to-run stability on a real cluster where partial-agg order varies.
  */
object Aggregates {

  // A16 strength ladder — shared config, reference `build_customer_connections.py:17-39`.
  private val strengthBounds = Seq(2.0 -> "1", 5.0 -> "2", 10.0 -> "3", 20.0 -> "4")

  /** Shared DuckDB replica of the HLL register pipeline (md5 → bucket =
    * first 8 bits / rho = 1 + leading zeros of the next 64 → per-bucket
    * max → int64-safe s_hi/s_lo/zeros readout), parameterized by a source
    * select yielding (grp, sv). One definition for a4c/a4d/st14, so the
    * register math exists exactly once on the oracle side too. Produces
    * CTEs `src ... sk2(grp, s_hi, s_lo, zeros)` — callers append their own
    * exact-count CTE and final SELECT. */
  private[queries] def hllOracleCtes(srcSql: String): String =
    s"""src AS ($srcSql),
       |hx AS (SELECT grp, md5(sv) AS h FROM src WHERE sv IS NOT NULL),
       |-- bucket = first 8 md5 bits; rho = 1 + leading zero bits of the
       |-- next 64 (65 if all zero) — read straight off the hex string
       |reg AS (
       |  SELECT grp,
       |    (strpos('0123456789abcdef', substr(h,1,1))-1)*16 +
       |      strpos('0123456789abcdef', substr(h,2,1))-1 AS bucket,
       |    CASE WHEN z = 16 THEN 65 ELSE 4*z + 1 +
       |      (CASE WHEN dv >= 8 THEN 0 WHEN dv >= 4 THEN 1
       |            WHEN dv >= 2 THEN 2 ELSE 3 END) END AS rho
       |  FROM (SELECT grp, h, z,
       |          strpos('0123456789abcdef', substr(h, 3+z, 1))-1 AS dv
       |        FROM (SELECT grp, h,
       |                length(regexp_extract(substr(h,3,16), '^0*')) AS z
       |              FROM hx))),
       |mx AS (SELECT grp, bucket, MAX(rho) AS m FROM reg GROUP BY 1, 2),
       |sk AS (SELECT grp,
       |    SUM(1::HUGEINT << (65 - m)) +
       |      (256 - COUNT(*)) * (1::HUGEINT << 65) AS s,
       |    256 - COUNT(*) AS zeros
       |  FROM mx GROUP BY 1),
       |-- int64-safe hi/lo split of s (s = s_hi*2^36 + s_lo): a
       |-- DECIMAL(38,0) ~ 9e21 degrades to float64 in the pandas path
       |sk2 AS MATERIALIZED (SELECT grp,
       |    CAST(s // 68719476736 AS BIGINT) AS s_hi,
       |    CAST(s % 68719476736 AS BIGINT) AS s_lo,
       |    zeros
       |  FROM sk)""".stripMargin

  /** a1's per-customer order stats over `orders`: (o_custkey, n_orders,
    * first_order, last_order, lifetime_value), the customer_order_stats
    * mart. Every column is mergeable, which the refresh's incremental
    * maintenance of the mart relies on. */
  def orderStats(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderdate")).cast("date").as("first_order"),
        max(col("o_orderdate")).cast("date").as("last_order"),
        Q.dsum(col("o_totalprice")).as("lifetime_value"))

  val qs: Seq[Q] = Seq(

    // A1: multi-function hash agg per key (count/min/max/sum).
    // Reference: checkin stats `build_customer_master.py:335-339`.
    Q("a1_multi_agg",
      (s, d) => orderStats(Tables.orders(s, d)),
      Some(s"""SELECT o_custkey, COUNT(*) AS n_orders,
              |CAST(MIN(o_orderdate) AS DATE) AS first_order,
              |CAST(MAX(o_orderdate) AS DATE) AS last_order,
              |${Q.dsumSql("o_totalprice")} AS lifetime_value
              |FROM orders GROUP BY o_custkey""".stripMargin)),

    // A2: group-sum by calendar period. Reference: `dashboard.py:527-531`.
    Q("a2_period_revenue",
      (s, d) => Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(Q.dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n")),
      Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
              |${Q.dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n
              |FROM orders GROUP BY 1""".stripMargin),
      bench = true),

    // A3: value_counts — count by key. Reference: `customer_events_builder.py:681-691`.
    Q("a3_value_counts",
      (s, d) => Tables.events(s, d).groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      Some("SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type")),

    // A4: exact distinct count per period.
    // Reference: `build_conversion_rate_analysis.py:373-374` (nunique).
    Q("a4_distinct_count",
      (s, d) => Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(countDistinct(col("o_custkey")).as("n_customers")),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |COUNT(DISTINCT o_custkey) AS n_customers FROM orders GROUP BY 1""".stripMargin)),

    // A4b: approximate distinct (HyperLogLog++) — the at-scale alternative to
    // A4's exact count (SURVEY §2.4 note). HLL estimates are engine-specific,
    // so the sketch VALUE can't hash-match a DuckDB oracle; instead the query
    // emits the tolerance VERDICT — |approx − exact| within max(2, 5%) per
    // month — and the oracle asserts it must hold, making the accuracy
    // contract machine-checked by the driver's gate rather than rows-only.
    // (The exact count here is the verification harness, not the scale path:
    // at 100 TB ship the sketch column alone — the point of the op.)
    Q("a4b_approx_distinct",
      (s, d) => Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
        .select(col("month"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <=
            greatest(lit(2L), (col("n_exact") * 0.05).cast("long")))
            .as("within_5pct")),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |COUNT(DISTINCT o_custkey) AS n_exact, true AS within_5pct
             |FROM orders GROUP BY 1""".stripMargin)),

    // A4c: distinct counting via a NATIVE HyperLogLog sketch
    // (plans/HllSketch.scala, a Catalyst TypedImperativeAggregate with a
    // 256-byte register state). Unlike a4b's approx_count_distinct (opaque
    // xxhash64 HLL++ state, tolerance-gated only), the md5-based registers
    // are exactly replayable in SQL: the oracle rebuilds the register maxima
    // from md5 hex strings and matches the sketch denominator (as the
    // int64-safe halves s_hi/s_lo = s divmod 2^36 — wider-than-int64 output
    // columns degrade to float64 in the gate's pandas path) and the
    // empty-register count BIT-FOR-BIT, then asserts the estimate-error
    // verdict. Two paths exercised: per-event_type user_id counts hit the
    // linear-counting small-range correction; the global event_id row takes
    // the raw harmonic-mean path.
    Q("a4c_hll_custom",
      (s, d) => {
        graft.plans.HllSketch.register(s)
        val ev = Tables.events(s, d)
        // null sketch values are dropped BEFORE grouping so a group whose
        // values are all NULL vanishes on BOTH engines (the oracle's hx
        // filters before grouping) instead of lingering as an all-zero
        // sketch row only Spark emits
        val perType = ev.filter(col("user_id").isNotNull)
          .groupBy(col("event_type").as("grp"))
          .agg(expr("hll_sketch(CAST(user_id AS STRING))").as("h"),
            countDistinct(col("user_id")).as("n_exact"))
        val global = ev.filter(col("event_id").isNotNull)
          .groupBy(lit("__all_events").as("grp"))
          .agg(expr("hll_sketch(CAST(event_id AS STRING))").as("h"),
            countDistinct(col("event_id")).as("n_exact"))
        // alpha_m·m²·2^65 / s, linear counting below 2.5m — evaluated with
        // the same literal expression tree as the oracle so the IEEE result
        // (and hence the verdict) is engine-identical. s is reconstructed
        // in DOUBLE from the int64-safe hi/lo halves (s_hi·2^36 + s_lo)
        // with the identical multiply-add on both engines.
        val sD = col("h.s_hi").cast("double") * lit(68719476736.0) +
          col("h.s_lo").cast("double")
        val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
          lit(65536.0) * lit(math.pow(2.0, 65)) / sD
        val est = when(raw <= lit(640.0) && col("h.zeros") > 0,
          lit(256.0) * log(lit(256.0) / col("h.zeros").cast("double")))
          .otherwise(raw)
        perType.unionByName(global)
          .select(col("grp"), col("n_exact"),
            col("h.s_hi").as("s_hi"), col("h.s_lo").as("s_lo"),
            col("h.zeros").as("n_zero"),
            (abs(est - col("n_exact")) <= col("n_exact") * lit(0.15))
              .as("err_ok"))
      },
      Some(s"""WITH ${hllOracleCtes(
               """SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS sv FROM events
                 |  UNION ALL
                 |  SELECT '__all_events' AS grp, CAST(event_id AS VARCHAR) AS sv FROM events""".stripMargin)},
             |ex AS (
             |  SELECT event_type AS grp, COUNT(DISTINCT user_id) AS n_exact
             |  FROM events GROUP BY 1
             |  UNION ALL
             |  SELECT '__all_events', COUNT(DISTINCT event_id) FROM events)
             |SELECT e.grp, e.n_exact, s_hi, s_lo,
             |  CAST(zeros AS INTEGER) AS n_zero,
             |  CASE WHEN 0.7213/(1.0+1.079/256.0)*65536.0*pow(2,65)
             |           /(CAST(s_hi AS DOUBLE)*68719476736.0
             |             + CAST(s_lo AS DOUBLE)) <= 640.0 AND zeros > 0
             |    THEN abs(256.0*ln(256.0/CAST(zeros AS DOUBLE)) - e.n_exact)
             |           <= e.n_exact * 0.15
             |    ELSE abs(0.7213/(1.0+1.079/256.0)*65536.0*pow(2,65)
             |           /(CAST(s_hi AS DOUBLE)*68719476736.0
             |             + CAST(s_lo AS DOUBLE)) - e.n_exact)
             |           <= e.n_exact * 0.15
             |  END AS err_ok
             |FROM ex e JOIN sk2 USING (grp)""".stripMargin)),

    // A4d: the mergeable-sketch LIFECYCLE — per-day hll_state register
    // arrays (the storable mart column) max-merged into one corpus sketch
    // via hll_merge, asserted BIT-IDENTICAL to a direct one-pass hll_sketch
    // over the same values (sketch union is exact; no error compounds on
    // merge). This is the 100 TB distinct-count pattern: extend a metric by
    // merging KB-sized stored states, never by re-scanning history.
    Q("a4d_hll_merge_daily",
      (s, d) => {
        graft.plans.HllSketch.register(s)
        val ev = Tables.events(s, d)
        val daily = ev.groupBy(to_date(col("ts")).as("day"))
          .agg(expr("hll_state(CAST(user_id AS STRING))").as("st"))
        val merged = daily.agg(count(lit(1)).as("n_days"),
          expr("hll_merge(st)").as("h"))
        val direct = ev.agg(expr("hll_sketch(CAST(user_id AS STRING))").as("hd"))
        merged.crossJoin(broadcast(direct))
          .select(col("n_days"),
            col("h.s_hi").as("s_hi"), col("h.s_lo").as("s_lo"),
            col("h.zeros").as("n_zero"),
            (col("h.s_hi") === col("hd.s_hi") &&
              col("h.s_lo") === col("hd.s_lo") &&
              col("h.zeros") === col("hd.zeros"))
              .as("merge_exact"))
      },
      Some(s"""WITH ${hllOracleCtes(
               "SELECT '__all' AS grp, CAST(user_id AS VARCHAR) AS sv FROM events")},
             |days AS (SELECT COUNT(*) AS n_days
             |  FROM (SELECT DISTINCT CAST(ts AS DATE) FROM events))
             |-- LEFT JOIN + empty-sketch COALESCE: on an empty events table
             |-- Spark's ungrouped agg still emits 1 row with the all-zero
             |-- readout (s = 256*2^65 -> hi 2^37, lo 0, zeros 256); the
             |-- grouped sk2 has no row, so the join must not drop days'
             |SELECT n_days,
             |  COALESCE(s_hi, 137438953472) AS s_hi,
             |  COALESCE(s_lo, 0) AS s_lo,
             |  CAST(COALESCE(zeros, 256) AS INTEGER) AS n_zero,
             |  true AS merge_exact
             |FROM days LEFT JOIN sk2 ON true""".stripMargin)),

    // A4e: sketch SET OPERATIONS — pairwise audience overlap between event
    // types from the STORED per-type HLL states (the a4d mart column), never
    // from a re-scan: union = bucketwise register max (hll_merge over the
    // two states), intersection ESTIMATE by inclusion–exclusion
    // est(A)+est(B)−est(A∪B). This is the 100 TB overlap pattern — T
    // KB-sized states answer all T(T−1)/2 pair overlaps; the exact columns
    // (n_inter from ONE distinct self-join on the user key, n_union by
    // arithmetic n_a+n_b−n_inter) are the audit the gated scales can still
    // afford. Registers are md5-replayable (the a4c contract), so the
    // oracle rebuilds the pair-union sketches from the raw rows and both
    // verdicts — union estimate within 15%, inclusion–exclusion
    // intersection within 25%-of-union (3 compounding sketch errors) —
    // hash-match as booleans computed from identical IEEE literal trees.
    Q("a4e_hll_overlap",
      (s, d) => {
        graft.plans.HllSketch.register(s)
        val ut = Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_type").as("t"), col("user_id").as("u"))
          .distinct().barrier()
        val st = ut.groupBy(col("t"))
          .agg(expr("hll_state(CAST(u AS STRING))").as("st"),
            count(lit(1)).as("nex")) // ut is distinct: count = exact distinct
        // per-type readout: a 1-row merge exposes (s_hi, s_lo, zeros)
        val singles = st.groupBy(col("t"))
          .agg(expr("hll_merge(st)").as("h"), first(col("nex")).as("nex"))
          .select(col("t"), col("h.s_hi").as("hi"), col("h.s_lo").as("lo"),
            col("h.zeros").as("z"), col("nex"))
        val pairsRaw = st.select(col("t").as("ta"), col("st").as("sa"))
          .join(st.select(col("t").as("tb"), col("st").as("sb")),
            col("ta") < col("tb"))
        val merged = pairsRaw
          .select(col("ta"), col("tb"),
            explode(array(col("sa"), col("sb"))).as("stx"))
          .groupBy(col("ta"), col("tb")).agg(expr("hll_merge(stx)").as("h"))
        val inter = ut.toDF("t1", "u").join(ut.toDF("t2", "u2"),
            col("u") === col("u2") && col("t1") < col("t2"))
          .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("ni"))
        def estOf(hi: Column, lo: Column, z: Column): Column = {
          val sD = hi.cast("double") * lit(68719476736.0) + lo.cast("double")
          val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
            lit(65536.0) * lit(math.pow(2.0, 65)) / sD
          when(raw <= lit(640.0) && z > 0,
            lit(256.0) * log(lit(256.0) / z.cast("double"))).otherwise(raw)
        }
        val withSingles = merged
          .join(singles.toDF("ta", "hi_a", "lo_a", "z_a", "n_a"), "ta")
          .join(singles.toDF("tb", "hi_b", "lo_b", "z_b", "n_b"), "tb")
          .join(inter.toDF("ta", "tb", "ni"), Seq("ta", "tb"), "left")
          .withColumn("n_inter", coalesce(col("ni"), lit(0L)))
        val estU = estOf(col("h.s_hi"), col("h.s_lo"), col("h.zeros"))
        val estI = estOf(col("hi_a"), col("lo_a"), col("z_a")) +
          estOf(col("hi_b"), col("lo_b"), col("z_b")) - estU
        val nUnion = (col("n_a") + col("n_b") - col("n_inter"))
        withSingles.select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("n_a"), col("n_b"), col("n_inter"),
          nUnion.as("n_union"),
          col("h.s_hi").as("s_hi"), col("h.s_lo").as("s_lo"),
          col("h.zeros").as("n_zero"),
          (abs(estU - nUnion.cast("double")) <=
            nUnion.cast("double") * lit(0.15)).as("union_est_ok"),
          (abs(estI - col("n_inter").cast("double")) <=
            nUnion.cast("double") * lit(0.25)).as("inter_est_ok"))
      },
      Some {
        def estSql(hi: String, lo: String, z: String): String = {
          val raw = s"0.7213/(1.0+1.079/256.0)*65536.0*pow(2,65)" +
            s"/(CAST($hi AS DOUBLE)*68719476736.0 + CAST($lo AS DOUBLE))"
          s"CASE WHEN $raw <= 640.0 AND $z > 0 " +
            s"THEN 256.0*ln(256.0/CAST($z AS DOUBLE)) ELSE $raw END"
        }
        val ea = estSql("sa.s_hi", "sa.s_lo", "sa.zeros")
        val eb = estSql("sb.s_hi", "sb.s_lo", "sb.zeros")
        s"""WITH ${hllOracleCtes(
             """SELECT grp, CAST(u AS VARCHAR) AS sv FROM (
               |    SELECT event_type AS grp, user_id AS u FROM events
               |      WHERE user_id IS NOT NULL
               |    UNION ALL
               |    SELECT p.ga || '&' || p.gb AS grp, e.user_id AS u
               |    FROM events e
               |    JOIN (SELECT a.t AS ga, b.t AS gb
               |          FROM (SELECT DISTINCT event_type AS t FROM events
               |                WHERE user_id IS NOT NULL) a
               |          JOIN (SELECT DISTINCT event_type AS t FROM events
               |                WHERE user_id IS NOT NULL) b ON a.t < b.t) p
               |      ON e.event_type IN (p.ga, p.gb)
               |    WHERE e.user_id IS NOT NULL)""".stripMargin)},
           |ut AS MATERIALIZED (SELECT DISTINCT event_type AS t, user_id AS u FROM events
           |       WHERE user_id IS NOT NULL),
           |sing AS MATERIALIZED (SELECT t, CAST(COUNT(*) AS BIGINT) AS nex
           |         FROM ut GROUP BY 1),
           |tp AS (SELECT a.t AS ta, b.t AS tb
           |       FROM (SELECT DISTINCT t FROM ut) a
           |       JOIN (SELECT DISTINCT t FROM ut) b ON a.t < b.t),
           |ix AS (SELECT x.t AS ta, y.t AS tb,
           |         CAST(COUNT(*) AS BIGINT) AS ni
           |       FROM ut x JOIN ut y ON x.u = y.u AND x.t < y.t
           |       GROUP BY 1, 2)
           |SELECT tp.ta AS type_a, tp.tb AS type_b,
           |  na.nex AS n_a, nb.nex AS n_b,
           |  COALESCE(ix.ni, 0) AS n_inter,
           |  na.nex + nb.nex - COALESCE(ix.ni, 0) AS n_union,
           |  su.s_hi, su.s_lo, CAST(su.zeros AS INTEGER) AS n_zero,
           |  abs(${estSql("su.s_hi", "su.s_lo", "su.zeros")}
           |      - CAST(na.nex + nb.nex - COALESCE(ix.ni, 0) AS DOUBLE))
           |    <= CAST(na.nex + nb.nex - COALESCE(ix.ni, 0) AS DOUBLE) * 0.15
           |    AS union_est_ok,
           |  abs(($ea) + ($eb) - (${estSql("su.s_hi", "su.s_lo", "su.zeros")})
           |      - CAST(COALESCE(ix.ni, 0) AS DOUBLE))
           |    <= CAST(na.nex + nb.nex - COALESCE(ix.ni, 0) AS DOUBLE) * 0.25
           |    AS inter_est_ok
           |FROM tp
           |JOIN sk2 su ON su.grp = tp.ta || '&' || tp.tb
           |JOIN sk2 sa ON sa.grp = tp.ta
           |JOIN sk2 sb ON sb.grp = tp.tb
           |JOIN sing na ON na.t = tp.ta
           |JOIN sing nb ON nb.t = tp.tb
           |LEFT JOIN ix ON ix.ta = tp.ta AND ix.tb = tp.tb""".stripMargin
      }),

    // A5: conditional aggregates (gross / discounted / net in one pass).
    // Reference: `dashboard.py:660-684`.
    Q("a5_conditional_agg",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          Q.dsum(when(col("l_discount") === 0.0, col("l_extendedprice"))).as("gross_full"),
          Q.dsum(when(col("l_discount") > 0.0,
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("discounted"),
          Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net"),
          count(lit(1)).as("n")),
      Some(s"""SELECT l_returnflag,
              |${Q.dsumSql("CASE WHEN l_discount = 0.0 THEN l_extendedprice END")} AS gross_full,
              |${Q.dsumSql("CASE WHEN l_discount > 0.0 THEN l_extendedprice * (1.0 - l_discount) END")} AS discounted,
              |${Q.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS net,
              |COUNT(*) AS n
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // A6: percentage-of-total — agg joined against a deterministic grand total.
    // Reference: `dashboard.py:622-631`.
    Q("a6_pct_of_total",
      (s, d) => {
        val byPrio = Tables.orders(s, d).groupBy(col("o_orderpriority"))
          .agg(Q.dsum(col("o_totalprice")).as("revenue"))
        val total = Tables.orders(s, d).agg(Q.dsum(col("o_totalprice")).as("total"))
        byPrio.crossJoin(broadcast(total))
          .select(col("o_orderpriority"), col("revenue"),
            round(col("revenue") / col("total") * 100, 6).as("pct"))
      },
      Some(s"""WITH t AS (SELECT ${Q.dsumSql("o_totalprice")} AS total FROM orders)
              |SELECT o_orderpriority, ${Q.dsumSql("o_totalprice")} AS revenue,
              |round(${Q.dsumSql("o_totalprice")} / (SELECT total FROM t) * 100, 6) AS pct
              |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // A7: cohort matrix — cohort month of first order × repeat-within-window rates.
    // Reference: `build_conversion_rate_analysis.py:327-432`.
    Q("a7_cohort_matrix",
      (s, d) => {
        val o = Tables.orders(s, d)
        val first = o.groupBy(col("o_custkey").as("custkey"))
          .agg(min(col("o_orderdate")).as("first_dt"))
        val second = o.join(first, o("o_custkey") === first("custkey") &&
            o("o_orderdate") > first("first_dt"))
          .groupBy(col("custkey").as("ck2"))
          .agg(min(col("o_orderdate")).as("second_dt"))
        first.join(second, first("custkey") === second("ck2"), "left")
          .select(date_trunc("month", col("first_dt")).cast("date").as("cohort_month"),
            when(datediff(col("second_dt").cast("date"), col("first_dt").cast("date")) <= 30, 1L)
              .otherwise(0L).as("r30"),
            when(datediff(col("second_dt").cast("date"), col("first_dt").cast("date")) <= 90, 1L)
              .otherwise(0L).as("r90"))
          .groupBy(col("cohort_month"))
          .agg(count(lit(1)).as("n_customers"), sum(col("r30")).as("n_repeat_30d"),
            sum(col("r90")).as("n_repeat_90d"))
      },
      Some("""WITH first AS MATERIALIZED (
             |  SELECT o_custkey AS custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY 1),
             |second AS (
             |  SELECT f.custkey, MIN(o.o_orderdate) AS second_dt
             |  FROM first f JOIN orders o ON o.o_custkey = f.custkey AND o.o_orderdate > f.first_dt
             |  GROUP BY 1)
             |SELECT CAST(date_trunc('month', f.first_dt) AS DATE) AS cohort_month,
             |  COUNT(*) AS n_customers,
             |  CAST(SUM(CASE WHEN date_diff('day', CAST(f.first_dt AS DATE), CAST(s.second_dt AS DATE)) <= 30
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_30d,
             |  CAST(SUM(CASE WHEN date_diff('day', CAST(f.first_dt AS DATE), CAST(s.second_dt AS DATE)) <= 90
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_90d
             |FROM first f LEFT JOIN second s ON s.custkey = f.custkey
             |GROUP BY 1""".stripMargin),
      bench = true),

    // A8: weekly + monthly snapshots unioned with a period_type tag
    // (hand-rolled grouping sets). Reference: `build_conversion_rate_analysis.py:435-545`.
    Q("a8_snapshot_periods",
      (s, d) => {
        val o = Tables.orders(s, d)
        def at(unit: String) = o.groupBy(date_trunc(unit, col("o_orderdate")).cast("date").as("period"))
          .agg(Q.dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
          .withColumn("period_type", lit(unit))
        at("week").unionByName(at("month"))
      },
      Some(s"""SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS period,
              |${Q.dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n, 'week' AS period_type
              |FROM orders GROUP BY 1
              |UNION ALL
              |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
              |${Q.dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n, 'month' AS period_type
              |FROM orders GROUP BY 1""".stripMargin)),

    // A8b: the same two-grain snapshot as one GROUPING SETS pass (SURVEY §2.4
    // note: the idiomatic form of the hand-rolled union) — single scan, one
    // shuffle, Catalyst expands the sets.
    Q("a8b_grouping_sets",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql(s"""SELECT COALESCE(week, month) AS period,
                 |  CASE WHEN GROUPING(week) = 0 THEN 'week' ELSE 'month' END AS period_type,
                 |  ${Q.dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n
                 |FROM (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
                 |             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 |             o_totalprice
                 |      FROM orders_v)
                 |GROUP BY GROUPING SETS ((week), (month))""".stripMargin)
      },
      Some(s"""SELECT COALESCE(week, month) AS period,
              |  CASE WHEN GROUPING(week) = 0 THEN 'week' ELSE 'month' END AS period_type,
              |  ${Q.dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n
              |FROM (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
              |             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
              |             o_totalprice
              |      FROM orders)
              |GROUP BY GROUPING SETS ((week), (month))""".stripMargin)),

    // A9: duplicate-key group detection (groups with >1 member).
    // Reference: duplicate emails `build_customer_master.py:141-150`.
    Q("a9_dup_groups",
      (s, d) => {
        val w = Window.partitionBy(col("c_acctbal"))
        Tables.customer(s, d)
          .withColumn("group_size", count(lit(1)).over(w))
          .filter(col("group_size") > 1)
          .select(col("c_custkey"), col("c_acctbal"), col("group_size"))
      },
      Some("""SELECT c_custkey, c_acctbal, group_size FROM (
             |  SELECT c_custkey, c_acctbal, COUNT(*) OVER (PARTITION BY c_acctbal) AS group_size
             |  FROM customer) WHERE group_size > 1""".stripMargin)),

    // A10: first row per key after sort (min_by).
    // Reference: first membership per owner `build_conversion_rate_analysis.py:143-150`.
    Q("a10_first_per_key",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d).withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
            col("o_orderdate").cast("date").as("first_date"))
      },
      Some("""SELECT o_custkey, o_orderkey AS first_orderkey, CAST(o_orderdate AS DATE) AS first_date
             |FROM orders
             |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1""".stripMargin)),

    // A11: latest record per key. Reference: `build_contact_preferences.py:462-468`.
    Q("a11_latest_per_key",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d).withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            Q.tsFmt(col("ts")).as("last_ts"), col("event_type").as("last_type"))
      },
      Some(s"""SELECT user_id, event_id AS last_event_id, ${Q.tsFmtSql("ts")} AS last_ts,
              |event_type AS last_type
              |FROM events
              |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)),

    // A12: count-in-window threshold ("offer eligibility").
    // Reference: `customer_flags_engine.py:805-933`.
    Q("a12_count_threshold",
      (s, d) => Tables.events(s, d)
        .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
          col("ts") < lit("2024-01-25").cast("timestamp"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 30),
      Some("""SELECT user_id, COUNT(*) AS n FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-25'
             |GROUP BY user_id HAVING COUNT(*) >= 30""".stripMargin)),

    // A12b: the full "offer" shape — count-threshold eligibility in the
    // current window, then a cooldown ANTI-JOIN removing users who already
    // qualified in the prior run's window (no re-offer inside the cooldown).
    // Reference: audience + cooldown filters `customer_flags_engine.py:805-933`.
    Q("a12b_offers_cooldown",
      (s, d) => {
        def qualified(lo: String, hi: String) = Tables.events(s, d)
          .filter(col("ts") >= lit(lo).cast("timestamp") &&
            col("ts") < lit(hi).cast("timestamp"))
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 20)
        qualified("2024-01-24", "2024-01-31")
          .join(qualified("2024-01-17", "2024-01-24"), Seq("user_id"), "left_anti")
      },
      Some("""WITH cur AS (
             |  SELECT user_id, COUNT(*) AS n FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-24' AND ts < TIMESTAMP '2024-01-31'
             |  GROUP BY user_id HAVING COUNT(*) >= 20),
             |cooldown AS (
             |  SELECT user_id FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-17' AND ts < TIMESTAMP '2024-01-24'
             |  GROUP BY user_id HAVING COUNT(*) >= 20)
             |SELECT user_id, n FROM cur
             |WHERE user_id NOT IN (SELECT user_id FROM cooldown)""".stripMargin)),

    // A13: activity-risk buckets from two trailing windows at a fixed as-of.
    // Reference: `identify_at_risk_members.py:50-212` (rewritten from a row loop
    // into one conditional-agg pass — the classic groupBy rewrite).
    Q("a13_risk_buckets",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") >= lit("2024-01-24").cast("timestamp"), 1L).otherwise(0L)).as("n_last7"),
          sum(when(col("ts") >= lit("2024-01-10").cast("timestamp") &&
            col("ts") < lit("2024-01-24").cast("timestamp"), 1L).otherwise(0L)).as("n_prior14"))
        .withColumn("bucket",
          when(col("n_last7") === 0 && col("n_prior14") === 0, "very_inactive")
            .when(col("n_last7") === 0, "declining").otherwise("active")),
      Some("""SELECT user_id,
             |CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-24' THEN 1 ELSE 0 END) AS BIGINT) AS n_last7,
             |CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-24'
             |     THEN 1 ELSE 0 END) AS BIGINT) AS n_prior14,
             |CASE WHEN SUM(CASE WHEN ts >= TIMESTAMP '2024-01-24' THEN 1 ELSE 0 END) = 0
             |       AND SUM(CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-24' THEN 1 ELSE 0 END) = 0
             |     THEN 'very_inactive'
             |     WHEN SUM(CASE WHEN ts >= TIMESTAMP '2024-01-24' THEN 1 ELSE 0 END) = 0
             |     THEN 'declining' ELSE 'active' END AS bucket
             |FROM events GROUP BY user_id""".stripMargin)),

    // A14: long→wide pivot. Reference: `build_contact_preferences.py:469-485`.
    Q("a14_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("error"), lit(0L)).as("n_error")),
      Some("""SELECT user_id,
             |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             |CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
             |FROM events GROUP BY user_id""".stripMargin)),

    // A15: mode per key with deterministic tie-break (most-common category).
    // Reference: `link_refunds_to_categories.py:122-129`.
    Q("a15_mode_per_key",
      (s, d) => {
        val counts = Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("event_type"))
        counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
      },
      Some("""SELECT user_id, event_type AS mode_type, n FROM (
             |  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
             |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) = 1""".stripMargin)),

    // A16: weighted edge rollup — pair counts → bucketed strength score.
    // Reference: `build_customer_connections.py:17-39`. Pairs here are
    // (user, event_type) co-occurrence days; the ladder is the operator.
    Q("a16_edge_rollup",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(countDistinct(col("ts").cast("date")).as("n_days"))
        .withColumn("strength",
          Categorize.bucketLadder(col("n_days").cast("double"), strengthBounds, "5")),
      Some(s"""SELECT user_id, event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
              |${Categorize.bucketLadderSql("CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)", strengthBounds, "5")} AS strength
              |FROM events GROUP BY 1, 2""".stripMargin)),

    // A17: exact discrete percentiles per segment — the same first-data-
    // value-at-ceil(p·n) semantics percentile_disc implements (SQL standard,
    // identical in Spark and DuckDB; no interpolation arithmetic, so the
    // doubles hash-match exactly), computed by Percentiles.disc: histogram +
    // two-level prefix sum + integer-ceil rank pick. percentile_disc itself
    // buffers every group value in one aggregator — exact but an OOM cliff
    // at 100 TB; the rank-pick keeps state distinct-value-sized and every
    // window partitioned. OpsSpec pins equality against percentile_disc.
    Q("a17_percentiles",
      (s, d) => graft.ops.Percentiles.disc(
          Tables.customer(s, d), Seq("c_mktsegment"), "c_acctbal",
          Seq(("p25_bal", 25, 100), ("p50_bal", 50, 100), ("p90_bal", 90, 100)))
        .select(col("c_mktsegment"), col("n"),
          col("p25_bal"), col("p50_bal"), col("p90_bal"),
          col("min_val").as("min_bal"), col("max_val").as("max_bal")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |  percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal) AS p25_bal,
             |  percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS p50_bal,
             |  percentile_disc(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS p90_bal,
             |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
             |FROM customer GROUP BY 1""".stripMargin)),

    // A17b: the unbounded-scale twin of A17 — approx_percentile's mergeable
    // sketch keeps executor memory constant per group where exact
    // percentile_disc buffers every value. Sketch internals are
    // engine-specific, so (like a4b's HLL) the sketch VALUE can't hash-match;
    // the query instead emits the rank-band VERDICT — the approx value must
    // land between the exact 45th/55th (resp. 85th/95th) percentiles, a ±5%
    // rank tolerance the accuracy-10000 sketch beats by orders of magnitude —
    // plus the exact p50/p90 (oracle-computable). The exact columns are the
    // verification harness; at 100 TB ship the sketch columns alone.
    Q("a17b_approx_percentiles",
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)").as("p50_exact"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c_acctbal)").as("p90_exact"),
          expr("percentile_disc(0.45) WITHIN GROUP (ORDER BY c_acctbal)").as("p45"),
          expr("percentile_disc(0.55) WITHIN GROUP (ORDER BY c_acctbal)").as("p55"),
          expr("percentile_disc(0.85) WITHIN GROUP (ORDER BY c_acctbal)").as("p85"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY c_acctbal)").as("p95"),
          percentile_approx(col("c_acctbal"), lit(0.5), lit(10000)).as("a50"),
          percentile_approx(col("c_acctbal"), lit(0.9), lit(10000)).as("a90"))
        .select(col("c_mktsegment"), col("n"), col("p50_exact"), col("p90_exact"),
          col("a50").between(col("p45"), col("p55")).as("p50_in_rank_band"),
          col("a90").between(col("p85"), col("p95")).as("p90_in_rank_band")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |  percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS p50_exact,
             |  percentile_disc(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS p90_exact,
             |  true AS p50_in_rank_band, true AS p90_in_rank_band
             |FROM customer GROUP BY 1""".stripMargin)),

    // A18: DETERMINISTIC mergeable quantile-histogram sketch
    // (ops/QuantileSketch.scala) — the third mergeable sketch next to HLL
    // (a4c, distincts) and CMS (t24, frequencies). Unlike a17b's
    // percentile_approx (opaque sampling-dependent state, tolerance-gated
    // only), the log-bucketed histogram is pure integer/string arithmetic,
    // so the DuckDB oracle replays the STATE bit-for-bit: picked bucket ids,
    // bucket counts, and bound doubles all hash-match, and the verdict —
    // the exact percentile_disc value falls in the picked bucket — is
    // recomputed independently by both engines. State is <1.3k buckets at
    // ANY row count; ~10% relative-error bounds by construction.
    Q("a18_quantile_sketch",
      (s, d) => {
        val src = Tables.orders(s, d)
          .filter(col("o_totalprice").isNotNull && col("o_totalprice") >= 0 &&
            col("o_totalprice") < graft.ops.QuantileSketch.MaxValue)
        val hist = graft.ops.QuantileSketch.histogram(
          src, Seq("o_orderpriority"), "o_totalprice")
        val qs = graft.ops.QuantileSketch.quantiles(hist, Seq("o_orderpriority"),
          Seq(("p50", 1, 2), ("p95", 19, 20)))
        val exact = graft.ops.Percentiles.disc(src, Seq("o_orderpriority"),
            "o_totalprice", Seq(("e50", 1, 2), ("e95", 19, 20)))
          .select(col("o_orderpriority"), col("e50"), col("e95"))
        import graft.ops.QuantileSketch.{bucketId, qunits}
        qs.join(exact, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("n"), col("n_buckets"),
            col("p50_low"), col("p95_low"),
            (bucketId(qunits(col("e50"))) === col("p50_bucket")).as("p50_brackets"),
            (bucketId(qunits(col("e95"))) === col("p95_bucket")).as("p95_brackets"))
      },
      Some {
        import graft.ops.QuantileSketch._
        s"""WITH src AS (
           |  SELECT o_orderpriority AS grp, ${qunitsSql("o_totalprice")} AS qv
           |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
           |    AND o_totalprice < 100000000000000.0),
           |h AS (SELECT grp, ${bucketIdSql("qv")} AS bucket, COUNT(*) AS cnt
           |      FROM src GROUP BY 1, 2),
           |c AS (SELECT grp, bucket,
           |        SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
           |        SUM(cnt) OVER (PARTITION BY grp) AS n
           |      FROM h),
           |pick AS (SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
           |    COUNT(*) AS n_buckets,
           |    MIN(CASE WHEN cum >= (n * 1 + 1) // 2 THEN bucket END) AS b50,
           |    MIN(CASE WHEN cum >= (n * 19 + 19) // 20 THEN bucket END) AS b95
           |  FROM c GROUP BY grp),
           |e AS (SELECT o_orderpriority AS grp,
           |    percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS e50,
           |    percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS e95
           |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
           |    AND o_totalprice < 100000000000000.0
           |  GROUP BY 1)
           |SELECT p.grp AS o_orderpriority, p.n, p.n_buckets,
           |  CAST(${bucketLowSql("b50")} AS DOUBLE) / 10000 AS p50_low,
           |  CAST(${bucketLowSql("b95")} AS DOUBLE) / 10000 AS p95_low,
           |  ${bucketIdSql(qunitsSql("e50"))} = b50 AS p50_brackets,
           |  ${bucketIdSql(qunitsSql("e95"))} = b95 AS p95_brackets
           |FROM pick p JOIN e ON p.grp = e.grp""".stripMargin
      },
      bench = true),

    // A19: WEIGHTED exact discrete percentiles (Percentiles.discWeighted) —
    // the value at which the running WEIGHT first reaches ceil(p·W): the
    // quantity-weighted median price treats a 50-unit line item as 50
    // observations. No engine built-in does weighted percentile_disc; both
    // sides run the same histogram + prefix-sum + integer-ceil rank pick
    // (weights integral, so ranks are exact and the picked data values
    // hash-match with zero arithmetic).
    Q("a19_weighted_percentiles",
      (s, d) => graft.ops.Percentiles.discWeighted(
          Tables.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice",
          col("l_quantity"), Seq(("p50_w", 1, 2), ("p90_w", 9, 10)))
        .select(col("l_returnflag"), col("total_weight"),
          col("p50_w"), col("p90_w")),
      Some("""WITH w0 AS (
             |  -- floor-then-cast mirrors Percentiles.discWeighted exactly
             |  -- (DuckDB CAST(double AS BIGINT) rounds; Spark truncates)
             |  SELECT l_returnflag AS g, l_extendedprice AS v,
             |    CAST(floor(l_quantity) AS BIGINT) AS w
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |h AS (
             |  SELECT g, v, CAST(SUM(w) AS BIGINT) AS wt
             |  FROM w0 WHERE w IS NOT NULL AND w > 0
             |  GROUP BY 1, 2),
             |c AS (SELECT g, v,
             |    SUM(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
             |    SUM(wt) OVER (PARTITION BY g) AS tw
             |  FROM h)
             |SELECT g AS l_returnflag, CAST(MAX(tw) AS BIGINT) AS total_weight,
             |  MIN(CASE WHEN cum >= (tw * 1 + 1) // 2 THEN v END) AS p50_w,
             |  MIN(CASE WHEN cum >= (tw * 9 + 9) // 10 THEN v END) AS p90_w
             |FROM c GROUP BY g""".stripMargin)),

    // A18b: the quantile-sketch MERGE LIFECYCLE (the a4d pattern): per-day
    // histogram states — the storable KB-sized mart column — merged by
    // bucket-wise count addition, asserted BIT-IDENTICAL to the one-pass
    // histogram over the same rows (sketch merge is exact; no error
    // compounds), then quantiles answered from the merged state. The
    // 100 TB percentile pattern: any date range is a merge of stored
    // states, never a re-scan of history.
    Q("a18b_quantile_merge_daily",
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("value").isNotNull && col("value") >= 0)
        val daily = graft.ops.QuantileSketch.histogram(
          ev.withColumn("day", to_date(col("ts"))), Seq("day"), "value")
        val merged = daily.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
        val direct = graft.ops.QuantileSketch.histogram(ev, Seq.empty, "value")
        val qs = graft.ops.QuantileSketch.quantiles(
          merged.withColumn("grp", lit("all")), Seq("grp"),
          Seq(("p50", 1, 2), ("p95", 19, 20)))
        val days = daily.agg(countDistinct(col("day")).as("n_days"))
        val bad = merged.withColumnRenamed("cnt", "cm")
          .join(direct.withColumnRenamed("cnt", "cd"), Seq("bucket"), "full_outer")
          .agg(count(when(not(col("cm") <=> col("cd")), lit(1))).as("n_bad"))
        qs.crossJoin(broadcast(days)).crossJoin(broadcast(bad))
          .select(col("n_days"), col("n"), col("n_buckets"),
            col("p50_low"), col("p95_low"),
            (col("n_bad") === 0).as("merge_exact"))
      },
      Some {
        import graft.ops.QuantileSketch._
        s"""WITH src AS MATERIALIZED (
           |  SELECT ${qunitsSql("value")} AS qv, CAST(ts AS DATE) AS day
           |  FROM events
           |  WHERE value IS NOT NULL AND value >= 0 AND value < 100000000000000.0),
           |h AS (SELECT ${bucketIdSql("qv")} AS bucket, COUNT(*) AS cnt
           |      FROM src GROUP BY 1),
           |c AS (SELECT bucket,
           |        SUM(cnt) OVER (ORDER BY bucket) AS cum,
           |        SUM(cnt) OVER () AS n
           |      FROM h),
           |pick AS (SELECT CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_buckets,
           |    MIN(CASE WHEN cum >= (n * 1 + 1) // 2 THEN bucket END) AS b50,
           |    MIN(CASE WHEN cum >= (n * 19 + 19) // 20 THEN bucket END) AS b95
           |  FROM c),
           |days AS (SELECT COUNT(DISTINCT day) AS n_days FROM src)
           |SELECT n_days, n, n_buckets,
           |  CAST(${bucketLowSql("b50")} AS DOUBLE) / 10000 AS p50_low,
           |  CAST(${bucketLowSql("b95")} AS DOUBLE) / 10000 AS p95_low,
           |  true AS merge_exact
           |FROM days CROSS JOIN pick""".stripMargin
      }),

    // A20: market-basket pair co-occurrence with support and lift — which
    // product brands sell TOGETHER (the cross-sell readout next to a16's
    // interaction edges). Baskets are orders, items the DISTINCT part
    // brands in each; for every unordered brand pair: the basket count,
    // support (baskets with both / all baskets) and lift (observed /
    // expected-under-independence), both as exact integer milli units.
    // Engine shape: brand dim broadcast into the fact scan (J3), ONE
    // groupBy(order) collect_set, pairs emitted group-local by the g4b
    // pair_combinations generator — zero extra shuffle, safe because
    // baskets are bounded (≤7 lineitems/order ⇒ ≤21 pairs) while the
    // oracle's self-join spelling re-derives the same counts by a
    // different algorithm; the rollup output is brand-pair-sized (≤300
    // rows) at any fact volume. lift_milli = n_both·n_orders·1000 div
    // (n_a·n_b) stays in int64: n_both, n_a, n_b ≤ n_orders and
    // n_orders³·1000 needs n_orders ≲ 2·10⁵ per partitioned report grain —
    // at warehouse scale the same report runs per month/region partition,
    // never one global basket universe.
    Q("a20_basket_lift",
      (s, d) => {
        val ob = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
          .distinct().barrier() // three consumers below
        val nOrders = ob.agg(countDistinct(col("ok")).as("n_orders"))
        val bc = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
        val baskets = ob.groupBy(col("ok"))
          .agg(sort_array(collect_set(col("b"))).as("bs"))
        val pairs = graft.plans.PairCombinations
          .pairsOf(s, baskets, "bs", Seq("ok"))
          .groupBy(col("a").as("brand_a"), col("b").as("brand_b"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .join(bc.toDF("brand_a", "n_a"), "brand_a")
          .join(bc.toDF("brand_b", "n_b"), "brand_b")
          .crossJoin(broadcast(nOrders))
          .select(col("brand_a"), col("brand_b"), col("n_both"),
            col("n_a"), col("n_b"),
            expr("n_both * 100000 div n_orders").as("support_pct_milli"),
            expr("n_both * n_orders * 1000 div (n_a * n_b)").as("lift_milli"))
      },
      Some("""WITH ob AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob),
             |bc AS MATERIALIZED (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM ob GROUP BY 1),
             |pr AS (
             |  SELECT x.b AS brand_a, y.b AS brand_b,
             |    CAST(COUNT(*) AS BIGINT) AS n_both
             |  FROM ob x JOIN ob y ON x.ok = y.ok AND x.b < y.b
             |  GROUP BY 1, 2)
             |SELECT brand_a, brand_b, n_both, ca.nb AS n_a, cb.nb AS n_b,
             |  n_both * 100000 // n_orders AS support_pct_milli,
             |  n_both * n_orders * 1000 // (ca.nb * cb.nb) AS lift_milli
             |FROM pr JOIN bc ca ON ca.b = brand_a
             |JOIN bc cb ON cb.b = brand_b CROSS JOIN n""".stripMargin))
  )
}
