package graft.queries

import graft.core.Tables
import org.apache.spark.sql.functions._

/** Explode / pairwise generation (SURVEY.md §2.7 G1–G6). */
object Explodes {

  val qs: Seq[Q] = Seq(

    // G1+G3: split a delimited string column and explode — word frequencies.
    // Reference: `upcoming_bill_dates` explode `fetch_capitan_membership_data.py:375-428`,
    // `sources.str.split('|').explode()` `customer_matching.py:504`.
    Q("g1_split_explode",
      (s, d) => Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n")),
      Some("""SELECT word, COUNT(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |WHERE word <> '' GROUP BY word""".stripMargin)),

    // G4: pairwise combinations within a group — co-supplier pairs per order.
    // G2+J12: nested-roster round trip — build an array-of-struct roster per
    // customer (the membership `all_customers` shape), then flatten one row
    // per member. array_sort makes the nested build order-independent.
    // Reference: roster explode `fetch_capitan_membership_data.py:266-297`.
    Q("g2_roster_roundtrip",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(expr("array_sort(collect_list(struct(o_orderkey, o_totalprice)))").as("roster"))
        .select(col("o_custkey"), explode(col("roster")).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("o_orderkey"),
          col("m.o_totalprice").as("o_totalprice")),
      Some("SELECT o_custkey, o_orderkey, o_totalprice FROM orders")),

    // Reference: `itertools.combinations` `build_customer_interactions.py:76-120`.
    // Self-join on the group key with a < b; group sizes are bounded (≤7 lines
    // per order) so the within-group blowup is constant-bounded at any scale.
    Q("g4_pairwise_combos",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")).distinct()
        val a = li.toDF("ok_a", "supp_a")
        val b = li.toDF("ok_b", "supp_b")
        a.join(b, col("ok_a") === col("ok_b") && col("supp_a") < col("supp_b"))
          .groupBy(col("supp_a"), col("supp_b")).agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
      },
      Some("""SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, COUNT(*) AS n_orders
             |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
             |JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
             |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)),

    // G4b: same pairs via the custom Catalyst Generator (graft.plans
    // .PairCombinations) — group-local pair generation with no self-join
    // shuffle; must agree exactly with the relational g4 oracle.
    Q("g4b_pairwise_generator",
      (s, d) => {
        val groups = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("l_suppkey"))).as("supps"))
        graft.plans.PairCombinations.pairsOf(s, groups, "supps", Seq("l_orderkey"))
          .groupBy(col("a").as("supp_a"), col("b").as("supp_b"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
      },
      Some("""SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, COUNT(*) AS n_orders
             |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
             |JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
             |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)),

    // G5: one row → N typed rows via explode(array(struct...)).
    // Reference: pass transfer → two events `customer_events_builder.py:499-575`.
    Q("g5_row_to_events",
      (s, d) => Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), Q.usecs(col("ts")).as("us"), col("value"))
        .select(col("event_id"), explode(array(
          struct(lit("purchase_made").as("kind"), col("us").as("at_us"),
            col("value").as("amount")),
          struct(lit("purchase_settled").as("kind"), (col("us") + 3600000000L).as("at_us"),
            (col("value") * 0.97).as("amount")))).as("e"))
        .select(col("event_id"), col("e.kind").as("kind"), col("e.at_us").as("at_us"),
          round(col("e.amount"), 4).as("amount")),
      Some("""SELECT event_id, 'purchase_made' AS kind, epoch_us(ts) AS at_us,
             |round(value, 4) AS amount
             |FROM events WHERE event_type = 'purchase'
             |UNION ALL
             |SELECT event_id, 'purchase_settled' AS kind, epoch_us(ts) + 3600000000 AS at_us,
             |round(value * 0.97, 4) AS amount
             |FROM events WHERE event_type = 'purchase'""".stripMargin)),

    // G6: date-spine generation (sequence + explode) with calendar features.
    // Reference: `pd.date_range` spine `dashboard.py:1014-1017`.
    Q("g6_date_spine",
      (s, d) => Tables.orders(s, d)
        .select(min(col("o_orderdate")).cast("date").as("lo"),
          max(col("o_orderdate")).cast("date").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        .select(col("day"), date_format(col("day"), "EEEE").as("dow"),
          trunc(col("day"), "MM").as("month_start"), last_day(col("day")).as("month_end")),
      Some("""SELECT day, dayname(day) AS dow, CAST(date_trunc('month', day) AS DATE) AS month_start,
             |last_day(day) AS month_end FROM (
             |  SELECT CAST(unnest(generate_series(
             |    (SELECT MIN(CAST(o_orderdate AS DATE)) FROM orders),
             |    (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders),
             |    INTERVAL 1 DAY)) AS DATE) AS day)""".stripMargin)),

    // G7: wide→long unpivot via stack() — the pandas melt analogue (the
    // reference pivots/melts report frames for the dashboard). A generator,
    // not a join: one pass, three output rows per input row.
    Q("g7_unpivot",
      (s, d) => Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(
          Q.dsum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")))
            .as("urgent"),
          Q.dsum(when(col("o_orderpriority") === "2-HIGH", col("o_totalprice")))
            .as("high"),
          Q.dsum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            col("o_totalprice"))).as("other"))
        .selectExpr("o_custkey",
          "stack(3, 'urgent', urgent, 'high', high, 'other', other) AS (prio, revenue)"),
      Some(s"""WITH wide AS MATERIALIZED (SELECT o_custkey,
              |  ${Q.dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")} AS urgent,
              |  ${Q.dsumSql("CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END")} AS high,
              |  ${Q.dsumSql("CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN o_totalprice END")} AS other
              |  FROM orders GROUP BY o_custkey)
              |SELECT o_custkey, 'urgent' AS prio, urgent AS revenue FROM wide
              |UNION ALL SELECT o_custkey, 'high', high FROM wide
              |UNION ALL SELECT o_custkey, 'other', other FROM wide""".stripMargin))
  )
}
