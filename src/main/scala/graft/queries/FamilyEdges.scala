package graft.queries

import graft.core.Tables
import graft.flags.FlagPasses
import graft.ops.TimeJoins
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** FAM1 — the multi-strategy family-edges builder: union of four edge
  * sources with per-source confidence, then keep-best dedup per
  * (parent, child) pair.
  *
  * Reference: `build_family_relationships.py:32-480` — six sequential
  * driver-side passes appending to one list, then a sort +
  * drop_duplicates keep-first (`:455-462`). Re-expressed as a union of
  * four set-based edge derivations (each a bounded join, never all-pairs):
  *
  *  - `relations_api` (high, `:68-101`): the canonical dim —
  *    FlagPasses.familyMap over the customer universe (minors are
  *    key%10>=8, parent is the decade head kept only when present).
  *  - `membership_group` (medium, `:104-200`): minors link to the OWNER of
  *    their membership group — group = (nation, segment), owner = the
  *    smallest adult key in it; a groupBy + equi-join, one edge per minor.
  *  - `reservation_booking` (medium, `:203-245`): minors link to the
  *    booking owner of a shared reservation slot — slot =
  *    (o_orderdate, o_orderpriority); owner = smallest adult key with an
  *    order in the slot. Slot-keyed equi-join on the orders ledger.
  *  - `shared_checkin` (low, `:363-429`): j6's bucketed proximity join —
  *    minor/adult user pairs with events within 5 minutes, kept only when
  *    EXACTLY ONE adult matches the minor (`:416-419`'s guard).
  *
  * Keep-best (`:455-462`): rank high>medium>low, row_number per
  * (parent, child) ordered by rank desc then source — W5's pattern.
  *
  * Scale: every source is blocked (decade arithmetic, group key, slot key,
  * time bucket) so candidate sets are bounded by block occupancy; the union
  * shuffles once for the keep-best window on the pair key. No driver state,
  * no all-pairs product anywhere.
  */
object FamilyEdges {

  private def edge(parent: org.apache.spark.sql.Column,
      child: org.apache.spark.sql.Column, conf: String, src: String) =
    Seq(parent.cast("long").as("parent_customer_id"),
      child.cast("long").as("child_customer_id"),
      lit("parent_child").as("relationship_type"),
      lit(conf).as("confidence"), lit(src).as("source"))

  /** Reservation-slot owner edges (medium) — derived from the orders
    * ledger alone (custkey parity is arithmetic on o_custkey). Reusable:
    * dq1 counts these as behavioral parent candidates. */
  private[queries] def reservationEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val o = Tables.orders(s, d)
    val slotOwners = o.filter(col("o_custkey") % 10 < 8)
      .groupBy(col("o_orderdate").as("r_date"), col("o_orderpriority").as("r_prio"))
      .agg(min(col("o_custkey")).as("r_owner"))
    o.filter(col("o_custkey") % 10 >= 8)
      .join(slotOwners, col("o_orderdate") === col("r_date") &&
        col("o_orderpriority") === col("r_prio"))
      .select(edge(col("r_owner"), col("o_custkey"),
        "medium", "reservation_booking"): _*)
      .distinct()
  }

  /** Shared-checkin proximity edges (low): minor/adult event pairs within
    * 5 min via the bucketed proximity join, exactly-one-adult guard. */
  private[queries] def checkinEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pairs = TimeJoins.proximityPairs(
        Tables.events(s, d).withColumn("us", Q.usecs(col("ts"))),
        Seq.empty, "us", "user_id", 300L * 1000000L)
      .select(col("id_a"), col("id_b"))
      .filter((col("id_a") % 10 >= 8) =!= (col("id_b") % 10 >= 8))
      .select(
        when(col("id_a") % 10 < 8, col("id_a")).otherwise(col("id_b")).as("adult"),
        when(col("id_a") % 10 >= 8, col("id_a")).otherwise(col("id_b")).as("minor"))
      .distinct()
    pairs.withColumn("n_adults",
        count(lit(1)).over(Window.partitionBy(col("minor"))))
      .filter(col("n_adults") === 1)
      .select(edge(col("adult"), col("minor"), "low", "shared_checkin"): _*)
  }

  /** Oracle-side CTE chain for [[reservationEdges]] ++ [[checkinEdges]]
    * (defines slot_owners, res, prox_pairs, prox). */
  private[queries] val behavioralSqlCtes: String =
    """slot_owners AS (
      |  SELECT o_orderdate AS r_date, o_orderpriority AS r_prio,
      |         MIN(o_custkey) AS r_owner
      |  FROM orders WHERE o_custkey % 10 < 8 GROUP BY 1, 2),
      |res AS (
      |  SELECT DISTINCT so.r_owner AS parent_customer_id,
      |         o.o_custkey AS child_customer_id,
      |         'medium' AS confidence, 'reservation_booking' AS source
      |  FROM orders o JOIN slot_owners so
      |    ON o.o_orderdate = so.r_date AND o.o_orderpriority = so.r_prio
      |  WHERE o.o_custkey % 10 >= 8),
      |prox_pairs AS (
      |  SELECT DISTINCT
      |    CASE WHEN a.user_id % 10 < 8 THEN a.user_id ELSE b.user_id END AS adult,
      |    CASE WHEN a.user_id % 10 >= 8 THEN a.user_id ELSE b.user_id END AS minor
      |  FROM events a JOIN events b
      |    ON a.user_id < b.user_id
      |   AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
      |  WHERE (a.user_id % 10 >= 8) <> (b.user_id % 10 >= 8)),
      |prox AS (
      |  SELECT adult AS parent_customer_id, minor AS child_customer_id,
      |         'low' AS confidence, 'shared_checkin' AS source
      |  FROM (SELECT *, COUNT(*) OVER (PARTITION BY minor) AS n_adults
      |        FROM prox_pairs)
      |  WHERE n_adults = 1)""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("fam1_family_edges",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val minors = cust.filter(col("c_custkey") % 10 >= 8)
        val adults = cust.filter(col("c_custkey") % 10 < 8)

        // 1. relations dim (high)
        val relations = FlagPasses.familyMap(
            cust.select(col("c_custkey").as("user_id")))
          .select(edge(col("parent_id"), col("child_id"), "high", "relations_api"): _*)

        // 2. membership-group owner (medium)
        val owners = adults.groupBy(col("c_nationkey").as("g_nat"),
            col("c_mktsegment").as("g_seg"))
          .agg(min(col("c_custkey")).as("owner_key"))
        val groups = minors
          .join(owners, col("c_nationkey") === col("g_nat") &&
            col("c_mktsegment") === col("g_seg"))
          .select(edge(col("owner_key"), col("c_custkey"),
            "medium", "membership_group"): _*)

        // 3. + 4. the behavioral sources (shared with dq1)
        val reservations = reservationEdges(s, d)
        val oneAdult = checkinEdges(s, d)

        val all = relations.unionByName(groups)
          .unionByName(reservations).unionByName(oneAdult)
        val rank = when(col("confidence") === "high", 3)
          .when(col("confidence") === "medium", 2).otherwise(1)
        val w = Window.partitionBy(col("parent_customer_id"), col("child_customer_id"))
          .orderBy(rank.desc, col("source"))
        all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      },
      Some(s"""WITH relations AS (
             |  SELECT c_custkey - c_custkey % 10 AS parent_customer_id,
             |         c_custkey AS child_customer_id,
             |         'high' AS confidence, 'relations_api' AS source
             |  FROM customer
             |  WHERE c_custkey % 10 >= 8
             |    AND (c_custkey - c_custkey % 10) IN (SELECT c_custkey FROM customer)),
             |owners AS (
             |  SELECT c_nationkey AS g_nat, c_mktsegment AS g_seg,
             |         MIN(c_custkey) AS owner_key
             |  FROM customer WHERE c_custkey % 10 < 8 GROUP BY 1, 2),
             |grp AS (
             |  SELECT o.owner_key AS parent_customer_id,
             |         m.c_custkey AS child_customer_id,
             |         'medium' AS confidence, 'membership_group' AS source
             |  FROM customer m JOIN owners o
             |    ON m.c_nationkey = o.g_nat AND m.c_mktsegment = o.g_seg
             |  WHERE m.c_custkey % 10 >= 8),
             |$behavioralSqlCtes,
             |unioned AS (
             |  SELECT * FROM relations UNION ALL SELECT * FROM grp
             |  UNION ALL SELECT * FROM res UNION ALL SELECT * FROM prox)
             |SELECT CAST(parent_customer_id AS BIGINT) AS parent_customer_id,
             |       CAST(child_customer_id AS BIGINT) AS child_customer_id,
             |       'parent_child' AS relationship_type, confidence, source
             |FROM unioned
             |QUALIFY row_number() OVER (
             |  PARTITION BY parent_customer_id, child_customer_id
             |  ORDER BY CASE confidence WHEN 'high' THEN 3 WHEN 'medium' THEN 2
             |    ELSE 1 END DESC, source) = 1""".stripMargin)),

    // GR5: LOOKALIKE-AUDIENCE seed expansion by personalized PageRank
    // (random walk with restart, Graph.personalizedPageRank) over the
    // co-activity graph — the graph-global form of the reference's
    // connections-based targeting (`build_customer_connections.py:17-39`
    // builds the weighted edges; marketing reads "who is close to our best
    // customers" off them): edges = distinct user pairs with same-type
    // events within 120 s (j6's bucketed proximity join, user-keyed);
    // seeds = high-value buyers (exact decimal purchase total >= 1200, the
    // dsum discipline — a double sum could flip a boundary seed between
    // engines); 8 integer fixed-point rounds whose restart mass returns to
    // the seeds only, so rank_e12 IS graph proximity to the seed set.
    // Oracle replays all 8 rounds in chained CTEs (the gr1 unrolled
    // pattern; edge/degree CTEs pinned MATERIALIZED per the gr4 lesson).
    // Scale: edge volume is bounded by time-bucket occupancy; each round
    // one shuffle join + one map-side-combinable sum; rank state is
    // node-sized.
    Q("gr5_ppr_lookalike",
      (s, d) => {
        import graft.ops.Graph
        val ev = Tables.events(s, d).withColumn("us", Q.usecs(col("ts")))
        // proximityPairs' adjacent-bucket leg has no id-inequality guard
        // (with EVENT ids none is needed); keyed on user_id it can emit a
        // same-user pair from two of their own events — drop self-loops.
        val pairs = TimeJoins.proximityPairs(ev, Seq("event_type"), "us",
            "user_id", 120L * 1000000L)
          .filter(col("id_a") =!= col("id_b"))
          .select(col("id_a").as("ua"), col("id_b").as("ub")).distinct()
        val edges = pairs.select(col("ua").as("src"), col("ub").as("dst"))
          .unionByName(pairs.select(col("ub").as("src"), col("ua").as("dst")))
        val seeds = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .as("spend"))
          .filter(col("spend") >= 1200)
        Graph.personalizedPageRank(edges, seeds, "src", "dst", "user_id",
            iters = 8)
          .select(col("node").as("user_id"), col("is_seed"), col("rank_e12"))
      },
      Some {
        val rounds = (1 to 8).map { k =>
          val prev = if (k == 1) "r0" else s"r${k - 1}"
          s"""r$k AS (
             |  SELECT nd.node, nd.is_seed,
             |    CASE WHEN nd.is_seed THEN 150000000000 // ss.ns ELSE 0 END
             |      + COALESCE(s.c, CAST(0 AS BIGINT)) AS r
             |  FROM nd CROSS JOIN ss
             |  LEFT JOIN (
             |    SELECT e.dst AS node,
             |      CAST(SUM((p.r * 85) // (100 * d.deg)) AS BIGINT) AS c
             |    FROM $prev p JOIN e ON p.node = e.src
             |    JOIN deg d ON d.src = e.src
             |    GROUP BY 1) s ON s.node = nd.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ep AS MATERIALIZED (
           |  SELECT DISTINCT a.user_id AS ua, b.user_id AS ub
           |  FROM events a JOIN events b
           |    ON a.event_type = b.event_type AND a.user_id < b.user_id
           |   AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000),
           |e AS MATERIALIZED (
           |  SELECT ua AS src, ub AS dst FROM ep
           |  UNION ALL SELECT ub, ua FROM ep),
           |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
           |sd AS (
           |  SELECT user_id FROM events WHERE event_type = 'purchase'
           |  GROUP BY 1 HAVING SUM(CAST(value AS DECIMAL(18,4))) >= 1200),
           |nd AS MATERIALIZED (
           |  SELECT n.node, sd.user_id IS NOT NULL AS is_seed
           |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) n
           |  LEFT JOIN sd ON sd.user_id = n.node),
           |ss AS MATERIALIZED (SELECT COUNT(*) AS ns FROM nd WHERE is_seed),
           |r0 AS (
           |  SELECT nd.node, nd.is_seed,
           |    CASE WHEN nd.is_seed THEN 1000000000000 // ss.ns
           |         ELSE CAST(0 AS BIGINT) END AS r
           |  FROM nd CROSS JOIN ss),
           |$rounds
           |SELECT node AS user_id, is_seed, CAST(r AS BIGINT) AS rank_e12
           |FROM r8""".stripMargin
      })
  )
}
