package graft.queries

import graft.core.Tables
import graft.ops.Identity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Identity resolution as a declared query: fuzzy-matched customer↔supplier
  * records clustered into components; canonical id = component minimum
  * (deterministic first-seen-wins replacement, SURVEY.md §7.4). Oracle:
  * DuckDB recursive transitive closure over the same edge set. */
object IdentityQs {

  /** Supplier node-id offset (2^40): keeps the supplier id space disjoint
    * from customer keys at ANY scale factor — a 100k offset collides once
    * customers exceed 100k rows (sf >= 1), silently fusing unrelated
    * components in a way the oracle (sharing the offset) cannot catch. */
  private val SupplierIdBase = 1L << 40

  /** FastSS deletion-neighborhood key: two strings within lev <= 1 ALWAYS
    * share a member of their deletion-1 neighborhoods (substitution: both
    * delete the differing position; insertion: the longer's deletion IS the
    * shorter; equal: the string itself, the i = len case), so a join keyed
    * on (block, variant) still covers every qualifying pair and the exact
    * lev filter decides — output bit-identical to the plain block join, the
    * oracle keeps the plain spelling (a cross-algorithm completeness check,
    * the gr2 discipline). WITHOUT the variant key a block join is a
    * per-block cross — u2's was 15,000 × 1,000 per block at sf10 (1.5B lev
    * calls, measured killing the context at 100×), and u2b's 300 coarse
    * (suffix, domain) blocks measured 17.4× wall for 10× data before the
    * variant key landed there too (n²/300 candidates: 5M at sf1, 500M at
    * sf10). Pair up with distinct(): a pair can share several variants
    * (identical nums share all len+1). */
  private def delVars(numCol: String) = explode(expr(
    s"""transform(sequence(0, length($numCol)),
       |  i -> concat(substring($numCol, 1, i),
       |              substring($numCol, i + 2, 1000000)))""".stripMargin))

  // Shared edge definition: block on suffix-number % 100, link when the
  // 9-digit suffixes are within levenshtein 1. Suppliers offset to a disjoint
  // id space.
  private val edgeSqlCte =
    """edges_raw AS MATERIALIZED (
      |  SELECT c_custkey AS src, 1099511627776 + s_suppkey AS dst
      |  FROM customer JOIN supplier
      |    ON CAST(regexp_extract(c_name, '#([0-9]+)', 1) AS BIGINT) % 100
      |     = CAST(regexp_extract(s_name, '#([0-9]+)', 1) AS BIGINT) % 100
      |  WHERE levenshtein(regexp_extract(c_name, '#([0-9]+)', 1),
      |                    regexp_extract(s_name, '#([0-9]+)', 1)) <= 1),
      |edges AS (
      |  SELECT src, dst FROM edges_raw
      |  UNION
      |  SELECT dst, src FROM edges_raw)""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("u2_identity_components",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("id"),
            regexp_extract(col("c_name"), "#([0-9]+)", 1).as("num"))
        val sup = Tables.supplier(s, d)
          .select((col("s_suppkey") + SupplierIdBase).as("id"),
            regexp_extract(col("s_name"), "#([0-9]+)", 1).as("num"))
        val edges = c.select(col("id").as("src"), col("num").as("src_num"),
            (col("num").cast("long") % 100).as("blk"), delVars("num").as("dv"))
          .join(sup.select(col("id").as("dst"), col("num").as("dst_num"),
            (col("num").cast("long") % 100).as("blk"), delVars("num").as("dv")),
            Seq("blk", "dv"))
          .filter(levenshtein(col("src_num"), col("dst_num")) <= 1)
          .select(col("src"), col("dst")).distinct()
        val nodes = c.select(col("id")).unionByName(sup.select(col("id")))
        val comps = Identity.connectedComponents(nodes, edges)
        comps.withColumn("comp_size",
          count(lit(1)).over(Window.partitionBy(col("comp_id"))))
          .select(col("id").as("node_id"), col("comp_id"), col("comp_size"))
      },
      Some(s"""WITH RECURSIVE
              |$edgeSqlCte,
              |nodes AS (
              |  SELECT c_custkey AS id FROM customer
              |  UNION ALL SELECT 1099511627776 + s_suppkey FROM supplier),
              |reach(id, r) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
              |comps AS (SELECT id, MIN(r) AS comp_id FROM reach GROUP BY id)
              |SELECT id AS node_id, comp_id,
              |  COUNT(*) OVER (PARTITION BY comp_id) AS comp_size
              |FROM comps""".stripMargin),
      // promoted round 9: the warehouse's heaviest iterative job
      // (identity_map was the EP1 sf10 tail) belongs on the driver's clock
      bench = true),

    // U2b: the FUZZY identity pass — edges require the normalized email
    // domains to match after TLD-typo correction (gmail.con == gmail.com),
    // in addition to the near-identical local part; blocking on
    // (suffix % 100, fixed domain) keeps candidate pairs bounded. Reference:
    // typo map + domain-tolerant match `customer_matching.py:104-208,432-445`.
    // Deterministic tie-break: canonical id = component minimum, as in u2.
    Q("u2b_identity_fuzzy",
      (s, d) => {
        import graft.ops.Normalize
        def domain(key: org.apache.spark.sql.Column, typoSet: Int) = {
          val m = key % 10
          if (typoSet == 0)
            when(m <= 3, lit("gmail.com")).when(m === 4, lit("gmail.con"))
              .when(m <= 7, lit("climb.org")).when(m === 8, lit("climb.og"))
              .otherwise(lit("yahoo.net"))
          else
            when(m <= 3, lit("gmail.com")).when(m === 4, lit("gmail.cmo"))
              .when(m <= 7, lit("climb.ogr")).when(m === 8, lit("climb.org"))
              .otherwise(lit("yahoo.met"))
        }
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("id"),
            regexp_extract(col("c_name"), "#([0-9]+)", 1).as("num"),
            Normalize.fixDomainTypos(domain(col("c_custkey"), 0)).as("dom"))
        // supplier domains key off the TENS digit — edge pairs share the last
        // digit (lev<=1 within a %100 block can only differ in higher
        // digits), so a last-digit-keyed domain would never prune; the tens
        // digit makes the domain gate (and its typo correction) decide which
        // supplier×customer links survive
        val sup = Tables.supplier(s, d)
          .select((col("s_suppkey") + SupplierIdBase).as("id"),
            regexp_extract(col("s_name"), "#([0-9]+)", 1).as("num"),
            Normalize.fixDomainTypos(
              domain(floor(col("s_suppkey") / 10).cast("long"), 1)).as("dom"))
        // (blk, dom, deletion-variant) key — see delVars: without it the
        // 300 coarse (suffix, domain) blocks are a per-block cross
        val edges = c.select(col("id").as("src"), col("num").as("src_num"),
            (col("num").cast("long") % 100).as("blk"), col("dom"),
            delVars("num").as("dv"))
          .join(sup.select(col("id").as("dst"), col("num").as("dst_num"),
            (col("num").cast("long") % 100).as("blk"), col("dom"),
            delVars("num").as("dv")), Seq("blk", "dom", "dv"))
          .filter(levenshtein(col("src_num"), col("dst_num")) <= 1)
          .select(col("src"), col("dst")).distinct()
        val nodes = c.select(col("id")).unionByName(sup.select(col("id")))
        Identity.connectedComponents(nodes, edges)
          .withColumn("comp_size",
            count(lit(1)).over(Window.partitionBy(col("comp_id"))))
          .select(col("id").as("node_id"), col("comp_id"), col("comp_size"))
      },
      Some {
        import graft.ops.Normalize
        def domSql(key: String, typoSet: Int) =
          if (typoSet == 0)
            s"""CASE WHEN $key % 10 <= 3 THEN 'gmail.com'
               | WHEN $key % 10 = 4 THEN 'gmail.con'
               | WHEN $key % 10 <= 7 THEN 'climb.org'
               | WHEN $key % 10 = 8 THEN 'climb.og'
               | ELSE 'yahoo.net' END""".stripMargin.replaceAll("\n", " ")
          else
            s"""CASE WHEN $key % 10 <= 3 THEN 'gmail.com'
               | WHEN $key % 10 = 4 THEN 'gmail.cmo'
               | WHEN $key % 10 <= 7 THEN 'climb.ogr'
               | WHEN $key % 10 = 8 THEN 'climb.org'
               | ELSE 'yahoo.met' END""".stripMargin.replaceAll("\n", " ")
        s"""WITH RECURSIVE
           |c AS MATERIALIZED (
           |  SELECT c_custkey AS id, regexp_extract(c_name, '#([0-9]+)', 1) AS num,
           |    ${Normalize.fixDomainTyposSql(domSql("c_custkey", 0))} AS dom
           |  FROM customer),
           |s AS MATERIALIZED (
           |  SELECT 1099511627776 + s_suppkey AS id, regexp_extract(s_name, '#([0-9]+)', 1) AS num,
           |    ${Normalize.fixDomainTyposSql(domSql("(s_suppkey // 10)", 1))} AS dom
           |  FROM supplier),
           |edges_raw AS MATERIALIZED (
           |  SELECT c.id AS src, s.id AS dst
           |  FROM c JOIN s
           |    ON CAST(c.num AS BIGINT) % 100 = CAST(s.num AS BIGINT) % 100
           |   AND c.dom = s.dom
           |  WHERE levenshtein(c.num, s.num) <= 1),
           |edges AS (
           |  SELECT src, dst FROM edges_raw
           |  UNION
           |  SELECT dst, src FROM edges_raw),
           |nodes AS (
           |  SELECT id FROM c UNION ALL SELECT id FROM s),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
           |comps AS (SELECT id, MIN(r) AS comp_id FROM reach GROUP BY id)
           |SELECT id AS node_id, comp_id,
           |  COUNT(*) OVER (PARTITION BY comp_id) AS comp_size
           |FROM comps""".stripMargin
      }),

    // U2c: sorted-neighborhood blocking (SNM, Hernández & Stolfo '95) — the
    // SORT-ORDER blocking family next to u2b's derived-key equality blocks:
    // rank the contact emails under one global (key, id) order, pair
    // everything within 4 rank positions, verify with edit distance.
    // Near-identical keys no equality block shares (an off-by-one customer
    // number, a shared-email duplicate) sort adjacently and are caught;
    // candidates are O(n·w) by construction regardless of key skew. The
    // rank is the two-level order-preserving shard sum (no global sort
    // window) — Identity.sortedNeighborhoodPairs.
    Q("u2c_sorted_neighborhood",
      (s, d) => {
        val recs = Tables.customer(s, d)
          .select(col("c_custkey").cast("long").as("id"),
            CustomerMaster.synthEmail.as("email"))
        Identity.sortedNeighborhoodPairs(recs, "id", "email",
            window = 4, buckets = 64)
          .withColumn("lev", levenshtein(col("key_a"), col("key_b")).cast("long"))
          .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
            col("rank_a"), col("rank_b"), col("lev"),
            (col("lev") <= 1).as("is_match"))
      },
      Some(s"""WITH recs AS (
              |  SELECT CAST(c_custkey AS BIGINT) AS id,
              |    ${CustomerMaster.synthEmailSql} AS email
              |  FROM customer),
              |ranked AS MATERIALIZED (
              |  SELECT id, email,
              |    CAST(row_number() OVER (ORDER BY email, id) AS BIGINT) AS rnk
              |  FROM recs WHERE email IS NOT NULL)
              |SELECT a.id AS id_a, b.id AS id_b,
              |  a.email AS key_a, b.email AS key_b,
              |  a.rnk AS rank_a, b.rnk AS rank_b,
              |  CAST(levenshtein(a.email, b.email) AS BIGINT) AS lev,
              |  levenshtein(a.email, b.email) <= 1 AS is_match
              |FROM ranked a JOIN ranked b
              |  ON b.rnk > a.rnk AND b.rnk <= a.rnk + 4""".stripMargin)),

    // U2d: NAME-MATCH EMAIL RECOVERY (`match_shopify_to_capitan.py:225-280`)
    // — the reference's cross-system identity repair: orders whose customer
    // record carries NO email are matched by normalized person name
    // (.lower().strip() equality, `:235-244`) against the OTHER system's
    // directory, and the directory's email is recovered along with the
    // opt-in/waiver flags the subscribe step gates on (`:281-300`). In the
    // §1.2 identity model the "person name" is the 9-digit name suffix
    // (u2/u2b's key): the order side renders it with Shopify's case noise
    // (uppercased), the directory side is the supplier system (u2's second
    // record source, offset id space), with %11 modeling directory rows
    // missing email (the reference's pd.notna gate) — only those can
    // recover. First-match-wins (`iloc[0]`) is a DECLARED min-key election,
    // not an accident of file order.
    // Scale: the missing-email filter prunes 6/7 of customers BEFORE the
    // orders join (the only fact-sized join, keyed on the customer key);
    // the directory is dim-sized — its election and attribute join-back
    // stay on the supplier key, and the recovery join keys on the name
    // suffix. No driver-side state, no per-order loop (the reference
    // iterates orders in Python, `:240`).
    Q("u2d_email_recovery",
      (s, d) => {
        val noEmail = Tables.orders(s, d)
          .join(Tables.customer(s, d)
              .filter(CustomerMaster.synthEmail.isNull)
              .select(col("c_custkey"), upper(col("c_name")).as("shopify_name")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey").as("order_id"), col("shopify_name"),
            regexp_extract(lower(trim(col("shopify_name"))), "#([0-9]+)", 1)
              .as("num"))
        val sup = Tables.supplier(s, d)
          .withColumn("email",
            when(col("s_suppkey") % 11 =!= 5,
              concat(lit("s"), col("s_suppkey").cast("string"),
                lit("@supplier.net"))))
          .filter(col("email").isNotNull)
        val dir = sup
          .withColumn("num",
            regexp_extract(lower(trim(col("s_name"))), "#([0-9]+)", 1))
          .groupBy(col("num")).agg(min(col("s_suppkey")).as("skey"))
          .join(sup.select(col("s_suppkey").as("skey"), col("email"),
            (col("s_suppkey") % 3 === 0).as("has_opted_in"),
            (col("s_acctbal") > 0).as("has_active_waiver")), "skey")
        noEmail.join(dir, "num")
          .select(col("order_id"), col("shopify_name"),
            col("email").as("recovered_email"),
            (col("skey") + SupplierIdBase).as("capitan_customer_id"),
            col("has_opted_in"), col("has_active_waiver"))
      },
      Some(s"""WITH no_email AS (
              |  SELECT o.o_orderkey AS order_id, upper(c.c_name) AS shopify_name,
              |    regexp_extract(lower(trim(upper(c.c_name))), '#([0-9]+)', 1)
              |      AS num
              |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |  WHERE (${CustomerMaster.synthEmailSql}) IS NULL),
              |sup AS MATERIALIZED (
              |  SELECT s_suppkey, s_acctbal,
              |    regexp_extract(lower(trim(s_name)), '#([0-9]+)', 1) AS num,
              |    's' || CAST(s_suppkey AS VARCHAR) || '@supplier.net' AS email
              |  FROM supplier WHERE s_suppkey % 11 <> 5),
              |dir AS (
              |  SELECT m.num, m.skey, s2.email,
              |    s2.s_suppkey % 3 = 0 AS has_opted_in,
              |    s2.s_acctbal > 0 AS has_active_waiver
              |  FROM (SELECT num, MIN(s_suppkey) AS skey FROM sup GROUP BY 1) m
              |  JOIN sup s2 ON s2.s_suppkey = m.skey)
              |SELECT n.order_id, n.shopify_name, d.email AS recovered_email,
              |  1099511627776 + d.skey AS capitan_customer_id,
              |  d.has_opted_in, d.has_active_waiver
              |FROM no_email n JOIN dir d USING (num)""".stripMargin))
  )
}
