package graft.queries

import graft.core.Tables
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** Scans, projections, filters, predicates (SURVEY.md §2.1–2.2).
  *
  * Every query here is written so the filter and the projection reach the
  * parquet scan (PushedFilters / ReadSchema in `.explain`) — the reference
  * always downloads and parses whole CSV objects
  * (`/root/reference/data_pipeline/upload_data.py:69-95`).
  */
object ScanFilter {

  /** A fresh path for one call's round-trip table, in a dir deleted at JVM
    * exit (not sooner: the query returns a lazy frame over it). Two
    * processes over one scale dir never write or recover the same path. */
  private def roundTripPath(name: String): String =
    s"${GraftBridge.tempDir(s"graft_$name")}/t"

  val qs: Seq[Q] = Seq(

    // S1: pruned scan — filter + column projection pushed into parquet.
    Q("s1_scan_prune",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin),
      bench = true),

    // S2+S1: CSV sink/source round-trip — write a projection as headered CSV
    // (partition-parallel, overwrite), read it back schema-on-read, aggregate.
    // Proves text-format value fidelity (Double.toString shortest round-trip
    // repr) against the parquet-based oracle.
    // Reference: `upload_data.py:37-46` (put CSV), `:69-95` (read CSV).
    Q("s2_csv_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types._
        val path = roundTripPath("s2_csv")
        Tables.write(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")), path, "csv")
        val schema = StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_mktsegment", StringType),
          StructField("c_acctbal", DoubleType)))
        Tables.readCsv(s, path, schema)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), Q.dsum(col("c_acctbal")).as("total_bal"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n, ${Q.dsumSql("c_acctbal")} AS total_bal
              |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    // S2b: JSON-lines sink/source round-trip (schema-on-read with explicit
    // StructType — no sampling-based inference at scale).
    Q("s2b_json_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types._
        val path = roundTripPath("s2b_json")
        Tables.write(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), path, "json")
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType)))
        s.read.schema(schema).json(path)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("revenue"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n, ${Q.dsumSql("o_totalprice")} AS revenue
              |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // S2c: columnar ORC sink/source round-trip — the second columnar format
    // (pushdown/pruning work the same as parquet).
    Q("s2c_orc_roundtrip",
      (s, d) => {
        val path = roundTripPath("s2c_orc")
        Tables.write(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")), path, "orc")
        s.read.orc(path)
          .filter(col("l_returnflag") =!= "R")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), Q.dsum(col("l_quantity")).as("total_qty"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n, ${Q.dsumSql("l_quantity")} AS total_qty
              |FROM lineitem WHERE l_returnflag <> 'R'
              |GROUP BY l_returnflag""".stripMargin)),

    // S6: z-order (Morton-curve) write layout round-trip — cluster the
    // corpus files by (source-category bucket × n_chars-quantile bucket)
    // so file/row-group min-max stats stay tight on BOTH columns and a
    // predicate on either prunes the scan (the Delta/Iceberg ZORDER BY
    // trick as plain repartitionByRange + bit arithmetic). Correctness
    // gate here; the measured file-stat pruning evidence is LayoutSpec.
    Q("s6_zorder_roundtrip",
      (s, d) => {
        import graft.ops.Layout
        val path = roundTripPath("s6_z")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        Tables.write(Layout.zorderBy(docs,
          Layout.stringRangeBucket(docs, "source"),
          Layout.quantileBucket(docs, "n_chars"), numFiles = 8), path)
        s.read.parquet(path)
          .filter(col("n_chars") >= 200 && col("n_chars") <= 400)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
      },
      Some("""SELECT source, COUNT(*) AS n,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM documents WHERE n_chars BETWEEN 200 AND 400
             |GROUP BY source""".stripMargin)),

    // S3: dated snapshot sink partitioned by month + partition-pruned read —
    // the snapshot copy (`pipeline_handler.py:343-354`) done as hive-style
    // partitions, so the read back scans ONE month's directory
    // (PartitionFilters in the plan), not the whole table.
    Q("s3_snapshot_prune",
      (s, d) => {
        val path = roundTripPath("s3_part")
        // repartition by the partition column first: one file per month dir
        // instead of (shuffle partitions × months) tiny files — the
        // anti-small-files discipline that matters at warehouse scale.
        Tables.write(Tables.orders(s, d)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
          .repartition(col("o_month")), path, partitionCols = Seq("o_month"))
        s.read.parquet(path)
          .filter(col("o_month") === "1996-06")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("revenue"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n, ${Q.dsumSql("o_totalprice")} AS revenue
              |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1996-06'
              |GROUP BY o_orderstatus""".stripMargin)),

    // P2: date-range filter + counts per enum value.
    // Reference: `pipeline_handler.py:48-50` (start <= Date <= end).
    Q("p2_date_range",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate").between(lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("revenue")),
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |${Q.dsumSql("o_totalprice")} AS revenue
              |FROM orders
              |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
              |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)),

    // P4: negated compound predicate with pandas `na=False` null semantics
    // (contains → null must behave as false). Reference: `pipeline_handler.py:56-59`.
    Q("p4_nullsafe_predicate",
      (s, d) => Tables.customer(s, d)
        .filter(!coalesce(col("c_mktsegment").contains("BUILD"), lit(false)) ||
          col("c_acctbal") >= 9000)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Q.dsum(col("c_acctbal")).as("balance")),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n, ${Q.dsumSql("c_acctbal")} AS balance
              |FROM customer
              |WHERE (NOT COALESCE(c_mktsegment LIKE '%BUILD%', FALSE)) OR c_acctbal >= 9000
              |GROUP BY c_mktsegment""".stripMargin)),

    // P5: case-insensitive multi-keyword regex predicate.
    // Reference: `build_conversion_rate_analysis.py:114-117`.
    Q("p5_regex_keyword",
      (s, d) => Tables.documents(s, d)
        .filter(lower(col("text")).rlike("spark|stream"))
        .select(col("doc_id"), col("source"), col("n_chars")),
      Some("""SELECT doc_id, source, n_chars FROM documents
             |WHERE regexp_matches(lower(text), 'spark|stream')""".stripMargin)),

    // U4: suspicious-transaction heuristics — price-book tolerance match
    // (first-match when-ladder over the book, the reference's loop) plus a
    // keyword hint predicate; pure column expressions, no UDF.
    // Reference: `flag_suspicious_transactions.py:34-143`.
    Q("u4_suspicious_txns",
      (s, d) => {
        val book = Seq(50000.0, 150000.0, 250000.0, 350000.0, 450000.0)
        val tol = 2000.0
        val matched = book.foldLeft(lit(null).cast("double")) { (acc, p) =>
          coalesce(acc, when(abs(col("o_totalprice") - p) <= tol, lit(p)))
        }
        Tables.orders(s, d)
          .withColumn("matched_price", matched)
          .filter(col("matched_price").isNotNull &&
            upper(col("o_orderpriority")).rlike("URGENT|HIGH"))
          .select(col("o_orderkey"), col("o_totalprice"), col("matched_price"),
            col("o_orderpriority"))
      },
      Some {
        val cases = Seq(50000.0, 150000.0, 250000.0, 350000.0, 450000.0)
          .map(p => s"WHEN abs(o_totalprice - $p) <= 2000.0 THEN $p")
          .mkString(" ")
        s"""SELECT o_orderkey, o_totalprice, matched_price, o_orderpriority FROM (
           |  SELECT *, CASE $cases END AS matched_price FROM orders)
           |WHERE matched_price IS NOT NULL
           |  AND regexp_matches(upper(o_orderpriority), 'URGENT|HIGH')""".stripMargin
      }),

    // P7: conditional (masked) column assignment via when/otherwise ladder.
    // Reference: `stripe_and_square_helpers.py:127-183` (df.loc[mask] = v).
    Q("p7_conditional_assign",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("discount_band",
          when(col("l_discount") >= 0.08, "high")
            .when(col("l_discount") >= 0.04, "mid").otherwise("low"))
        .withColumn("tax_adj",
          when(col("l_returnflag") === "R", lit(0.0)).otherwise(col("l_tax")))
        .groupBy(col("discount_band"))
        .agg(count(lit(1)).as("n"), Q.dsum(col("tax_adj") * col("l_extendedprice")).as("tax_amt")),
      Some(s"""SELECT CASE WHEN l_discount >= 0.08 THEN 'high'
              |            WHEN l_discount >= 0.04 THEN 'mid' ELSE 'low' END AS discount_band,
              |COUNT(*) AS n,
              |${Q.dsumSql("(CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_tax END) * l_extendedprice")} AS tax_amt
              |FROM lineitem GROUP BY 1""".stripMargin))
  )
}
