package graft

import graft.core.Tables
import graft.plans.PairCombinations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CSV round-trip preserves values under an explicit schema") {
    val tmp = TestDirs("graft_csv").toString
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus")
    Tables.write(src, s"$tmp/orders_csv", "csv")
    val back = Tables.readCsv(spark, s"$tmp/orders_csv", src.schema)
    assert(back.count() == src.count())
    val diff = back.exceptAll(src).count() + src.exceptAll(back).count()
    assert(diff == 0, "CSV round-trip must be lossless under explicit schema")
  }

  test("snapshot sink writes the live table plus a dated copy") {
    val tmp = TestDirs("graft_snap").toString
    val src = Tables.nation(spark, "/root/testdata/sf0.001")
    Tables.writeSnapshot(src, s"$tmp/nation", "2026-08-12")
    assert(spark.read.parquet(s"$tmp/nation").count() == src.count())
    assert(spark.read.parquet(s"$tmp/nation_2026-08-12").count() == src.count())
  }

  test("asOf resolves the newest snapshot at or before the date, refuses older asks") {
    val tmp = TestDirs("graft_asof").toString
    val v1 = Seq((1L, "a")).toDF("k", "v")
    val v2 = Seq((1L, "b"), (2L, "c")).toDF("k", "v")
    Tables.writeSnapshot(v1, s"$tmp/t", "2026-01-01")
    Tables.writeSnapshot(v2, s"$tmp/t", "2026-03-01")
    assert(Tables.asOf(spark, s"$tmp/t", "2026-02-15").count() == 1) // sees v1
    assert(Tables.asOf(spark, s"$tmp/t", "2026-03-01").count() == 2) // inclusive
    assert(Tables.asOf(spark, s"$tmp/t", "2027-01-01").count() == 2) // newest
    intercept[IllegalArgumentException](Tables.asOf(spark, s"$tmp/t", "2025-12-31"))
    // a non-snapshot sibling whose 10-char suffix is not a date must never
    // be selected, even though it sorts above every real date
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/t_aaaaaaaaaa")))
    assert(Tables.asOf(spark, s"$tmp/t", "2026-02-15").count() == 1)
  }

  test("atomic write routes through the swap: marker stamped, crash-consistent") {
    val tmp = TestDirs("graft_atomic").toString
    val dir = s"$tmp/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Tables.write(v1, dir)
    // first atomic write commits data AND the table marker
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir + "._GRAFT_TABLE")))
    assert(spark.read.parquet(dir).count() == 50)
    // overwrite through the same protocol; no tmp/old residue remains
    val v2 = (1 to 20).map(i => (i.toLong, s"w$i")).toDF("k", "v")
    Tables.write(v2, dir)
    assert(spark.read.parquet(dir).count() == 20)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "._GRAFT_TMP")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "._GRAFT_OLD")))
    // crash after tmp write but before swap: recover restores the NEW data
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "._GRAFT_TMP")))
    Tables.write(v1, dir) // write() runs recover() first
    assert(spark.read.parquet(dir).count() == 50)
  }

  test("compact bin-packs small files, preserves content, no-ops when already compact") {
    val tmp = TestDirs("graft_compact").toString
    val dir = s"$tmp/t"
    val src = (1 to 1000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    src.repartition(20).write.parquet(dir) // the small-file ingest shape
    // materialize the pre-compaction content: a DataFrame would pin the OLD
    // file listing and break after the swap (dir tables have writer-crash
    // atomicity, not reader snapshot isolation)
    val before = spark.read.parquet(dir).collect().toSet
    val stats = Tables.compact(spark, dir, targetBytes = 1L << 20)
    assert(stats.filesBefore == 20 && stats.filesAfter == 1, stats.toString)
    assert(spark.read.parquet(dir).collect().toSet == before)
    // already compact: second call must not rewrite
    val again = Tables.compact(spark, dir, targetBytes = 1L << 20)
    assert(again.filesBefore == 1 && again.filesAfter == 1)
  }

  test("TableSwap.recover finishes an interrupted swap from the complete tmp copy") {
    val tmp = TestDirs("graft_swap").toString
    val dir = s"$tmp/t"
    val src = (1 to 100).map(i => (i.toLong, i * 2L)).toDF("k", "v")
    src.repartition(4).write.parquet(dir)
    // a real rewrite (4 files -> 1) establishes the commit marker
    assert(Tables.compact(spark, dir, targetBytes = 1L << 20).filesAfter == 1)
    // simulate a crash between "tmp fully written" and "swap completed":
    // the data dir is gone, marker present, tmp holds the complete table
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "._GRAFT_TMP")))
    graft.core.TableSwap.recover(spark, dir)
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(src).count() + src.exceptAll(back).count() == 0)
    // marker present, no tmp, but the set-aside previous table survives
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "._GRAFT_OLD")))
    graft.core.TableSwap.recover(spark, dir)
    val restored = spark.read.parquet(dir)
    assert(restored.exceptAll(src).count() + src.exceptAll(restored).count() == 0)
    // marker present but NOTHING survives -> must refuse, not reinitialize
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    intercept[RuntimeException](graft.core.TableSwap.recover(spark, dir))
  }

  test("date-partitioned fact: clock predicate prunes partitions at plan time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = TestDirs("graft_part").toString
    val dir = s"$tmp/events_fact"
    val src = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
    Tables.write(src, dir, partitionCols = Seq("event_date"))
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f }.get
    val full = spark.read.parquet(dir)
    full.collect() // filter-free plan: no exchange, so no AQE wrapper
    // the trailing-week mart shape: a date predicate the planner can prune
    // on, plus the exact ts bound evaluated inside surviving partitions
    val pruned = spark.read.parquet(dir)
      .filter(col("event_date") >= lit("2024-01-24") &&
        col("event_date") < lit("2024-01-31"))
      .filter(unix_micros(col("ts")) < 1706659200000000L)
    val got = pruned.collect().length // executes THIS plan → metrics populate
    // correctness: identical rows to the same filter over the raw table
    assert(got == src.filter(col("event_date") >= lit("2024-01-24") &&
      col("event_date") < lit("2024-01-31")).count())
    // the scan carries PartitionFilters on event_date and opened only the
    // 7 surviving date directories (30 exist) — pruning is at the listing,
    // not a post-scan row filter
    val ps = scanOf(pruned)
    assert(ps.metadata("PartitionFilters").contains("event_date"),
      ps.metadata("PartitionFilters"))
    val prunedFiles = ps.metrics("numFiles").value
    val fullFiles = scanOf(full).metrics("numFiles").value
    assert(prunedFiles < fullFiles,
      s"pruned scan opened $prunedFiles of $fullFiles files")
    assert(prunedFiles * 3 <= fullFiles, // 7 of 30 date dirs survive
      s"pruned scan opened $prunedFiles of $fullFiles files")
  }

  test("clock-filtered marts read the partitioned fact with PartitionFilters") {
    // the leads/new-members mart shape from DailyPipeline: their event_date
    // predicates must reach the scan as partition filters, not row filters
    val tmp = TestDirs("graft_mart").toString
    val dir = s"$tmp/events_fact"
    Tables.write(
      Tables.events(spark, "/root/testdata/sf0.001")
        .withColumn("event_date", to_date(col("ts"))),
      dir, partitionCols = Seq("event_date"))
    val asOfUs = 1706659200000000L
    val us = unix_micros(col("ts"))
    val mart = spark.read.parquet(dir)
      .filter(col("event_date") < lit("2024-01-31")).filter(us < asOfUs)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // the agg plan is AQE-wrapped — read the formatted explain instead of
    // walking the adaptive plan's unexecuted leaves
    val plan = mart.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters")(1).contains("event_date"), plan)
  }

  test("pair_combinations generator equals the self-join formulation") {
    val df = Seq((1L, Seq(3L, 1L, 2L)), (2L, Seq(7L)), (3L, Seq.empty[Long]))
      .toDF("k", "xs").withColumn("xs", array_sort(col("xs")))
    val got = PairCombinations.pairsOf(spark, df, "xs", Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (1L, 1L, 3L), (1L, 2L, 3L)))
  }

  test("pair_combinations is callable from SQL") {
    PairCombinations.register(spark)
    val n = spark.sql("SELECT pair_combinations(array(1, 2, 3, 4)) AS (a, b)").count()
    assert(n == 6)
  }
}
