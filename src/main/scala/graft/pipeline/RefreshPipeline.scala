package graft.pipeline

import graft.core.Tables
import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's EP2-shaped light refresh (SURVEY.md §3 EP2 — the reference's
  * 3×/day `run_data_refresh.py` + `run_flag_sync.py`):
  *
  *   1. refetch a trailing window of the fact table from the source,
  *   2. SPLICE it into the stored table (keep rows outside the window, insert
  *      the refetched slice — `pipeline_handler.py:366-426`),
  *   3. dedup by business key, keep-first by (event time, id) — `:331`,
  *   4. re-evaluate flags at the refresh clock and MERGE keep-newest per
  *      (user, flag) with the 14-day TTL + persistent carve-out
  *      (`customer_flags_engine.py:362-408,666-698`).
  *
  * Every step is a full-scan-free relational op at warehouse scale: the
  * splice is a partition-prunable range predicate, the dedup a keyed window,
  * the flag merge a keyed keep-newest. Runnable:
  * `runMain graft.pipeline.RefreshPipeline <sfDir> <warehouseDir>`
  * (expects DailyPipeline to have built the warehouse; runs it if absent,
  * and exits 1 when that build or the refresh fails).
  */
object RefreshPipeline {

  /** Splice `fresh` over `stored` for the half-open event-time window
    * [lo, hi): stored rows outside the window + fresh rows inside it. */
  def splice(stored: DataFrame, fresh: DataFrame, tsCol: String,
      lo: String, hi: String): DataFrame = {
    val loTs = lit(lo).cast("timestamp")
    val hiTs = lit(hi).cast("timestamp")
    stored.filter(col(tsCol) < loTs || col(tsCol) >= hiTs)
      .unionByName(fresh.filter(col(tsCol) >= loTs && col(tsCol) < hiTs))
  }

  /** Keep-first dedup by key, "first" = minimum (orderCol, tieCol). */
  def dedupKeepFirst(df: DataFrame, key: String, orderCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(orderCol).asc, col(tieCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Merge a fresh flag run over stored flags: keep-newest per (user, type),
    * then expire non-persistent flags older than `ttlUs` at `asOfUs`. */
  def mergeFlags(stored: DataFrame, fresh: DataFrame, asOfUs: Long, ttlUs: Long,
      persistent: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("flag_type"))
      .orderBy(col("added_us").desc)
    stored.unionByName(fresh)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .filter(col("added_us") >= asOfUs - ttlUs || col("flag_type").isin(persistent: _*))
  }

  /** Incremental ingest accept-filter, three gates:
    *  1. exact-fingerprint anti-join vs the corpus — catches byte-identical
    *     dups of ANY length (the shingle path silently passes docs shorter
    *     than its k, so exactness cannot ride on the near-dup gate alone);
    *  2. intra-batch exact collapse (min id per fingerprint) — two identical
    *     docs arriving in the same refresh keep one representative;
    *  3. near-dup gate vs the indexed corpus (cross-side banded LSH
    *     candidates + exact Jaccard >= threshold —
    *     `Dedup.incrementalNearDup`, never corpus-wide re-shingling). */
  def acceptNonDup(delta: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    import graft.ops.TextAnalysis.fingerprint
    val corpusFps = corpus.select(fingerprint(col(textCol)).as("__fp")).distinct()
    val noExact = delta.join(corpusFps,
      fingerprint(col(textCol)) === col("__fp"), "left_anti")
    val batchKeeper = noExact.groupBy(fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol)).drop("__fp")
    val batchUnique = noExact.join(batchKeeper, Seq(idCol), "left_semi")
    val matches = graft.ops.Dedup
      .incrementalNearDup(batchUnique, corpus, idCol, textCol, 3, numHashes = 8, bandSize = 2)
      .filter(col("jaccard") >= threshold)
    batchUnique.join(matches.select(col("id_a").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Incremental maintenance of a per-key MERGEABLE aggregate: the new
    * state is merge(stored_state, aggregate(delta)) — the fact history is
    * never re-scanned. Exact because every column of a1's order-stats agg
    * is mergeable algebra: counts/sums add, min/max combine — the same
    * property the sketch lifecycles (a4d HLL, a18b quantile histogram)
    * exploit for distincts/quantiles. The money column merges through
    * DECIMAL(18,4) (4-dp values round-trip doubles exactly below 15
    * significant digits), so the merged state equals the full rebuild
    * BIT-FOR-BIT — asserted by the refresh run and `RefreshSpec`.
    *
    * Columns: (o_custkey, n_orders, first_order, last_order, lifetime_value)
    * — a1_multi_agg's shape, the customer_order_stats mart. */
  def mergeOrderStats(stored: DataFrame, deltaAgg: DataFrame): DataFrame =
    stored.unionByName(deltaAgg)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        min(col("first_order")).as("first_order"),
        max(col("last_order")).as("last_order"),
        sum(col("lifetime_value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("lifetime_value"))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val whDir = if (args.length > 1) args(1) else "/tmp/graft_warehouse"
    val spark = graft.core.Session(sfDir)
    val ok =
      try { refresh(spark, sfDir, whDir, DailyPipeline.jobs(sfDir, whDir)); true }
      catch { case e: Exception => println(s"[refresh] FAILED: ${e.getMessage}"); false }
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs the refresh over the warehouse at `whDir`, first building it with
    * the `daily` jobs when it has no `combined_transactions` yet. Throws
    * before writing anything when a daily job failed or was skipped. */
  def refresh(spark: SparkSession, sfDir: String, whDir: String, daily: => Seq[Job]): Unit = {
    val a1 = graft.queries.Registry.all.find(_.name == "a1_multi_agg").getOrElse(throw
      new NoSuchElementException("refresh step 7 rebuilds from query a1_multi_agg, which is not declared"))

    if (!new java.io.File(s"$whDir/combined_transactions").exists()) {
      val notOk = new Dag(daily).runParallel(spark).filter(_.status != "ok")
      if (notOk.nonEmpty) throw new IllegalStateException(
        s"the daily build of $whDir has ${notOk.size} job(s) not ok: " +
          notOk.map(r => s"${r.name} ${r.status}${r.error.map(" (" + _ + ")").getOrElse("")}")
            .mkString("; "))
    }

    // 1-2: refetch the trailing week of events from the source and splice.
    val stored = Tables.events(spark, sfDir) // stands in for the stored fact table
    val fresh = Tables.events(spark, sfDir)  // refetch = same source, later pull
    val spliced = splice(stored, fresh, "ts", "2024-01-24", "2024-01-31")

    // 3: key dedup keep-first (idempotent re-ingest).
    val deduped = dedupKeepFirst(spliced, "event_id", "ts", "user_id")
    Tables.write(deduped, s"$whDir/events_current")

    // 4: flag sync at the refresh clock, merged over the daily run's flags.
    val asOf1 = 1705276800000000L // daily run clock (2024-01-15)
    val asOf2 = 1706659200000000L // refresh clock  (2024-01-31)
    val ttl = 14L * 86400L * 1000000L
    // Each run applies the child/parent pass BEFORE merging, like the
    // reference's evaluate_all_customers tail (suppression happens at
    // evaluation time, so the synced flags are post-pass). The flags frame
    // is checkpointed: childPass consumes it in two branches.
    def flagsAt(asOf: Long): DataFrame = {
      import spark.implicits._
      val raw = Tables.events(spark, sfDir)
        .filter(unix_micros(col("ts")) < asOf)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
        .toDF("userId", "eventId", "eventType", "us", "value")
        .as[graft.flags.Ev]
        .groupByKey(_.userId)
        .flatMapGroups { (uid, it) => graft.flags.FlagRules.evaluateAll(uid, it.toSeq, asOf) }
        .toDF().barrier()
      val uni = Tables.events(spark, sfDir)
        .filter(unix_micros(col("ts")) < asOf)
        .select(col("user_id")).distinct().barrier() // familyMap reads it twice
      graft.flags.FlagPasses.childPass(raw, graft.flags.FlagPasses.familyMap(uni))
        .withColumn("added_us", lit(asOf))
    }
    val merged = mergeFlags(flagsAt(asOf1), flagsAt(asOf2), asOf2, ttl,
      persistent = graft.flags.FlagRules.persistentFlags)
    Tables.write(merged, s"$whDir/customer_flags_current")

    // 5: incremental document ingest — the fresh batch (doc_id % 5 = 0
    // stands in for today's pull) is matched against the indexed corpus and
    // only non-near-dups are accepted into the warehouse.
    val docs = Tables.documents(spark, sfDir)
    val accepted = acceptNonDup(
      docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", threshold = 0.5)
    Tables.write(accepted, s"$whDir/documents_ingested")

    // 5b: incremental EMBEDDING ingest — the semantic twin of step 5: new
    // vectors pay their own SRP signatures + a banded join vs the corpus
    // index, accepted only with no cosine near-dup (k16's operator).
    val emb = Tables.embeddings(spark, sfDir)
    val accEmb = graft.ops.SimilaritySearch.incrementalSemanticAccept(
      emb.filter(col("vec_id") % 5 === 0), emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", dim = 64, bands = 4, bits = 6, threshold = 0.4)
    Tables.write(accEmb.filter(col("accepted")), s"$whDir/embeddings_ingested")

    // 6: maintenance — repeated refreshes fragment the refreshed tables
    // into per-run small files; bin-pack them back to scan-efficient sizes
    // under the atomic swap. Tables.write commits every table through the
    // same swap compact() rewrites under, so no write to these marker-bearing
    // tables can crash into a partial dir that reads as a complete table.
    val compacted = Seq("events_current", "customer_flags_current", "documents_ingested")
      .map { t =>
        val st = Tables.compact(spark, s"$whDir/$t")
        s"$t:${st.filesBefore}->${st.filesAfter}"
      }.mkString(" ")

    // 7: incremental AGGREGATE maintenance — customer_order_stats advanced
    // from yesterday's state + today's delta alone (no fact re-scan), then
    // proved equal to the full rebuild before the atomic swap publishes it.
    // (o_orderkey % 7 == 0 stands in for today's new orders.)
    def orderStatsOver(pred: org.apache.spark.sql.Column): DataFrame = {
      val orders = Tables.orders(spark, sfDir).filter(pred)
      orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_orderdate")).cast("date").as("first_order"),
          max(col("o_orderdate")).cast("date").as("last_order"),
          graft.queries.Q.dsum(col("o_totalprice")).as("lifetime_value"))
    }
    val yesterdayState = orderStatsOver(col("o_orderkey") % 7 =!= 0)
    val deltaAgg = orderStatsOver(col("o_orderkey") % 7 === 0)
    // both frames feed three consumers (count, equality check, write) —
    // checkpoint once instead of re-aggregating orders per consumer
    val advanced = mergeOrderStats(yesterdayState, deltaAgg).barrier()
    val fullRebuild = a1.run(spark, sfDir).barrier()
    val nFull = fullRebuild.count()
    require(advanced.count() == nFull &&
        advanced.unionByName(fullRebuild).distinct().count() == nFull,
      "incremental order-stats diverged from the full rebuild")
    Tables.write(advanced, s"$whDir/customer_order_stats")

    val nEvents = spark.read.parquet(s"$whDir/events_current").count()
    val nFlags = spark.read.parquet(s"$whDir/customer_flags_current").count()
    val nDocs = spark.read.parquet(s"$whDir/documents_ingested").count()
    val nEmb = spark.read.parquet(s"$whDir/embeddings_ingested").count()
    println(s"[refresh] events_current=$nEvents customer_flags_current=$nFlags " +
      s"documents_ingested=$nDocs embeddings_ingested=$nEmb " +
      s"compact[$compacted] -> $whDir")
  }
}
