package graft.pipeline

import graft.core.Tables
import graft.ops.Checkpoints.BarrierOps
import graft.queries.{Aggregates, FlagQs, Registry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's EP2-shaped light refresh (SURVEY.md §3 EP2 — the reference's
  * 3×/day `run_data_refresh.py` + `run_flag_sync.py`), declared as
  * [[Warehouse]] jobs and run by the same [[Dag]] as the daily build:
  *
  *   - `events_current`: refetch a trailing window of the fact table from
  *     the source, SPLICE it into the stored table (keep rows outside the
  *     window, insert the refetched slice — `pipeline_handler.py:366-426`),
  *     then dedup by business key, keep-first by (event time, id) — `:331`;
  *   - `customer_flags_current`: re-evaluate flags at the refresh clock and
  *     MERGE keep-newest per (user, flag) with the 14-day TTL + persistent
  *     carve-out (`customer_flags_engine.py:362-408,666-698`);
  *   - `documents_ingested` / `embeddings_ingested`: incremental ingest of
  *     today's documents and vectors, accepting only non-near-dups;
  *   - `compact_refreshed`: bin-packs the refreshed tables;
  *   - `incremental_order_stats`: advances customer_order_stats from the
  *     stored state and today's delta, proved equal to the full rebuild.
  *
  * Every step is a full-scan-free relational op at warehouse scale: the
  * splice is a partition-prunable range predicate, the dedup a keyed window,
  * the flag merge a keyed keep-newest. Runnable:
  * `runMain graft.pipeline.RefreshPipeline <sfDir> <warehouseDir>`
  * (expects DailyPipeline to have built the warehouse; builds it first in
  * the same run if absent, and exits 1 unless every job is ok).
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

  /** The refresh of the warehouse at `whDir`. */
  def jobs(sfDir: String, whDir: String): Seq[Job] = {
    val warehouse = new Warehouse(sfDir, whDir)
    import warehouse.job
    val a1 = Registry.named("a1_multi_agg")
    val k16 = Registry.named("k16_incremental_embed_dedup")
    val refreshed = Seq("events_current", "customer_flags_current", "documents_ingested")
    Seq(
      // refetch the trailing week of events from the source, splice it in,
      // then key dedup keep-first (idempotent re-ingest)
      job("events_current") { (s, t) =>
        val stored = Tables.events(s, sfDir) // stands in for the stored fact table
        val fresh = Tables.events(s, sfDir)  // refetch = same source, later pull
        t.write("events_current", dedupKeepFirst(
          splice(stored, fresh, "ts", "2024-01-24", "2024-01-31"), "event_id", "ts", "user_id"))
      },
      // flag sync: u1c's flags at the refresh clock merged over the daily
      // run's (2024-01-15), each run child-passed before the merge
      job("customer_flags_current") { (s, t) =>
        def run(asOf: Long) = FlagQs.childFlagsAt(s, sfDir, asOf).withColumn("added_us", lit(asOf))
        t.write("customer_flags_current",
          FlagQs.mergeFlags(run(FlagQs.asOf1Us), run(FlagQs.asOfUs), FlagQs.asOfUs))
      },
      // incremental document ingest — the fresh batch (doc_id % 5 = 0
      // stands in for today's pull) is matched against the indexed corpus
      // and only non-near-dups are accepted. heavy: a band join, like d8.
      job("documents_ingested", heavy = true) { (s, t) =>
        val docs = Tables.documents(s, sfDir)
        t.write("documents_ingested", acceptNonDup(
          docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", threshold = 0.5))
      },
      // incremental EMBEDDING ingest — the semantic twin: k16's accepted
      // vectors. heavy: k16's SRP band join, like d7.
      job("embeddings_ingested", heavy = true) { (s, t) =>
        t.write("embeddings_ingested", k16.run(s, sfDir).filter(col("accepted")))
      },
      // maintenance — repeated refreshes fragment the refreshed tables into
      // per-run small files; bin-pack them back to scan-efficient sizes
      // under the same atomic swap every table write commits through
      job("compact_refreshed", refreshed) { (_, t) =>
        println("[refresh] compact " + refreshed.map { d =>
          val st = t.compact(d)
          s"$d: ${st.filesBefore} -> ${st.filesAfter} files"
        }.mkString(", "))
      },
      // incremental AGGREGATE maintenance — customer_order_stats advanced
      // from yesterday's state + today's delta alone (no fact re-scan), then
      // proved equal to the full rebuild before the swap publishes it.
      // (o_orderkey % 7 == 0 stands in for today's new orders.)
      job("incremental_order_stats") { (s, t) =>
        val orders = Tables.orders(s, sfDir)
        // both frames feed three consumers (count, equality check, write) —
        // checkpoint once instead of re-aggregating orders per consumer
        val advanced = mergeOrderStats(
          Aggregates.orderStats(orders.filter(col("o_orderkey") % 7 =!= 0)),
          Aggregates.orderStats(orders.filter(col("o_orderkey") % 7 === 0))).barrier()
        val fullRebuild = a1.run(s, sfDir).barrier()
        val nFull = fullRebuild.count()
        require(advanced.count() == nFull &&
            advanced.unionByName(fullRebuild).distinct().count() == nFull,
          "incremental order-stats diverged from the full rebuild")
        t.write("customer_order_stats", advanced)
      })
  }

  /** The refresh's run: its [[jobs]], after the `daily` jobs when the
    * warehouse at `whDir` has no `combined_transactions` yet. Every refresh
    * job then depends on every daily job, so a daily job not ok skips the
    * whole refresh and nothing is written over a partial warehouse. */
  def plan(sfDir: String, whDir: String, daily: => Seq[Job]): Seq[Job] = {
    val own = jobs(sfDir, whDir)
    if (new java.io.File(s"$whDir/combined_transactions").exists()) own
    else {
      val first = daily
      first ++ own.map(j => j.copy(deps = j.deps ++ first.map(_.name)))
    }
  }

  def main(args: Array[String]): Unit =
    Warehouse.main(args)((sfDir, whDir) => plan(sfDir, whDir, DailyPipeline.jobs(sfDir, whDir)))
}
