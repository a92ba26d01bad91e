package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Identity resolution (SURVEY.md §2.9 U2, §7.4 hard part #1).
  *
  * The reference resolves identity with an order-dependent fold: iterate
  * records, match each against a growing in-memory email/phone index, else
  * mint a UUID (`/root/reference/data_pipeline/customer_matching.py:211-481`).
  * That cannot distribute. Re-architected set-based: normalize identifiers →
  * build match EDGES (exact-key equality and/or blocked fuzzy similarity) →
  * connected components → the component's minimum id is the canonical id.
  * "First-seen-wins" becomes the deterministic "minimum id wins" tie-break
  * (§7.4: pin determinism, validate by scenario rather than bit-parity).
  *
  * Components are computed by iterative min-label propagation: each round
  * every node takes the min label among itself and its neighbors — O(diameter)
  * distributed rounds, each a shuffle-join, with a barrier
  * ([[Checkpoints.barrier]]) to keep the plan from growing. Identity graphs are near-bipartite clusters with tiny
  * diameter, so this converges in a handful of rounds at any scale.
  * For general topologies (where diameter can be O(n)) use
  * [[Graph.connectedComponentsStar]] — O(log n) rounds on any graph, same
  * min-id contract (gr2 proves agreement on the near-dup graph).
  */
object Identity extends org.apache.spark.internal.Logging {

  /** Connected components over undirected `edges` (src, dst) covering `nodes`
    * (id). Returns (id, comp_id) with comp_id = min node id in the component. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().barrier()

    var labels = nodes.select(col("id"), col("id").as("comp")).barrier()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = und.join(labels, und("src") === labels("id"))
        .groupBy(und("dst").as("nbr_id")).agg(min(col("comp")).as("nbr_comp"))
      // the convergence bit rides the update row itself (old and new label
      // are both present pre-projection), so the changed-count is a filter
      // over the fresh checkpoint — the former labels⋈updated re-join paid
      // a full shuffle per round for information the row already had
      val updatedW = labels.join(nbrMin, labels("id") === nbrMin("nbr_id"), "left")
        .select(labels("id"),
          least(labels("comp"), coalesce(col("nbr_comp"), labels("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), labels("comp")) < labels("comp")).as("__chg"))
        .barrier()
      val changed = updatedW.filter(col("__chg")).count()
      labels = updatedW.select(col("id"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    if (!converged) logWarning(
      s"connectedComponents did not converge within $maxIter iterations — " +
        "labels are an upper bound, not the fixpoint; raise maxIter")
    labels.withColumnRenamed("comp", "comp_id")
  }

  /** Sorted-neighborhood candidate pairs (SNM, Hernández & Stolfo '95) —
    * the SORT-ORDER blocking family next to J7/u2b's key-EQUALITY blocks:
    * rank every record under one global (key, id) order and emit every pair
    * within `window` rank positions. Near-identical keys that no derived
    * equality block shares (off-by-one ids, last-character typos) sort
    * adjacently and are caught; candidate volume is O(n·window) by
    * construction — the property equality blocking cannot promise on a
    * skewed key.
    *
    * The global rank is computed WITHOUT a global sort window: an
    * order-preserving shard from strided boundaries over a UNIFORM
    * (hash-ordered, deterministic) 100k-key sample of the distinct keys —
    * not the 100k smallest, which would dump every key above the sample
    * into one unbounded final shard once cardinality passes the cap —
    * in-shard row_number (frame ~n/`buckets` in expectation regardless of
    * key cardinality; size `buckets` so shards fit an executor at the
    * target scale), plus cumulative shard counts joined back from a
    * <= `buckets`-row frame. Equal keys share a shard, so two-level rank ==
    * global rank exactly (the irreducible caveat: one key with huge
    * multiplicity still lands in one shard — rank over equal keys cannot
    * split them). The window pairing is `window` exploded probe ranks
    * equi-joined back — never a rank-range nested loop.
    *
    * Returns (id_a, id_b, key_a, key_b, rank_a, rank_b), rank_b − rank_a in
    * [1, window]. Verification (edit distance, jaccard) is the caller's —
    * blocking and matching stay separable, as in the paper. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
      window: Int, buckets: Int = 256): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(df.schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"sortedNeighborhoodPairs blocks on a STRING key; '$keyCol' is " +
        s"${df.schema(keyCol).dataType.sql} — cast it (the sort order you " +
        "get is the string's)")
    val recs = df.select(col(idCol), col(keyCol)).filter(col(keyCol).isNotNull)
    // hash-ordered limit = deterministic uniform sample; the outer orderBy
    // re-sorts the 100k sample in SPARK's string order (UTF8 binary), so
    // boundary spacing matches the engine's own `<=`
    val distincts = recs.select(col(keyCol)).distinct()
      .orderBy(md5(col(keyCol)), col(keyCol)).limit(100000)
      .orderBy(col(keyCol))
      .collect().map(_.getString(0))
    val stride = math.max(1, distincts.length / buckets)
    val bounds = distincts.zipWithIndex
      .collect { case (v, i) if i % stride == 0 && i > 0 => v }
    val shard = if (bounds.isEmpty) lit(0)
      else size(filter(array(bounds.map(lit): _*), b => b <= col(keyCol)))
    val base = recs.withColumn("__shard", shard)
    val wIn = Window.partitionBy(col("__shard")).orderBy(col(keyCol), col(idCol))
    // cumulative counts over <= buckets+1 rows — one global window over a
    // provably tiny frame
    val wCum = Window.orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = base.groupBy(col("__shard")).agg(count(lit(1)).as("__c"))
      .withColumn("__base", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .select(col("__shard"), col("__base"))
    val ranked = base.withColumn("__rn", row_number().over(wIn))
      .join(bases, "__shard")
      .withColumn("rank", (col("__base") + col("__rn")).cast("long"))
      .select(col(idCol), col(keyCol), col("rank")).barrier()
    val a = ranked.toDF("id_a", "key_a", "rank_a")
    val b = ranked.toDF("id_b", "key_b", "rank_b")
    a.withColumn("rank_b",
        explode(array((1 to window).map(j => col("rank_a") + j): _*)))
      .join(b, "rank_b")
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        col("rank_a"), col("rank_b"))
  }
}
