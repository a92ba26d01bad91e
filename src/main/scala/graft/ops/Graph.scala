package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-iteration graph algorithms over (src, dst) edge frames.
  *
  * Companion to [[Identity.connectedComponents]] (min-label propagation):
  * same execution discipline — each round is one shuffle join + one
  * map-side-combinable aggregation, with a barrier ([[Checkpoints.barrier]])
  * per round so the plan stays round-sized instead of growing a K-deep
  * lineage.
  */
object Graph {

  /** PageRank with damping 0.85 over a directed edge list, in EXACT integer
    * fixed-point arithmetic: ranks are BIGINT units of 1e-12 ("rank_e12", a
    * total mass of ~1e12 spread over the nodes), every division is integer
    * floor division, so the result is bit-identical across engines and
    * partitionings — a SQL oracle can replay the K rounds exactly, the same
    * portability contract as the repo's md5 hashing and decimal sums.
    * (Floor truncation loses < 1e-12 of mass per term — ranking-irrelevant,
    * and the price of an exactly-verifiable iterative operator.)
    *
    * Per round, for every node v:
    * r'(v) = (0.15e12 div N) + Σ_{u→v} (r(u) * 85) div (100 * deg(u)).
    * Nodes with no out-edges leak their damped mass (the standard
    * sink-loss simplification — symmetrized graphs have none).
    *
    * Scale shape: the node/edge frames are shuffled on node id each round
    * (K rounds = K join+agg stages, K fixed and small); contribution sums
    * combine map-side; rank state is node-sized, never edge-sized. The node
    * count enters as a 1-row broadcast (the a6/t15 pattern), not a driver
    * collect. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8): DataFrame =
    walk(edges, srcCol, dstCol, iters,
      nodes => nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n")))).barrier(),
      r0 = expr("CAST(1000000000000 AS BIGINT) div n"),
      restart = expr("CAST(150000000000 AS BIGINT) div n"))
      .select(col("node"), col("r").as("rank_e12"))

  /** Personalized PageRank (random walk with restart): like [[pageRank]],
    * but ALL restart mass returns to a seed set instead of spreading
    * uniformly — the result scores every node by its graph proximity to the
    * seeds (seed-set expansion: lookalike audiences from known customers,
    * quality-region expansion from curated documents). Same exact integer
    * fixed-point contract as pageRank (an unrolled-rounds oracle replays it).
    *
    * Per round, for every node v (S = seed set):
    * r'(v) = (v ∈ S ? 0.15e12 div |S| : 0) + Σ_{u→v} (r(u)·85) div (100·deg(u)),
    * r0(v) = v ∈ S ? 1e12 div |S| : 0. Sink nodes leak their damped mass
    * (same simplification as pageRank; symmetrized graphs have none).
    * pageRank is the case where every node is a seed; both share one round
    * loop, so the scale shape is pageRank's. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String, dstCol: String, seedCol: String,
      iters: Int = 8): DataFrame = {
    val sd = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    walk(edges, srcCol, dstCol, iters, { nodes =>
        // seeds restricted to graph nodes: a seed outside the edge set has no
        // edges to push mass through and would silently dilute |S|
        val seeded = nodes.join(sd.withColumn("__s", lit(1)), Seq("node"), "left")
          .select(col("node"), col("__s").isNotNull.as("is_seed"))
        val ns = seeded.filter(col("is_seed")).agg(count(lit(1)).as("ns"))
        val base = seeded.crossJoin(broadcast(ns)).barrier()
        require(base.filter(col("is_seed")).head(1).nonEmpty,
          "personalizedPageRank: no seed intersects the graph's node set")
        base
      },
      r0 = when(col("is_seed"), expr("CAST(1000000000000 AS BIGINT) div ns"))
        .otherwise(lit(0L)),
      restart = when(col("is_seed"), expr("CAST(150000000000 AS BIGINT) div ns"))
        .otherwise(lit(0L)))
      .select(col("node"), col("is_seed"), col("r").as("rank_e12"))
  }

  /** The rounds of both PageRanks: `r0` and `restart` are columns of the
    * node frame `base` builds; returns its columns plus the rank `r`. */
  private def walk(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, base: DataFrame => DataFrame, r0: Column,
      restart: Column): DataFrame = {
    val e = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .barrier()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ewd = e.join(deg, "src").barrier() // (src, dst, deg)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val b = base(nodes)
    // ranks0: a Project over the base checkpoint with ONE consumer, no barrier
    var ranks = b.select(b.columns.map(col) :+ r0.as("r"): _*)
    for (i <- 1 to iters) {
      val contrib = ewd
        .join(ranks.select(col("node"), col("r")), ewd("src") === col("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(expr("(r * 85) div (100 * deg)")).as("c"))
      ranks = b.join(contrib, b("node") === contrib("cnode"), "left")
        .select(b.columns.map(b(_)) :+
          (restart + coalesce(col("c"), lit(0L))).as("r"): _*)
      // checkpoint every 4th round: a four-round plan is still bounded, and
      // a barrier per round was a fixed scheduler cost that dominated
      // wall-clock (integer-exact at any placement)
      if (i % 4 == 0 || i == iters) ranks = ranks.barrier()
    }
    ranks
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14) — the general-graph scale path next to
    * [[Identity.connectedComponents]]'s min-label propagation:
    *
    *  - propagation runs O(graph diameter) rounds — ideal for the engine's
    *    near-dup/identity clusters (tiny diameter), degenerate on chain
    *    topologies (a 256-node path needs 255 rounds);
    *  - star contraction converges in O(log n) rounds on ANY topology
    *    (GraphSpec: the same 256-node path closes in <= 10), each round two
    *    groupBy-min aggregations + joins on node id, edge-set-sized state.
    *
    * Per round: LARGE-STAR connects every neighbor v > u to
    * m = min(N(u) ∪ {u}); SMALL-STAR re-centers each node's smaller
    * neighborhood on its minimum. The fixpoint is a forest of depth-1
    * stars rooted at component minima. Both phases keep the canonical
    * (min, max) edge orientation, so the invariant u < v holds everywhere
    * and self-loops never materialize.
    *
    * Returns (id, comp_id), comp_id = the component's minimum node id —
    * the same contract (and tie-break) as the propagation version. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    var e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct().barrier()
    var iter = 0
    // carry the edge count across rounds: the convergence check is then one
    // count + one anti-join emptiness probe per round, not three jobs (the
    // gr1 per-round fixed-scheduler-cost lesson)
    var eCount = e.count()
    var converged = eCount == 0L
    while (!converged && iter < maxIter) {
      // LARGE-STAR over both orientations: center c, neighbors n;
      // m = min(min(N(c)), c); emit (m, n) for n > c (m < c < n, so the
      // canonical orientation is free of self-loops by construction).
      val bidir = e.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e.select(col("v").as("c"), col("u").as("n")))
      val mins = bidir.groupBy(col("c"))
        .agg(least(min(col("n")), col("c")).as("m"))
      val ls = bidir.join(mins, "c").filter(col("n") > col("c"))
        .select(col("m").as("u"), col("n").as("v")).distinct()
      // SMALL-STAR: orient to the larger endpoint as center (all n < c);
      // m = min(N(c)); re-emit (m, n) for n != m plus the (m, c) spoke.
      val or2 = ls.select(col("v").as("c"), col("u").as("n"))
      val mins2 = or2.groupBy(col("c")).agg(min(col("n")).as("m"))
      val next = or2.join(mins2, "c").filter(col("n") =!= col("m"))
        .select(col("m").as("u"), col("n").as("v"))
        .unionByName(mins2.select(col("m").as("u"), col("c").as("v")))
        .distinct().barrier()
      val nextCount = next.count()
      converged = nextCount == eCount && next.except(e).head(1).isEmpty
      e = next
      eCount = nextCount
      iter += 1
    }
    if (iter == maxIter && !converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter rounds " +
          "(O(log n) expected — raise maxIter only for astronomically large n)")
    // at the fixpoint e is a star forest (one spoke per non-root node); the
    // min-agg is insurance that the (id, comp_id) contract holds row-exactly
    val lab = e.select(col("v").as("id"), col("u").as("comp"))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    nodes.select(col("id")).distinct()
      .join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp_id"))
  }

  /** COMMUNITY detection by synchronous label propagation (Raghavan et al.
    * '07), made fully deterministic: exactly `iters` synchronous rounds,
    * each node adopting its neighbors' most frequent label with ties broken
    * toward the SMALLEST label (init label = node id; a node with no
    * neighbors keeps its label). Determinism makes the operator
    * hash-verifiable — the oracle unrolls the same rounds — at the price of
    * classic LPA's run-to-run label noise (which comes from random order /
    * random tie-breaks, not from the algorithm's idea).
    *
    * Semantics vs [[connectedComponentsStar]]: components merge through ANY
    * bridge; communities CUT weak bridges — on a near-dup graph a chain
    * a~b~c where a and c are not similar is ONE component but (density
    * permitting) two communities, the over-merge guard a transitive-closure
    * clustering cannot express.
    *
    * Every node also votes for its OWN current label (a self-loop in the
    * vote graph): pure synchronous LPA OSCILLATES on bipartite structure —
    * on a 2-node component the labels swap forever and land wherever K's
    * parity says, i.e. singleton "communities" on a pair graph — and the
    * self-vote is the standard deterministic damper (it makes a node
    * switch only when some neighbor label strictly beats the incumbent
    * under the (count, min-label) order).
    *
    * Scale shape: each round one shuffle join (edges × labels on the node
    * key) + two map-side-combinable aggregations; label state is
    * node-sized. The vote pick is `min_by` over a struct(−count, label)
    * key — one aggregation, no per-node sort. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // The label universe is nodes ∪ edge endpoints (null ids dropped,
    // duplicate node rows collapsed): an endpoint absent from `nodes` would
    // otherwise receive votes but cast none in round 1 — silently skewing
    // the vote arithmetic AND leaking into the output. Every universe
    // member gets a self-loop and an initial label. One row per node out.
    val universe = nodes.select(col("id"))
      .unionByName(edges.select(col("src").as("id")))
      .unionByName(edges.select(col("dst").as("id")))
      .filter(col("id").isNotNull).distinct()
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .unionByName(universe.select(col("id").as("src"), col("id").as("dst")))
      .distinct().barrier()
    var labels = universe.select(col("id"), col("id").as("lbl")).barrier()
    for (i <- 1 to iters) {
      // The self-loop guarantees every node casts at least its own vote, so
      // the per-round argmin alone IS the complete next label set — no join
      // back to the previous labels needed (one shuffle join saved/round).
      // Tie-break key: min over (−cnt, lbl) = max count, then SMALLEST
      // label. Only cnt (a positive count) is negated, so the full signed
      // 64-bit id domain is supported — a string-encoded composite key
      // would silently misorder negative or >1e18 ids.
      val cnt = und.join(labels, und("src") === labels("id"))
        .groupBy(und("dst").as("nid"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      labels = cnt.groupBy(col("nid").as("id"))
        .agg(min_by(col("lbl"), struct(-col("cnt"), col("lbl"))).as("lbl"))
      if (i % 2 == 0 || i == iters) labels = labels.barrier()
    }
    labels.withColumnRenamed("lbl", "community_id")
  }

  /** K-CORE membership by synchronous peeling (Matula & Beck '83): every
    * round, ALL nodes of current degree < k are dropped simultaneously
    * (with their edges); after `rounds` fixed rounds the survivors are
    * reported. The true k-core is the peeling fixpoint; fixed rounds keep
    * the operator deterministic and exactly oracle-replayable, and the
    * output carries a `converged` verdict — final min degree >= k, i.e.
    * one more round would remove nobody — so the fixpoint CLAIM is checked
    * in-query rather than assumed (the gr2 pattern).
    *
    * Positioning vs the other graph ops: components (gr2) merge through
    * ANY bridge and communities (gr3) partition without measuring density;
    * the k-core keeps exactly the subgraph where EVERY member has >= k
    * surviving neighbors. On a near-dup graph that is the template-farm
    * signature: organic duplication forms shallow pairs and chains (peels
    * away), generated boilerplate families form dense near-cliques
    * (survive).
    *
    * Output: one row per universe node (nodes ∪ edge endpoints,
    * null-filtered, deduped): `id`, `in_core`, `core_degree` (degree in
    * the final subgraph, 0 outside it), `converged` (global, same value
    * every row — the volume-audit/verdict column).
    *
    * Scale shape: per round one map-side-combinable degree aggregation
    * over the current edge set plus a double semi-join against the
    * survivor set; edge state shrinks monotonically; a checkpoint per
    * round keeps the plan round-sized, and a fixpoint early-exit makes the
    * `rounds` budget a CAP, not a cost — a generous budget costs nothing
    * once peeling stabilizes. The convergence bit is a 1-row broadcast
    * (the gr2/a6 pattern), not a driver collect. */
  def kCore(nodes: DataFrame, edges: DataFrame, k: Int,
      rounds: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val universe = nodes.select(col("id"))
      .unionByName(edges.select(col("src").as("id")))
      .unionByName(edges.select(col("dst").as("id")))
      .filter(col("id").isNotNull).distinct()
    var e = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().barrier()
    // Early exit on fixpoint: peeling is monotone, so once a round removes
    // nothing every later round is a no-op — breaking early is BIT-IDENTICAL
    // to running the full budget (which is what the unrolled oracle does).
    // The per-round count() on the checkpointed, shrinking edge frame is a
    // fixpoint check, not data movement (the Identity/Graph discipline).
    var prev = e.count()
    var i = 0
    while (i < rounds && prev > 0) {
      // symmetric edge set: degree(v) = count of rows with src = v. Both
      // endpoints must survive, or the reverse rows would break symmetry.
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("kid"))
      val half = e.join(keep, e("src") === keep("kid"), "left_semi")
      e = half.join(keep, half("dst") === keep("kid"), "left_semi").barrier()
      val cur = e.count()
      i = if (cur == prev) rounds else i + 1
      prev = cur
    }
    val degF = e.groupBy(col("src").as("cid"))
      .agg(count(lit(1)).as("core_degree")).barrier()
    // empty final graph: MIN over zero rows is NULL -> trivially converged
    val conv = degF.agg(
      coalesce(min(col("core_degree")) >= k, lit(true)).as("converged"))
    universe.join(degF, universe("id") === degF("cid"), "left")
      .crossJoin(broadcast(conv))
      .select(col("id"), col("cid").isNotNull.as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        col("converged"))
  }

  /** Per-node triangle counts + local clustering coefficient by
    * DEGREE-ORDERED edge orientation (the MapReduce "node iterator++" of
    * Suri & Vassilvitskii '11): every undirected edge {a, b} is oriented
    * from the endpoint with the smaller (degree, id) rank to the larger, so
    * each triangle is enumerated exactly once — at its lowest-rank vertex —
    * and per-vertex OUT-degree is O(√m) on any graph. That bound is the
    * whole scale argument: the naive wedge join pays deg² at every hub (a
    * degree-10⁶ boilerplate template in a near-dup graph contributes 5·10¹¹
    * wedges), while under the orientation a maximal-degree hub contributes
    * ZERO wedges of its own — all its edges point into it. Wedges
    * (u→v, u→w, rank v < rank w) close into triangles via ONE left-semi
    * join back on the oriented edge list; counts then flow to all three
    * corners through an explode + hash agg.
    *
    * Exactness: orientation changes the enumeration ORDER, never the set —
    * an id-ordered triple join (the oracle spelling) counts the identical
    * triangles, making the hash gate a cross-algorithm check (the gr2
    * discipline).
    *
    * Returns one row per node in `nodes` ∪ edge endpoints:
    * (id, degree, n_triangles, clustering_milli) with clustering_milli =
    * 2000·T(v) div (deg(v)·(deg(v)−1)) — the local clustering coefficient
    * in exact integer milli units (0 when deg < 2). */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // canonical undirected edge set (a < b), self-loops dropped; the input
    // may carry either or both directions
    val can = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct().barrier()
    val universe = nodes.select(col("id"))
      .unionByName(can.select(col("a").as("id")))
      .unionByName(can.select(col("b").as("id")))
      .filter(col("id").isNotNull).distinct()
    val deg = can.select(col("a").as("id"))
      .unionByName(can.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // oriented edge (u → rv): native struct order on (deg, id) — the same
    // total-order trick gr3's keeper election uses, exact on negative ids
    val ranked = can
      .join(deg.toDF("a", "dega"), "a").join(deg.toDF("b", "degb"), "b")
      .select(
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          struct(col("degb").as("d"), col("b").as("v")))
          .otherwise(struct(col("dega").as("d"), col("a").as("v"))).as("rv"))
      .barrier() // three consumers: two wedge branches + closure
    // wedges at the LOW-rank corner only, ordered so each pair appears once
    val wedges = ranked.toDF("u", "r1")
      .join(ranked.toDF("u2", "r2"),
        col("u") === col("u2") && col("r1") < col("r2"))
      .select(col("u"), col("r1.v").as("v"), col("r2.v").as("w"))
    // closure: {v, w} exists iff the oriented edge v → w does (rank v < w)
    val tri = wedges.join(
        ranked.select(col("u").as("cu"), col("rv.v").as("cv")),
        col("v") === col("cu") && col("w") === col("cv"), "left_semi").barrier()
    val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    universe.join(deg, Seq("id"), "left").join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_milli",
        expr("CASE WHEN degree >= 2 THEN (2000 * n_triangles) div (degree * (degree - 1)) ELSE CAST(0 AS BIGINT) END"))
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg '03) over the
    * HUB-FILTERED subgraph: candidate pairs are the distance-2 node pairs of
    * the subgraph induced by nodes with degree <= `maxDegree`, scored by
    * common-neighbor count and exact integer neighborhood Jaccard
    * 1000·|Γa∩Γb| div (|Γa|+|Γb|−|Γa∩Γb|) — the "which near-dup edges did
    * the LSH bands MISS" readout next to gr6's closure measurement.
    *
    * The hub filter is the whole scale argument, and it is principled, not a
    * shortcut: exact common-neighbor counting must enumerate every wedge
    * (unlike triangles, where orientation lets each closed wedge stand for
    * three), so the wedge volume is Σ deg(v)² — quadratic at every hub. A
    * hub's common-neighbor signal is also WORTHLESS for link prediction (a
    * degree-10⁶ boilerplate template is a common neighbor of every pair of
    * docs that quote it), which is why the LP literature drops super-hubs
    * before scoring. Under the cap the wedge volume is bounded by
    * maxDegree · 2|E| — linear in edges at any corpus. Degrees, candidate
    * pairs, AND Jaccard denominators are all computed on the declared
    * subgraph, so the semantics are exact on it (the oracle replays the
    * identical subgraph).
    *
    * Returns (id_a, id_b, n_common, jaccard_milli) with id_a < id_b, only
    * non-adjacent pairs with n_common >= `minCommon`. */
  def linkPrediction(edges: DataFrame, maxDegree: Int = 64,
      minCommon: Int = 2): DataFrame = {
    val can = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct().barrier()
    val deg = can.select(col("a").as("id"))
      .unionByName(can.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val kept = deg.filter(col("deg") <= maxDegree).select(col("id"))
    // induced subgraph; checkpointed — three consumers (subgraph degrees,
    // adjacency, the non-adjacency anti-join), each would otherwise replay
    // the edge build + two semi-joins
    val sub = can.join(kept.toDF("a"), Seq("a"), "left_semi")
      .join(kept.toDF("b"), Seq("b"), "left_semi")
      .select(col("a"), col("b")).barrier()
    val deg2 = sub.select(col("a").as("id"))
      .unionByName(sub.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val adj = sub.select(col("a").as("v"), col("b").as("n"))
      .unionByName(sub.select(col("b").as("v"), col("a").as("n")))
    // every wedge once per center; pair ordered n1 < n2 so (a, b) is
    // canonical without a post-hoc least/greatest
    val cn = adj.toDF("v", "n1")
      .join(adj.toDF("v2", "n2"), col("v") === col("v2") && col("n1") < col("n2"))
      .groupBy(col("n1").as("id_a"), col("n2").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    cn.join(sub.select(col("a").as("id_a"), col("b").as("id_b")),
        Seq("id_a", "id_b"), "left_anti")
      .join(deg2.toDF("id_a", "dega"), "id_a")
      .join(deg2.toDF("id_b", "degb"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        expr("(1000 * n_common) div (dega + degb - n_common)").as("jaccard_milli"))
  }
}
