package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate/exact nearest-neighbor search over embedding columns
  * (BASELINE north star: similarity search at 100 TB).
  *
  * Dot products and squared norms are fixed ascending-index DOUBLE folds
  * over the float vectors (the native codegen `plans.FloatDot`). Two facts
  * make this engine-exact: float→double widening is value-preserving (no
  * rounding — unlike float→decimal casts, whose scaling arithmetic is
  * engine-specific and measurably diverges), and both engines fold in the
  * same index order, so every intermediate double is bit-identical. The
  * fold order is part of the operator contract; the DuckDB oracles spell
  * the same ordered sum. Brute force is the correctness baseline; the
  * partition-pruned variant restricts the scan to a coarse bucket (here the
  * `label` column stands in for an IVF/k-means or LSH cell assignment),
  * which is the structure that turns an O(N) scan into an O(N/cells) one on
  * a cluster — the bucket column becomes the shuffle / partition-pruning
  * key.
  */
object SimilaritySearch {

  /** Ascending-index double dot product of two float-array columns (native
    * codegen `plans.FloatDot`; call [[registerFns]] on the session first). */
  def dotExpr(a: String, b: String): String = s"float_dot($a, $b)"

  /** Double squared norm of a float-array column (same fold). */
  def normSqExpr(a: String): String = dotExpr(a, a)

  /** The same ascending double fold for arbitrary NUMERIC array types
    * (centroids are array<double>; FloatDot reads raw float slots and must
    * only ever see array<float>). Interpreted lambda — fine for the k-row
    * centroid table, never on the corpus hot path. */
  private def dotDblExpr(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       |  0D, (acc, v) -> acc + v)""".stripMargin

  private def registerFns(df: DataFrame): Unit =
    graft.plans.FloatDot.register(df.sparkSession)

  /** Cosine similarity column from exact components. */
  def cosine(dot: Column, normSqA: Column, normSqB: Column): Column =
    dot.cast("double") / (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double")))

  /** Brute-force top-k cosine neighbors of one query vector.
    * `emb` must have (idCol, vecCol); the query row (with its norm
    * precomputed once) is broadcast; each candidate's norm is computed once —
    * per-row work is exactly one dot product plus one norm. */
  def topKNeighbors(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, bucketCol: Option[String] = None,
      probeHamming: Int = 0): DataFrame = {
    registerFns(emb)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"),
        sqrt(expr(normSqExpr(vecCol)).cast("double")).as("q_norm"),
        (if (bucketCol.isDefined) col(bucketCol.get) else lit(0)).as("q_bucket"))
    val candidates = emb.filter(col(idCol) =!= queryId)
      .withColumn("c_norm", sqrt(expr(normSqExpr(vecCol)).cast("double")))
    val joined = bucketCol match {
      // multiprobe (Lv et al. '07): also search cells within `probeHamming`
      // sign-flips of the query's — each flipped bit is a hyperplane the
      // query sits close to, where its true neighbors land just across
      case Some(bc) if probeHamming > 0 =>
        candidates.join(broadcast(q),
          expr(s"bit_count($bc ^ q_bucket) <= $probeHamming"))
      case Some(bc) => candidates.join(broadcast(q), col(bc) === col("q_bucket"))
      case None     => candidates.crossJoin(broadcast(q))
    }
    val scored = joined.withColumn("cos_sim",
      round(expr(dotExpr(vecCol, "q_vec")).cast("double") / (col("c_norm") * col("q_norm")), 6))
    rankTopK(scored, idCol, k)
  }

  /** Exact EUCLIDEAN top-k brute force — the metric twin of [[topKNeighbors]]
    * for gates over L2-based paths (PQ-ADC minimizes squared euclidean, and
    * on unnormalized vectors the L2 and cosine orders genuinely differ, so a
    * cosine baseline would mis-measure ADC recall). Output:
    * (idCol, l2_dist, rank). */
  def topKNeighborsL2(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    registerFns(emb)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"),
        expr(normSqExpr(vecCol)).cast("double").as("q_nsq"))
    val scored = emb.filter(col(idCol) =!= queryId).crossJoin(broadcast(q))
      .withColumn("l2_dist", round(
        col("q_nsq") + expr(normSqExpr(vecCol)).cast("double")
          - lit(2.0) * expr(dotExpr(vecCol, "q_vec")).cast("double"), 6))
    scored.orderBy(col("l2_dist").asc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window
          .orderBy(col("l2_dist").asc, col(idCol))).cast("long"))
      .select(col(idCol), col("l2_dist"), col("rank"))
  }

  /** SQ8 scalar quantization (the faiss `ScalarQuantizer` QT_8bit pattern):
    * per-vector symmetric int8 codes `q_i = round(x_i / s)`, `s = max|x| /
    * 127`. Codes ship at 1 byte/dim instead of 4 — the index-memory story
    * between raw floats and PQ's m bytes/vector — here held as
    * `array<float>` of exact small integers so the same FloatDot codegen
    * fold scores them. The approximate cosine is scale-FREE
    * (`dot(qa,qb) / sqrt(dot(qa,qa) * dot(qb,qb))` — the per-vector scales
    * cancel), and every dot is exact integer arithmetic in double (|q| <=
    * 127, any practical dim stays far under 2^53), so unlike PQ's learned
    * codebooks the whole path is engine-exact and fully oracle-replicable.
    * Quantization itself is the one-time index build (interpreted max-abs
    * lambda per vector); the query path touches only codes. */
  def sq8Codes(emb: DataFrame, idCol: String, vecCol: String,
      keep: Seq[String] = Nil): DataFrame =
    emb.select(col(idCol) +: keep.map(col) :+ col(vecCol) :+
      (expr(s"aggregate($vecCol, 0D, (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))")
        / 127.0).as("sq_scale"): _*)
      .withColumn("sq_code", expr(
        s"""CASE WHEN sq_scale = 0D THEN transform($vecCol, x -> CAST(0 AS FLOAT))
           |ELSE transform($vecCol,
           |  x -> CAST(round(CAST(x AS DOUBLE) / sq_scale, 0) AS FLOAT)) END""".stripMargin))
      .select(col(idCol) +: keep.map(col) :+ col("sq_scale") :+ col("sq_code"): _*)

  /** Brute-force top-k by SQ8 approximate cosine — [[topKNeighbors]] run
    * entirely over quantized codes; with `bucketCol`, the IVF×SQ8
    * composition (the faiss workhorse): the coarse cell prunes the scan,
    * the codes price the scoring. Output: (idCol, sq8_cos, rank). */
  def topKNeighborsSq8(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, bucketCol: Option[String] = None): DataFrame = {
    registerFns(emb)
    val codes = sq8Codes(emb, idCol, vecCol, keep = bucketCol.toSeq)
    val q = codes.filter(col(idCol) === queryId)
      .select(col("sq_code").as("q_code") +:
        sqrt(expr(normSqExpr("sq_code")).cast("double")).as("q_qnorm") +:
        bucketCol.map(bc => col(bc).as("q_bucket")).toSeq: _*)
    val cands = codes.filter(col(idCol) =!= queryId)
    val joined = bucketCol match {
      case Some(bc) => cands.join(broadcast(q), col(bc) === col("q_bucket"))
      case None     => cands.crossJoin(broadcast(q))
    }
    val scored = joined
      .withColumn("c_qnorm", sqrt(expr(normSqExpr("sq_code")).cast("double")))
      .withColumn("cos_sim", round(
        expr(dotExpr("sq_code", "q_code")).cast("double") /
          (col("c_qnorm") * col("q_qnorm")), 6))
    rankTopK(scored, idCol, k).withColumnRenamed("cos_sim", "sq8_cos")
  }

  /** Deterministic top-k + 1-based rank. `orderBy.limit` is
    * TakeOrderedAndProject (per-partition k-row heaps, k-row merge) — the
    * global row_number window it replaces funneled the whole scored set into
    * one partition, the plan that dies at cluster scale. The rank window runs
    * after the limit, over exactly k rows — a global window over a
    * provably tiny frame. */
  private def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.orderBy(col("cos_sim").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window
          .orderBy(col("cos_sim").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("cos_sim"), col("rank"))

  /** All near-duplicate pairs with cosine >= threshold, blocked by a bucket
    * column (embedding-cosine near-dup dedup). */
  /** Per-cell embedding OUTLIERS by centroid cosine — the "weird vectors"
    * report a curation pipeline runs before trusting cluster-level
    * decisions (mislabeled docs, encoder failures, adversarial inputs sit
    * far from their cell's center). A vector is flagged when its cosine to
    * its own cell centroid falls at or below the cell's exact 5th
    * percentile (Percentiles.disc — the histogram rank-pick, so no per-cell
    * sort ever serializes a cell onto one task, and ties flag together).
    *
    * Engine-exactness trick: scoring runs in QUANTIZED INTEGER space.
    * Components floor to 1/1024 grid (floor of the exactly-widened double
    * — deterministic in both engines, unlike float→decimal casts); the
    * "centroid" is the per-cell component SUM vector (same cosine as the
    * mean — the 1/n scales cancel), so every dot/norm is an exact BIGINT
    * sum where ORDER CANNOT MATTER, and the only doubles are one final
    * int→double conversion (IEEE-identical), sqrt, divide, round(6).
    *
    * Scale: one (cell, pos) map-side-combinable agg builds the cells×dim
    * centroid table (broadcast); scoring is row-local fold work; the
    * percentile is the two-level prefix sum. No window over a raw cell.
    * Output: (idCol, cellCol, cos_centroid, p05, is_outlier). */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
      cellCol: String, pNum: Int = 1, pDen: Int = 20): DataFrame = {
    val (scored, _) = quantizedCentroidScores(emb, idCol, vecCol, cellCol)
    val p = Percentiles.disc(scored, Seq(cellCol), "cos_centroid",
        Seq(("p05", pNum, pDen)), band = v => floor(v * 50).cast("long"))
      .select(col(cellCol), col("p05"))
    scored.join(broadcast(p), Seq(cellCol))
      .select(col(idCol), col(cellCol), col("cos_centroid"), col("p05"))
      .withColumn("is_outlier", col("cos_centroid") <= col("p05"))
  }

  private def longDot(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** The shared integer-space scoring frame behind [[centroidOutliers]] and
    * [[clusterQuality]]: (scored = (idCol, cellCol, cos_centroid, …),
    * cent = (cellCol, __c BIGINT sum vector)). See [[centroidOutliers]]
    * for the exactness argument. */
  private def quantizedCentroidScores(emb: DataFrame, idCol: String,
      vecCol: String, cellCol: String): (DataFrame, DataFrame) = {
    val q = emb.select(col(idCol), col(cellCol), expr(
        s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
        .as("__qv"))
      .barrier() // feeds the centroid agg AND the scoring join
    val cent = q
      .select(col(cellCol), posexplode(col("__qv")).as(Seq("__pos", "__x")))
      .groupBy(col(cellCol), col("__pos")).agg(sum(col("__x")).as("__s"))
      .groupBy(col(cellCol))
      .agg(expr("transform(array_sort(collect_list(struct(__pos, __s))), s -> s.__s)")
        .as("__c"))
    val scored = q.join(broadcast(cent), Seq(cellCol))
      .withColumn("__dot", expr(longDot("__qv", "__c")))
      .withColumn("__nv", expr(longDot("__qv", "__qv")))
      .withColumn("__nc", expr(longDot("__c", "__c")))
      .withColumn("cos_centroid",
        when(col("__nv") === 0 || col("__nc") === 0, lit(0.0))
          .otherwise(round(col("__dot").cast("double") /
            (sqrt(col("__nv").cast("double")) * sqrt(col("__nc").cast("double"))), 6)))
    (scored, cent)
  }

  /** Per-cell cluster-quality report — the Davies–Bouldin-style read over
    * the same integer-exact centroid frame: cohesion (mean cosine of a
    * cell's vectors to their own centroid) vs separation (cosine of the
    * centroid to its NEAREST other centroid). `coherent` marks cells whose
    * members hug their center tighter than the closest rival center — the
    * go/no-go a pipeline checks before trusting cell-level decisions
    * (IVF probe budgets, cluster-quota sampling, semantic dedup).
    *
    * Scale: cohesion is one map-side-combinable agg over the scored frame;
    * separation is an L×L centroid self-pairing (L = cell count — the
    * k-row broadcast shape, nljByDesign), never touching the corpus.
    * Single-cell corpora emit NULL nearest/separation and stay coherent. */
  def clusterQuality(emb: DataFrame, idCol: String, vecCol: String,
      cellCol: String): DataFrame = {
    val (scored, cent) = quantizedCentroidScores(emb, idCol, vecCol, cellCol)
    val cohesion = scored.groupBy(col(cellCol))
      .agg(count(lit(1)).as("n"),
        sum(col("cos_centroid").cast(DecimalType(18, 6))).as("__s"))
      // exact integer HALF-UP mean in micro-units (the t15/t34 half-tie
      // fix): round(S6/n, 6) on the double quotient can land exactly on a
      // 1e-6 half-tie (S6 has 6 decimals), where the engines' rounding
      // algorithms disagree. Unlike the always-positive surprisal means,
      // cos_centroid sums can be NEGATIVE (anti-aligned members), and
      // integer div truncates toward zero — so half-away-from-zero (the
      // round() semantic) needs the sign branch on both engines.
      .select(col(cellCol), col("n"),
        (expr("""CASE WHEN __s < 0
            THEN -((2 * CAST(-__s * 1000000 AS BIGINT) + n) div (2 * n))
            ELSE (2 * CAST(__s * 1000000 AS BIGINT) + n) div (2 * n) END""")
          .cast("double") / 1000000.0).as("mean_cos"))
    val a = cent.select(col(cellCol).as("__la"), col("__c").as("__ca"))
    val b = cent.select(col(cellCol).as("__lb"), col("__c").as("__cb"))
    val pairs = a.join(broadcast(b), col("__la") =!= col("__lb"))
      .withColumn("__d", expr(longDot("__ca", "__cb")))
      .withColumn("__na", expr(longDot("__ca", "__ca")))
      .withColumn("__nb", expr(longDot("__cb", "__cb")))
      .withColumn("sep",
        when(col("__na") === 0 || col("__nb") === 0, lit(0.0))
          .otherwise(round(col("__d").cast("double") /
            (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6)))
    val w = Window.partitionBy(col("__la")).orderBy(col("sep").desc, col("__lb"))
    val nearest = pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__la").as(cellCol), col("__lb").as("nearest_cell"),
        col("sep").as("centroid_sep"))
    cohesion.join(nearest, Seq(cellCol), "left")
      .withColumn("coherent",
        col("centroid_sep").isNull || col("mean_cos") > col("centroid_sep"))
  }

  /** Coarse-quantizer centroids: the elementwise mean vector per bucket.
    * Output: (bucketCol, centroid ARRAY<double>). At cluster scale these are
    * the k-means cell centers; here the existing bucket column stands in for
    * the assignment and only the centers are computed. */
  def centroids(emb: DataFrame, vecCol: String, bucketCol: String): DataFrame =
    emb.select(col(bucketCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(bucketCol), col("pos"))
      .agg((sum(col("x").cast(DecimalType(28, 9))) / count(lit(1))).cast("double").as("mean_x"))
      .groupBy(col(bucketCol))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean_x))), s -> s.mean_x)")
        .as("centroid"))

  /** IVF-style search: rank buckets by centroid cosine against the query,
    * probe the top `nprobe` buckets, brute-force only inside them. Scan cost
    * drops from O(N) to O(N * nprobe / buckets); recall is governed by
    * nprobe, and the exact-decimal scoring inside the probed cells keeps
    * results deterministic. */
  /** The `nprobe` buckets an IVF search would scan for `queryId`: ranked
    * by centroid cosine, bucket id as the tie-break. One column,
    * `__probe_bucket` — shared by [[topKNeighborsIvf]] and by verdict
    * queries that must reason about the probed subset (k2b's
    * restricted-exactness contract). */
  def probedBuckets(emb: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, queryId: Long, nprobe: Int): DataFrame = {
    registerFns(emb)
    val cents = centroids(emb, vecCol, bucketCol)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"))
    cents.crossJoin(broadcast(q))
      .withColumn("c_score", cosine(expr(dotDblExpr("centroid", "q_vec")),
        expr(dotDblExpr("centroid", "centroid")), expr(normSqExpr("q_vec"))))
      .orderBy(col("c_score").desc, col(bucketCol))
      .limit(nprobe)
      .select(col(bucketCol).as("__probe_bucket"))
  }

  def topKNeighborsIvf(emb: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, queryId: Long, k: Int, nprobe: Int): DataFrame = {
    registerFns(emb)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"),
        sqrt(expr(normSqExpr(vecCol)).cast("double")).as("q_norm"))
    val probed = probedBuckets(emb, idCol, vecCol, bucketCol, queryId, nprobe)
    val candidates = emb.filter(col(idCol) =!= queryId)
      .join(broadcast(probed), col(bucketCol) === col("__probe_bucket"), "left_semi")
      .withColumn("c_norm", sqrt(expr(normSqExpr(vecCol)).cast("double")))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim",
        round(expr(dotExpr(vecCol, "q_vec")).cast("double") / (col("c_norm") * col("q_norm")), 6))
    rankTopK(candidates, idCol, k)
  }

  /** Deterministic k-means (Lloyd's) cell assignment — the learned coarse
    * quantizer for IVF when no natural bucket column exists.
    *
    * Determinism at any partitioning: seeds are the `k` lowest-id vectors;
    * centroid updates are exact-decimal elementwise means (order-independent
    * sums); assignment breaks distance ties on the lower cell id. Each
    * iteration is one crossJoin against the broadcast k-row centroid table +
    * one keep-best window + one mean aggregation — at cluster scale that is
    * a scan per iteration with only k×dim bytes of broadcast state, the
    * standard distributed Lloyd's step. Output: (idCol, cell).
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansModel(emb, idCol, vecCol, k, iters)._1

  /** [[kmeansAssign]] plus the FINAL centroids (cell, __c ARRAY<FLOAT>) —
    * the loop updates centroids from the final assignment before exiting,
    * so returning them saves consumers (PQ codebooks) a full recompute
    * pass over the corpus. */
  def kmeansModel(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.FloatDot.register(emb.sparkSession)
    val base = emb.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__nsq", expr(normSqExpr("__v")).cast("double"))
      .barrier() // reused every iteration; truncate lineage once
    // seeds: the k lowest-id vectors, cells numbered 0..k-1 in id order
    val seeds = base.orderBy(col(idCol)).limit(k)
      .withColumn("cell", row_number().over(Window.orderBy(col(idCol))) - 1)
      .select(col("cell"), col("__v").as("__c"), col("__nsq").as("__cnsq"))
    var cents = seeds
    var assign: DataFrame = null
    for (_ <- 0 until iters) {
      // squared euclidean = |v|^2 + |c|^2 - 2 v·c (FloatDot: both are float arrays)
      val scored = base.crossJoin(broadcast(cents))
        .withColumn("__dist",
          col("__nsq") + col("__cnsq") - lit(2.0) * expr("float_dot(__v, __c)"))
      val w = Window.partitionBy(col(idCol)).orderBy(col("__dist").asc, col("cell").asc)
      assign = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select(col(idCol), col("cell"))
      // exact-decimal elementwise means -> new float centroids
      cents = assign.join(base, idCol)
        .select(col("cell"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(28, 9))) / count(lit(1)))
          .cast("float").as("cx"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)").as("__c"))
        .withColumn("__cnsq", expr(normSqExpr("__c")).cast("double"))
        .barrier() // k rows; breaks the growing iteration lineage
    }
    (assign, cents.select(col("cell"), col("__c")))
  }

  /** Product quantization (Jégou et al. '11): the vector is split into `m`
    * contiguous sub-blocks and each block is quantized by its own
    * deterministic k-means codebook. Returns the codes (idCol,
    * code_0..code_{m-1}) — the compressed representation an ANN index
    * stores instead of raw vectors (dim×4 bytes → m bytes at k<=256), which
    * is what makes billion-vector indexes fit in memory — AND the per-block
    * codebooks (code, centroid, block) from the same k-means runs: the
    * codebook rides out of the final update step, so building the index
    * pays the corpus passes once. Codebook training is index-build-time
    * work, not query-time. */
  def pqModel(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    val sub = dim / m
    // ALL m blocks train in ONE blocked k-means (block = an extra grouping
    // key everywhere): one corpus scan instead of m, one checkpoint cadence
    // instead of m, and the code assembly is one m-column aggregation
    // instead of an m-way self-join on the id (r12 — the former per-block
    // loop serialized m×(iters+1) barrier jobs; per-block arithmetic is
    // unchanged and order-independent, so codes and codebooks are
    // bit-identical to the per-block runs).
    val blocked = emb.select(col(idCol), expr(
      (0 until m).map(b =>
          s"struct($b AS block, CAST(slice($vecCol, ${b * sub + 1}, $sub) AS ARRAY<FLOAT>) AS sv)")
        .mkString("explode(array(", ", ", "))")).as("e"))
      .select(col(idCol), col("e.block").as("block"), col("e.sv").as("__sv"))
    val (assign, cents) = kmeansModelBlocked(blocked, idCol, "__sv", k, iters)
    val codes = assign.groupBy(col(idCol))
      .agg(max(when(col("block") === 0, col("cell"))).as("code_0"),
        (1 until m).map(b =>
          max(when(col("block") === b, col("cell"))).as(s"code_$b")): _*)
    (codes, cents.select(col("cell").as("code"), col("__c").as("centroid"),
      col("block")).select(col("code"), col("centroid"), col("block")))
  }

  /** [[kmeansModel]] with `block` as an extra grouping key: every step —
    * seeds, assignment window, centroid means — partitions by (id, block) /
    * (block, cell), so each block's arithmetic is exactly the per-block
    * run's (decimal sums are order-independent), while the m runs share one
    * scan, one broadcastable centroid table and one checkpoint per
    * iteration. Input: (idCol, block, vecCol). */
  private def kmeansModelBlocked(blocked: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.FloatDot.register(blocked.sparkSession)
    val base = blocked.select(col(idCol), col("block"), col(vecCol).as("__v"))
      .withColumn("__nsq", expr(normSqExpr("__v")).cast("double"))
      .barrier() // reused every iteration; truncate lineage once
    // seeds: the k lowest-id vectors (the id set is block-independent), one
    // TakeOrdered on the single-block slice, joined back for every block
    val seedIds = base.filter(col("block") === 0)
      .orderBy(col(idCol)).limit(k)
      .withColumn("cell", row_number().over(
        Window.orderBy(col(idCol))) - 1)
      .select(col(idCol), col("cell"))
    var cents = base.join(broadcast(seedIds), idCol)
      .select(col("block"), col("cell"), col("__v").as("__c"),
        col("__nsq").as("__cnsq"))
    var assign: DataFrame = null
    for (_ <- 0 until iters) {
      val scored = base.join(broadcast(cents), Seq("block"))
        .withColumn("__dist",
          col("__nsq") + col("__cnsq") - lit(2.0) * expr("float_dot(__v, __c)"))
      val w = Window.partitionBy(col(idCol), col("block"))
        .orderBy(col("__dist").asc, col("cell").asc)
      assign = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select(col(idCol), col("block"), col("cell"))
      cents = assign.join(base, Seq(idCol, "block"))
        .select(col("block"), col("cell"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("block"), col("cell"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(28, 9))) / count(lit(1)))
          .cast("float").as("cx"))
        .groupBy(col("block"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)").as("__c"))
        .withColumn("__cnsq", expr(normSqExpr("__c")).cast("double"))
        .barrier() // m×k rows; breaks the growing iteration lineage
    }
    (assign, cents.select(col("block"), col("cell"), col("__c")))
  }

  /** PQ-ADC search (asymmetric distance computation): the query stays
    * full-precision; each candidate's distance is the SUM over blocks of
    * d²(query sub-vector, codebook centroid of the candidate's code) — one
    * m×k lookup table computed once per query, then a per-candidate table
    * join + sum. The scan touches only m-byte codes, never raw vectors:
    * the memory/IO shape that survives a billion-vector index. Approximate
    * by construction → rows-only gate; `IvfSpec` proves the ADC arithmetic
    * exactly and pins determinism. */
  def topKNeighborsPq(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryId: Long, k: Int, m: Int, kCodes: Int, iters: Int): DataFrame = {
    registerFns(emb)
    val sub = dim / m
    val (codesRaw, book) = pqModel(emb, idCol, vecCol, dim, m, kCodes, iters)
    val codes = codesRaw.barrier()
    // the query's m sub-vectors: ONE scan, melted by the same explode
    // pattern the codes use below (m filter-scans unioned would re-read
    // the source m times)
    val qSubs = emb.filter(col(idCol) === queryId)
      .select(expr(s"explode(array(${(0 until m).map(b =>
          s"struct($b AS block, CAST(slice($vecCol, ${b * sub + 1}, $sub) AS ARRAY<FLOAT>) AS q_sv)")
        .mkString(", ")}))").as("e"))
      .select(col("e.block").as("block"), col("e.q_sv").as("q_sv"))
    // ADC lookup table: m×kCodes squared euclidean distances
    val lut = book.join(broadcast(qSubs), Seq("block"))
      .withColumn("d2",
        expr(normSqExpr("q_sv")).cast("double") + expr(normSqExpr("centroid")).cast("double")
          - lit(2.0) * expr("float_dot(q_sv, centroid)"))
      .select(col("block"), col("code"), col("d2"))
    val melted = codes.filter(col(idCol) =!= queryId)
      .select(col(idCol), expr(
        s"explode(array(${(0 until m).map(b => s"struct($b AS block, code_$b AS code)").mkString(", ")}))").as("bc"))
      .select(col(idCol), col("bc.block").as("block"), col("bc.code").as("code"))
    // TakeOrderedAndProject (orderBy+limit) does the global top-k with k rows
    // of per-partition state; the rank window then runs over k rows only.
    // d2 addends are quantized to DECIMAL before the sum — decimal addition
    // is associative, so adc_dist is independent of partial-aggregation
    // order (the repo's order-independent-sum discipline; a raw double sum
    // can flip a 6th-decimal tie across partitionings).
    melted.join(broadcast(lut), Seq("block", "code"))
      .groupBy(col(idCol))
      .agg(round(sum(col("d2").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double"), 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("adc_dist").asc, col(idCol))).cast("long"))
      .select(col(idCol), col("adc_dist"), col("rank"))
  }

  /** Deterministic signed-random-projection hyperplanes, as dyadic NUMERATORS
    * k (component value k/1024, k in [-1024, 1024]). Dyadic rationals with a
    * 2^10 denominator are exactly representable in FLOAT and DOUBLE and print
    * as the exact SQL literal `(k/1024.0)` — so the Spark plan and the DuckDB
    * oracle are generated from this one definition and cannot drift. Fixed
    * 64-bit wrapping LCG (PCG multiplier), row-major: hyperplane j's
    * components are draws [j*dim, (j+1)*dim). */
  def srpNumerators(nBits: Int, dim: Int): IndexedSeq[IndexedSeq[Int]] = {
    var s = 0x9E3779B97F4A7C15L
    IndexedSeq.fill(nBits, dim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % 2049L) - 1024L).toInt
    }
  }

  /** Band signature columns b0..b{bands-1} over signed random projections:
    * bit j of band b is [v · h(b*bits+j) > 0]. Each hyperplane is a foldable
    * ARRAY<FLOAT> literal, so every bit is ONE codegen float_dot per row. */
  private def srpBandCols(vecCol: String, bands: Int, bits: Int, dim: Int): Seq[Column] = {
    val h = srpNumerators(bands * bits, dim)
    (0 until bands).map { b =>
      (0 until bits).map { j =>
        val lit = h(b * bits + j).map(k => s"($k/1024.0D)")
          .mkString("CAST(array(", ", ", ") AS ARRAY<FLOAT>)")
        when(expr(s"float_dot($vecCol, $lit)") > 0d, 1 << j).otherwise(0)
      }.reduce(_ + _).cast("int").as(s"b$b")
    }
  }

  /** SRP-LSH near-neighbor pairs (cosine LSH, Charikar '02): `bands` band
    * signatures of `bits` sign-projections each; candidates collide on >= 1
    * band (equi-join on the band value — NEVER all pairs); exact double-fold
    * cosine verifies candidates against `threshold`.
    *
    * This is the hyperplane analogue of the minhash pipeline in [[Dedup]]:
    * signature table is docs-count-sized, candidate volume is bounded by
    * bucket occupancy (bits per band is the knob), and the verification join
    * touches only candidates — the plan that survives a 100 TB embedding
    * corpus where the k-means IVF path needs a training step. */
  /** One fine-grained SRP code from FRESH hyperplanes (indices offset..
    * offset+bits-1 of the same deterministic LCG stream, disjoint from the
    * banding planes) — the similarity-correlated ring-order key: vectors at
    * high cosine agree on most sign bits, so sorting a bucket by this
    * integer puts true near-dups next to each other (Manku '07
    * rotate-and-sort, applied to the SNM window order). */
  private def srpFineCol(vecCol: String, offset: Int, bits: Int,
      dim: Int): Column = {
    val h = srpNumerators(offset + bits, dim)
    (0 until bits).map { j =>
      val lit = h(offset + j).map(k => s"($k/1024.0D)")
        .mkString("CAST(array(", ", ", ") AS ARRAY<FLOAT>)")
      when(expr(s"float_dot($vecCol, $lit)") > 0d, 1 << j).otherwise(0)
    }.reduce(_ + _).cast("int")
  }

  /** (id, band, sig) banded SRP signature rows — the LSH bucket stream the
    * candidate joins key on. The per-vector signature table is
    * materialized because the band self-join's two renamed branches defeat
    * ReuseExchange (same reason d2 checkpoints its minhash table) —
    * without it the bands*bits-dot scan runs twice. */
  def srpBanded(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int, bits: Int): DataFrame = {
    registerFns(emb)
    val sig = emb.select(col(idCol) +: srpBandCols(vecCol, bands, bits, dim): _*)
      .barrier()
    sig.select(col(idCol), expr(
        s"explode(array(${(0 until bands).map(b => s"struct($b AS band, b$b AS sig)").mkString(", ")}))").as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Default per-bucket sorted-neighborhood window for the SRP candidate
    * joins: far above every measured bucket occupancy at the oracle-gated
    * scales (so capped and uncapped candidates are bit-identical there —
    * the minhash maxBucket discipline), while bounding a dense angular
    * cell's pair volume to occ·window at corpus scale. A `bits`-bit band
    * has only 2^bits values, so WITHOUT the window candidate pairs have a
    * floor of n²/2^(bits+1) per band — the k5 sf10 blow-up (595 s for 80k
    * vectors at bits = 6). Measured occupancy maxima: 68 at sf0.1, 250 at
    * sf1 (both exhaustive under 256), 2,446 at sf10 (ringed). */
  val SrpWindow = 256

  /** Declared ring recall target and the coverage ratio that buys it: in
    * the approximate regime the sorted-neighborhood window is derived FROM
    * the measured worst-bucket occupancy as `ceil(RingCoverage · maxOcc)`
    * (floored at the caller's `window`), instead of staying a fixed width
    * that silently becomes an ever-thinner slice as the corpus densifies.
    * The ratio is set by the measured fine-ordered recall-vs-window curve
    * at sf10 (d7 geometry, 80k vectors, occ 2,446, exhaustive 415,642-edge
    * denominator — BENCH_NOTES round-10):
    *
    *   coverage 10.5% (w=257)  → recall 45.9%
    *   coverage 20.9% (w=512)  → recall 69.7%   ← declared point
    *   coverage 41.9% (w=1024) → recall 94.1%
    *
    * RingCoverage = 0.21 therefore targets ring-stage recall ≥ 60% with
    * measured margin (69.7%); candidate volume — the cost axis, verify is
    * candidate-priced — grows sub-linearly in the window (71.7M → 126.6M
    * from w=257 to 512: smaller buckets saturate). Below the window the
    * ring is exhaustive, so the oracle-gated scales are bit-identical
    * regardless of this value. */
  val RingRecallTarget = 0.60
  val RingCoverage = 0.21

  /** Worst-bucket occupancy above which [[srpNearPairs]] REBANDS with more
    * bits instead of widening the ring. The coverage-ratio window is
    * QUADRATIC across decades (window ∝ occ ∝ n at fixed bits, candidates
    * ∝ n·window ∝ n²): measured at the fourth decade — sf30 (240k vectors,
    * maxOcc ≈ 7.3k, derived window ≈ 1.5k, ~1.1G candidates) exhausted a
    * 61 GB spill volume and ran 0/2 reps, where sf10 (80k vectors, maxOcc
    * 2,446) ran in 172 s standalone. The cap sits just above the sf10
    * measurement, the largest regime where the 0.21-coverage price is
    * measured and declared; each extra bit halves occupancy, so candidates
    * return to ~linear per decade (bits ∝ log n — the IVF-nlist
    * discipline applied to the LSH bands). Recall stays declared against
    * the EFFECTIVE banding's exhaustive basis: the round-11 Pareto grid
    * measured that extra bits shrink the reachable set itself (21-29% of
    * the coarser basis), so this is a declared trade — bounded candidates
    * over cross-decade basis stability — not a free lunch, and the gated
    * scales (occ far below the cap) are bit-identical. */
  val RebandOcc = 2560L

  /** `adaptiveWindow = false` keeps the caller's FIXED window in the ring
    * regime — declared BUDGET semantics instead of the recall target.
    * Measured rejection of the adaptive width for gr7 (sf10, maxOcc 7,547
    * → derived window 1,585): 614 s (6.4× the fixed-budget probe) AND an
    * EMPTIED output — the ~6× denser cos≥0.3 edge basis pushed nearly
    * every node past linkPrediction's deg≤64 hub filter, so the queue
    * collapsed to 0 rows. For a degree-bounded downstream the recall
    * lever is bits-per-band, not ring width; the queue's contract stays
    * "what the budget can see" (BENCH_NOTES round-10). Since r12 the
    * occupancy REBAND applies to fixed-window callers too (the basis the
    * budget sees is the occupancy-stabilized one — see the reband comment
    * below and BENCH_NOTES round-12 for the measured sf10/sf30 decision);
    * the fixed window itself is never widened. */
  def srpNearPairs(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int, bits: Int, threshold: Double,
      window: Int = SrpWindow, adaptiveWindow: Boolean = true): DataFrame = {
    registerFns(emb)
    def bandedAt(b: Int) = srpBanded(emb, idCol, vecCol, dim, bands, b)
    def worstOcc(bd: DataFrame): Long = {
      val r = bd.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("occ")).agg(max(col("occ"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var effBits = bits
    var banded = bandedAt(bits)
    var measuredOcc = worstOcc(banded)
    // Occupancy-stabilizing REBAND (ALL callers since r12 — r11 scoped it
    // to adaptive-window callers because a fixed budget keeps CANDIDATES
    // linear, but the fourth-decade gr7 probe showed the fixed-budget
    // caller's problem is the EDGE BASIS, not the candidate count: at fixed
    // bits the cos-verified graph densifies with bucket occupancy and every
    // degree-priced consumer downstream pays for it — 7.6× wall for 3×
    // data at sf30. The queue's declared meaning becomes "what the budget
    // can see OVER THE OCCUPANCY-STABILIZED effective banding"; gated
    // scales sit far under RebandOcc and are bit-identical): when the
    // worst bucket outgrows the regime the coverage ratio was measured in
    // (RebandOcc — see its scaladoc for the sf30 disk-exhaustion
    // measurement), grow bits until occupancy returns under the cap. One
    // extra signature agg per step; the step count is BOUNDED and the
    // occupancy is RE-MEASURED after each step (r11 ADVICE): a cluster of
    // bit-identical vectors shares its signature at ANY bit count, so for
    // an exact-dup-heavy corpus occupancy never drops below cluster size
    // and the loop must terminate by budget, not by hope. If occupancy is
    // still above the cap when the budget runs out, the occupancy-derived
    // window would recreate exactly the quadratic the cap exists to stop
    // (window ∝ occ) — so fall back to the caller's FIXED window and say
    // so loudly, rather than logging "stabilized" and blowing up.
    var rebandExhausted = false
    if (measuredOcc > RebandOcc) {
      val maxSteps = 3 // each step adds ceil(log2(occ/cap)) bits; 3 rounds
                       // of geometric growth separate anything separable
      var step = 0
      while (measuredOcc > RebandOcc && step < maxSteps) {
        val extra = math.ceil(
          math.log(measuredOcc.toDouble / RebandOcc) / math.log(2.0)).toInt
        effBits += math.max(1, extra)
        step += 1
        System.err.println(s"[srpNearPairs] REBAND step $step: worst bucket " +
          s"occupancy $measuredOcc exceeds RebandOcc = $RebandOcc (the " +
          s"measured coverage-ratio regime) — growing bits to $effBits to " +
          s"stabilize occupancy; the recall target is declared against this " +
          s"effective banding's exhaustive basis")
        banded = bandedAt(effBits)
        measuredOcc = worstOcc(banded)
      }
      if (measuredOcc > RebandOcc) {
        rebandExhausted = true
        System.err.println(s"[srpNearPairs] REBAND EXHAUSTED: occupancy " +
          s"$measuredOcc still exceeds RebandOcc = $RebandOcc after " +
          s"$maxSteps reband steps (bits = $effBits) — the bucket is an " +
          s"exact-duplicate-class cluster that no bit count separates. " +
          s"Falling back to the caller's FIXED window = $window (budget " +
          s"semantics): an occupancy-derived window over this bucket would " +
          s"recreate the quadratic candidate blow-up the cap guards against.")
      }
    }
    // Measure the worst bucket (one bounded scalar agg over the
    // checkpointed-signature band stream), then pick the candidate path
    // ADAPTIVELY — the r8-advice occupancy seam, closed both ways:
    //  - every bucket fits window+1: the plain exhaustive equi-join. The
    //    ring would be bit-identical here (OpsSpec proves the equality) but
    //    pays a per-bucket row_number window + a two-block explode-join —
    //    measured ~1.35x on k5 at the gated scales, where the rewrite
    //    bought nothing. The measurement IS the regime witness, so spend
    //    it on skipping the machinery, not just on a warning.
    //  - any bucket exceeds window+1: the sorted-neighborhood ring (the
    //    sf10 fix — a bits-bit band has 2^bits values, so exhaustive
    //    candidates have an n²/2^(bits+1) floor), and say LOUDLY that the
    //    output is no longer exhaustive: pairs drop in salted-hash order,
    //    invisible to callers and to the oracle gate otherwise.
    val maxOcc = measuredOcc
    val pairs =
      if (maxOcc <= window + 1) Dedup.lshCandidates(banded, idCol)
      else {
        // occupancy-derived width: a FIXED window is an ever-thinner slice
        // of a densifying bucket (10.5% of occ at sf10 read 45.9% recall);
        // covering RingCoverage of the worst bucket holds the ring's recall
        // at the declared target as the corpus grows (the r9-advice knob,
        // measured at sf10 — see RingCoverage's curve)
        // rebandExhausted forces the FIXED width: an inseparable bucket's
        // occupancy-derived window IS the quadratic (window ∝ occ) the
        // reband exists to prevent (r11 ADVICE; IvfSpec pins this path)
        val deriveWidth = adaptiveWindow && !rebandExhausted
        val effWindow =
          if (deriveWidth)
            math.max(window, math.ceil(maxOcc * RingCoverage).toInt)
          else window
        val widthNote =
          if (deriveWidth)
            s"window derived as max($window, ceil($RingCoverage*$maxOcc)) " +
            s"= $effWindow for ring recall >= " +
            s"${(RingRecallTarget * 100).toInt}% (measured 69.7% at this " +
            s"coverage, sf10 curve)"
          else if (rebandExhausted)
            s"window FIXED at $window (reband exhausted on an inseparable " +
            s"bucket — budget semantics, coverage " +
            s"${"%.1f".format(window * 100.0 / maxOcc)}%)"
          else s"window FIXED at $window by the caller (declared budget " +
            s"semantics — coverage ${"%.1f".format(window * 100.0 / maxOcc)}%)"
        System.err.println(s"[srpNearPairs] APPROXIMATE: max bucket " +
          s"occupancy $maxOcc exceeds window+1 = ${window + 1} — candidates " +
          s"are sorted-neighborhood-windowed (similarity-ordered), not " +
          s"exhaustive; $widthNote; add bits per band for full recall")
        // ring order = a 16-bit fine SRP code from FRESH planes: within a
        // bucket, true near-dups agree on most fine sign bits and sort next
        // to each other, so the occ·window candidate budget is spent on
        // likely positives instead of a uniform hash sample (sf10 d7: 1.31×
        // the true edges at the same candidate count — BENCH_NOTES). Below
        // the window the order is irrelevant (all pairs emit), so the
        // gated-scale exhaustive equality is untouched.
        val fine = emb.select(col(idCol),
          srpFineCol(vecCol, bands * effBits, 16, dim).as("__fine"))
        Dedup.lshCandidatesRing(banded.join(fine, idCol), idCol, effWindow,
          Some("__fine"))
      }
    val withNorm = emb.select(col(idCol), col(vecCol),
      sqrt(expr(normSqExpr(vecCol)).cast("double")).as("__norm"))
    // candidate volume is data-dependent (a hot bucket is quadratic) — no
    // forced broadcast; AQE converts at runtime when the side measures small
    pairs
      .join(withNorm.toDF("ja", "vec_a", "norm_a"), col("id_a") === col("ja"))
      .join(withNorm.toDF("jb", "vec_b", "norm_b"), col("id_b") === col("jb"))
      .withColumn("cos_sim",
        round(expr(dotExpr("vec_a", "vec_b")) / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_bands"), col("cos_sim"))
  }

  /** Embedding-space stratified diversity sample: one `bits`-bit SRP band
    * partitions the space into 2^bits angular cells (deterministic,
    * data-independent hyperplanes — the same [[srpNumerators]] family the
    * LSH paths use), then a per-cell salted-hash quota keeps at most
    * `quota` vectors per cell. Dense regions get the same budget as sparse
    * ones — COVERAGE sampling rather than density sampling (the "diversify
    * the corpus" curation step). Contrast [[semanticDedup]]: dedup removes
    * near-identical pairs; this bounds region occupancy with no pair graph
    * at all.
    *
    * Scale: cell assignment is `bits` codegen float_dots per row at scan
    * speed; the quota rank is [[TextAnalysis.quotaSample]]'s two-level
    * hash-shard prefix sum — no cell ever gathers on one partition. */
  def diversitySample(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      bits: Int, quota: Long, salt: String): DataFrame = {
    registerFns(emb)
    val sig = emb.select(col(idCol) +: srpBandCols(vecCol, 1, bits, dim): _*)
      .withColumnRenamed("b0", "cell")
    TextAnalysis.quotaSample(sig, "cell", idCol, lit(quota), salt)
  }

  /** Bucket-blocked EXACT cosine pairs (>= threshold) — the verification
    * baseline of the pair family, like [[topKNeighbors]] is for ANN: every
    * within-bucket pair is scored, so recall is 1.0 BY CONSTRUCTION within
    * the blocking and the LSH paths can be judged against it.
    *
    * Scale caveat, measured: the within-bucket all-pairs build is quadratic
    * in bucket occupancy, so this is a gated-scale harness and a valid
    * production path ONLY where the blocking keys scale with the corpus
    * (IVF cells with bounded occupancy, the SemDeDup design). Under a FIXED
    * bucket domain it densifies quadratically — the gr7 basis rejection
    * measured 118 s / 25.4M candidate-pairs at sf10 on the 10-label
    * testdata before that query moved to [[srpNearPairs]], whose banded
    * candidates + occupancy ring keep the decade exponent linear. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double): DataFrame = {
    registerFns(emb)
    val withNorm = emb.withColumn("__norm", sqrt(expr(normSqExpr(vecCol)).cast("double")))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      col(bucketCol).as("bkt_a"), col("__norm").as("norm_a"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      col(bucketCol).as("bkt_b"), col("__norm").as("norm_b"))
    // the codegen double fold IS the reported score now, so the all-pairs
    // stage is a single primitive-loop pass — no prefilter/verify split
    a.join(b, col("bkt_a") === col("bkt_b") && col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(
        expr(dotExpr("vec_a", "vec_b")) / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("bkt_a").as("bucket"), col("cos_sim"))
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. '23): near-duplicate
    * EMBEDDING pairs (SRP-LSH candidates verified by exact cosine against
    * `threshold`) are collapsed into clusters by connected components, and
    * the minimum id per cluster is the keeper — every other member is a
    * semantic duplicate to drop. Emits one row per input vector (singletons
    * are their own keeper), so the output IS the corpus-wide keep/drop
    * decision.
    *
    * Scale: the pair graph is candidate-sized (banded LSH, never all-pairs),
    * components iterate on that graph only — state is pair-bounded, not
    * corpus-bounded — and the final membership join is one hash join on the
    * vector id. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int, bits: Int, threshold: Double): DataFrame = {
    // checkpointed: CC iterates over the edge set, and without it every
    // iteration would replay the full LSH candidate+verify pipeline
    val pairs = srpNearPairs(emb, idCol, vecCol, dim, bands, bits, threshold)
      .select(col("id_a"), col("id_b")).barrier()
    val nodes = emb.select(col(idCol).as("id"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val w = Window.partitionBy(col("comp_id"))
    // keeper = the cluster's ACTUAL minimum member, not id === comp_id: if
    // min-label propagation stops at maxIter on a deep chain, comp_id may
    // not be any member's id — the window-min guarantees every emitted
    // cluster still elects exactly one keeper (identical when converged)
    Identity.connectedComponents(nodes, edges)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("__min_id", min(col("id")).over(w))
      .select(col("id").as(idCol), col("comp_id").as("cluster_id"),
        col("cluster_size"), (col("id") === col("__min_id")).as("is_keeper"))
  }

  /** Incremental SEMANTIC dedup — the embedding-side twin of
    * `Dedup.incrementalNearDup` (d8): match a DELTA batch of vectors
    * against an already-indexed corpus, paying only for the delta's own
    * signatures plus a banded join against the index — never a corpus
    * re-scan. The corpus SRP band signatures are the persisted index in
    * production (recomputed here because the testdata stores none; the
    * band subtree is identical to a parquet scan of a signature table).
    *
    * A delta vector is REJECTED when it has a cosine near-dup at
    * >= `threshold` in the corpus, or a LOWER-ID near-dup inside the delta
    * itself (greedy min-id-wins — two copies arriving in one batch keep
    * one, the `acceptNonDup` intra-batch discipline; greedy by id, not CC:
    * a chain a~b~c with a<b<c keeps only a, documented semantics).
    * Candidates are band collisions only; exact cosine verifies every
    * candidate. PRECONDITION: disjoint id spaces (enforced — shared ids
    * would corrupt the verify joins).
    *
    * Returns one row per delta vector:
    * (idCol, n_corpus_dups, n_delta_dups, accepted). */
  def incrementalSemanticAccept(delta: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, bands: Int, bits: Int,
      threshold: Double): DataFrame = {
    registerFns(delta)
    val sigD = delta.select(col(idCol) +: srpBandCols(vecCol, bands, bits, dim): _*)
      .barrier()
    val sigC = corpus.select(col(idCol) +: srpBandCols(vecCol, bands, bits, dim): _*)
      .barrier()
    val shared = sigD.select(col(idCol)).distinct()
      .join(sigC.select(col(idCol)).distinct(), Seq(idCol)).limit(1).count()
    require(shared == 0L, s"incrementalSemanticAccept: delta and corpus " +
      s"share $idCol values — id spaces must be disjoint")
    def banded(sig: DataFrame) = sig.select(col(idCol), expr(
        s"explode(array(${(0 until bands).map(b => s"struct($b AS band, b$b AS sig)").mkString(", ")}))").as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val bd = banded(sigD)
    val candCross = bd.toDF("id_a", "band", "sig")
      .join(banded(sigC).toDF("id_b", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2"))
      .select(col("id_a"), col("id_b")).distinct()
    val candIntra = bd.toDF("id_a", "band", "sig")
      .join(bd.toDF("id_b", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2") &&
          col("id_b") < col("id_a"))
      .select(col("id_a"), col("id_b")).distinct()
    def withNorm(df: DataFrame, i: String, v: String, n: String) =
      df.select(col(idCol).as(i), col(vecCol).as(v),
        sqrt(expr(normSqExpr(vecCol)).cast("double")).as(n))
    def dupCounts(cand: DataFrame, rightSide: DataFrame, as: String) =
      cand.join(withNorm(delta, "ja", "vec_a", "norm_a"), col("id_a") === col("ja"))
        .join(withNorm(rightSide, "jb", "vec_b", "norm_b"), col("id_b") === col("jb"))
        .withColumn("cos_sim", round(
          expr(dotExpr("vec_a", "vec_b")).cast("double") /
            (col("norm_a") * col("norm_b")), 6))
        .filter(col("cos_sim") >= threshold)
        .groupBy(col("id_a")).agg(count(lit(1)).as(as))
    delta.select(col(idCol))
      .join(dupCounts(candCross, corpus, "n_corpus_dups")
        .withColumnRenamed("id_a", idCol), Seq(idCol), "left")
      .join(dupCounts(candIntra, delta, "n_delta_dups")
        .withColumnRenamed("id_a", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("n_delta_dups"), lit(0L)).as("n_delta_dups"))
      .withColumn("accepted",
        col("n_corpus_dups") === 0 && col("n_delta_dups") === 0)
  }

  /** k-NN JOIN under the SRP-LSH candidate graph: top-`k` cosine neighbors
    * for EVERY vector at once (vs [[topKNeighbors]]' single query), ranked
    * `cos_sim` desc then neighbor id among band-collision candidates. The
    * all-queries analogue of an ANN index build — candidate generation is
    * the banded equi-join (never all-pairs), each undirected candidate pair
    * is scored once and consumed from both endpoints, and the per-query
    * rank window partitions on the query id, so parallelism equals the
    * vector count at any corpus size. */
  def knnJoinLsh(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int, bits: Int, k: Int): DataFrame = {
    val pairs = srpNearPairs(emb, idCol, vecCol, dim, bands, bits, threshold = -1.0)
    // both directions via ONE explode over the scored pair stream — a
    // two-branch self-union would replay the whole LSH candidate+verify
    // subtree per branch (ReuseExchange can't unify the renamed projections)
    val sym = pairs.select(expr(
        """explode(array(struct(id_a AS qid, id_b AS nid),
          |  struct(id_b AS qid, id_a AS nid)))""".stripMargin).as("e"), col("cos_sim"))
      .select(col("e.qid").as(idCol), col("e.nid").as("neighbor_id"), col("cos_sim"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
