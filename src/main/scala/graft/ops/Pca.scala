package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Principal-component analysis for embedding columns — the dimensionality
  * reduction step a curation pipeline runs before ANN indexing or semantic
  * dedup (project float[d] down to float[r], keep most of the variance,
  * shrink every downstream index and shuffle by d/r).
  *
  * Split in the only way that scales:
  * - the DISTRIBUTED part is exact integer moment accumulation on the k11
  *   1/1024 quantization grid: each partition folds its vectors into one
  *   d(d+1)/2-entry BIGINT Gram partial + a d-entry mean partial
  *   (`mapPartitions` — the deliberately-procedural-region license; the
  *   shuffle carries ONE partial per partition, never a vector), and the
  *   partials combine by exact integer addition, so the moments are
  *   bit-identical at any partitioning and SQL-replayable (the oracle
  *   recomputes mean and Gram diagonal with unnest + sums).
  * - the DRIVER part is eigendecomposition of the d×d covariance (cyclic
  *   Jacobi, fixed sweep order → deterministic) — d² doubles, KB-sized,
  *   the same license as the collected BPE merge table. No corpus data
  *   ever reaches the driver.
  *
  * |q| ≤ 1024·|x|: at |x| ≤ 32 the per-vector product is ≤ 2^30, leaving
  * 2^33 vectors of headroom in the BIGINT sums — beyond 100 TB of
  * embeddings per aggregation. */
object Pca {

  /** Fitted model: `components(k)(i)` = i-th coordinate of the k-th
    * eigenvector (descending eigenvalue), in quantized-grid units. */
  final case class PcaModel(
      n: Long,
      dim: Int,
      meanNum: Array[Long],    // Σ q_i (exact)
      gramDiag: Array[Long],   // Σ q_i² (exact)
      eigvals: Array[Double],  // descending, top r
      components: Array[Array[Double]],
      traceC: Double,
      eigSum: Double,          // Σ of ALL d eigenvalues (= trace, up to fp)
      centered: Boolean)

  /** Exact integer moments: (n, Σq per dim, upper-triangle Σ q_i·q_j). */
  private def moments(emb: DataFrame, vecCol: String, d: Int)
      : (Long, Array[Long], Array[Long]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val tri = d * (d + 1) / 2
    val partials = emb.select(col(vecCol)).where(col(vecCol).isNotNull)
      .as[Array[Float]]
      .mapPartitions { it =>
        val g = new Array[Long](tri)
        val m = new Array[Long](d)
        var n = 0L
        val q = new Array[Long](d)
        it.foreach { v =>
          require(v.length == d, s"expected dim $d, got ${v.length}")
          var i = 0
          while (i < d) {
            q(i) = math.floor(v(i).toDouble * 1024.0).toLong
            m(i) += q(i)
            i += 1
          }
          var idx = 0
          i = 0
          while (i < d) {
            var j = i
            while (j < d) { g(idx) += q(i) * q(j); idx += 1; j += 1 }
            i += 1
          }
          n += 1
        }
        Iterator.single((n, m.toSeq, g.toSeq))
      }.toDF("n", "mean", "gram")
      // three consumers (n, mean, gram) — without this checkpoint each one
      // re-executes the whole O(n·d²/2) corpus pass; the partials frame is
      // one row per partition, so the materialization is KB-sized
      .barrier()
    // exact integer reduce of the per-partition partials (rows = partition
    // count, so these aggs are tiny; sums are order-independent)
    val n = partials.agg(sum(col("n"))).head.getLong(0)
    def tot(c: String, len: Int): Array[Long] = {
      val rows = partials.select(posexplode(col(c)).as(Seq("pos", "v")))
        .groupBy(col("pos")).agg(sum(col("v")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      Array.tabulate(len)(i => rows.getOrElse(i, 0L))
    }
    (n, tot("mean", d), tot("gram", tri))
  }

  /** Fit on `vecCol` (float array of length `dim`), keep `r` components.
    *
    * `centered = true` diagonalizes the covariance (variance-maximizing —
    * the statistics reading); `centered = false` diagonalizes the raw
    * second-moment matrix G/n, whose top-r subspace maximizes retained
    * ENERGY Σ‖x‖² — the right variant before cosine/dot-product ANN, where
    * subtracting the corpus mean would distort every angle. */
  def fit(emb: DataFrame, vecCol: String, dim: Int, r: Int,
      centered: Boolean = true): PcaModel = {
    val (n, m, g) = moments(emb, vecCol, dim)
    require(n > 1, s"PCA needs at least 2 vectors, got $n")
    val d = dim
    // grid units: C_ij = G_ij/n − (m_i/n)(m_j/n), or G_ij/n uncentered
    val c = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val v = g(idx).toDouble / n -
        (if (centered) (m(i).toDouble / n) * (m(j).toDouble / n) else 0.0)
      c(i)(j) = v; c(j)(i) = v
      idx += 1
    }
    val trace = (0 until d).map(i => c(i)(i)).sum
    val (vals, vecs) = jacobi(c)
    val order = vals.zipWithIndex.sortBy { case (v, i) => (-v, i) }.map(_._2)
    PcaModel(n, d,
      m, Array.tabulate(d)(i => g(i * d - i * (i - 1) / 2)), // diag entries
      order.take(r).map(vals),
      order.take(r).map(k => Array.tabulate(d)(i => vecs(i)(k))),
      trace, vals.sum, centered)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — fixed sweep
    * order (upper triangle row-major), so the result is deterministic.
    * Returns (eigenvalues, column-eigenvector matrix). O(d³ · sweeps);
    * d is the embedding dim (64 here) — microseconds on the driver. */
  def jacobi(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case x => x
            }
          val cth = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * cth
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = cth * aip - s * aiq
            a(i)(q) = s * aip + cth * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = cth * api - s * aqi
            a(q)(i) = s * api + cth * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = cth * vip - s * viq
            v(i)(q) = s * vip + cth * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project `vecCol` onto the model's top-r components (centered, grid
    * units) as `outCol` float[r]. The model broadcast is r·d doubles. */
  def project(emb: DataFrame, vecCol: String, model: PcaModel,
      outCol: String): DataFrame = {
    val comps = model.components
    val meanQ =
      if (model.centered) model.meanNum.map(_.toDouble / model.n)
      else Array.fill(model.dim)(0.0)
    val d = model.dim
    val f = udf { v: Seq[Float] =>
      val q = Array.tabulate(d)(i =>
        math.floor(v(i).toDouble * 1024.0) - meanQ(i))
      comps.map { c =>
        var s = 0.0; var i = 0
        while (i < d) { s += c(i) * q(i); i += 1 }
        s.toFloat
      }
    }
    emb.withColumn(outCol, f(col(vecCol)))
  }
}
