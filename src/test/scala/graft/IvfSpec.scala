package graft

import graft.core.Tables
import graft.ops.SimilaritySearch
import org.scalatest.funsuite.AnyFunSuite

/** IVF coarse-quantized search on the real embeddings table: probing every
  * bucket must reproduce brute force exactly; probing fewer buckets must stay
  * inside the probed cells and below the global optimum. */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.embeddings(spark, sf)

  test("nprobe = all buckets reproduces brute force exactly") {
    val brute = SimilaritySearch.topKNeighbors(emb, "vec_id", "embedding", 0L, 10)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = SimilaritySearch.topKNeighborsIvf(emb, "vec_id", "embedding", "label",
        queryId = 0L, k = 10, nprobe = 10)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
  }

  test("nprobe = 3 searches only the probed cells and bounds by the optimum") {
    val ivf = SimilaritySearch.topKNeighborsIvf(emb, "vec_id", "embedding", "label",
        queryId = 0L, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.length == 5)
    val bruteBest = SimilaritySearch.topKNeighbors(emb, "vec_id", "embedding", 0L, 1)
      .collect().head.getDouble(1)
    assert(ivf.forall(_._2 <= bruteBest))
    // returned ids must come from at most 3 distinct labels
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ivf.map(x => labels(x._1)).distinct.length <= 3)
  }

  test("sq8Codes: integral codes bounded by 127, reconstruction within s/2") {
    val codes = SimilaritySearch.sq8Codes(emb, "vec_id", "embedding")
      .join(emb, "vec_id").collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val s = r.getAs[Double]("sq_scale")
      val q = r.getAs[scala.collection.Seq[Float]]("sq_code")
      val x = r.getAs[scala.collection.Seq[Float]]("embedding")
      assert(q.forall(v => v == math.rint(v) && math.abs(v) <= 127.0f))
      // symmetric quantizer contract: |x - s*q| <= s/2 per element
      q.zip(x).foreach { case (qi, xi) =>
        assert(math.abs(xi.toDouble - s * qi) <= s / 2 + 1e-12)
      }
    }
  }

  test("topKNeighborsSq8 ranks by quantized cosine, close to exact top-k") {
    val exact = SimilaritySearch.topKNeighbors(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val sq8 = SimilaritySearch.topKNeighborsSq8(emb, "vec_id", "embedding", 0L, 10)
      .orderBy("rank").collect()
    assert(sq8.length == 10)
    // scores are valid cosines and non-increasing in rank
    val scores = sq8.map(_.getDouble(1))
    assert(scores.forall(s => s >= -1.000001 && s <= 1.000001))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // int8 quantization of 64-dim vectors preserves most of the top-k
    assert(sq8.map(_.getLong(0)).count(exact) >= 6,
      s"sq8 overlap with exact top-10 too low: ${sq8.map(_.getLong(0)).toSeq}")
  }

  test("kmeansAssign: total cover, k cells, partitioning-independent") {
    val a1 = SimilaritySearch.kmeansAssign(emb, "vec_id", "embedding", k = 5, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1.size == emb.count())
    assert(a1.values.toSet.size == 5)
    val a2 = SimilaritySearch.kmeansAssign(emb.repartition(7), "vec_id", "embedding",
        k = 5, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2)
  }

  test("IVF over learned k-means cells returns valid in-cell neighbors") {
    val cells = SimilaritySearch.kmeansAssign(emb, "vec_id", "embedding", k = 5, iters = 2)
    val withCells = emb.join(cells, "vec_id")
    val ivf = SimilaritySearch.topKNeighborsIvf(withCells, "vec_id", "embedding", "cell",
        queryId = 0L, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.length == 5)
    val bruteBest = SimilaritySearch.topKNeighbors(emb, "vec_id", "embedding", 0L, 1)
      .collect().head.getDouble(1)
    assert(ivf.forall(_._2 <= bruteBest))
  }

  test("srpNearPairs: verified pairs are a subset of true pairs; candidates prune") {
    val n = emb.count()
    val srp = SimilaritySearch.srpNearPairs(emb, "vec_id", "embedding", dim = 64,
        bands = 4, bits = 6, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // every emitted pair really clears the threshold (verification stage)
    assert(srp.forall(_._3 >= 0.4))
    assert(srp.forall(p => p._1 < p._2))
    // true pairs via the bucketed exact path with a single global bucket
    val all = SimilaritySearch.nearDupPairs(
        emb.withColumn("one", org.apache.spark.sql.functions.lit(1)),
        "vec_id", "embedding", "one", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(srp.map(p => (p._1, p._2)).toSet.subsetOf(all))
    // the LSH must PRUNE: strictly fewer verified pairs than brute force
    // can only happen if candidates were a strict subset of all pairs
    assert(srp.nonEmpty || all.isEmpty || n < 2)
  }

  test("srpNearPairs: reband-exhausted fallback keeps the caller's window " +
      "on an inseparable exact-dup bucket") {
    // 3000 bit-identical vectors: one bucket of occupancy 3000 > RebandOcc
    // at ANY bit count — rebanding cannot separate exact duplicates, so the
    // bounded reband loop must exhaust and fall back to the caller's FIXED
    // window (r11 ADVICE fix). The occupancy-derived width would emit
    // ~ceil(0.21*3000)=630 successors per row; the fixed window emits <= 12.
    import spark.implicits._
    val vec = Array.fill(8)(0.5f)
    val dup = (0L until 3000L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val pairs = SimilaritySearch.srpNearPairs(dup, "vec_id", "embedding",
      dim = 8, bands = 2, bits = 4, threshold = 0.9, window = 12)
    val n = pairs.count()
    assert(n > 0, "identical vectors must produce verified pairs")
    // fixed-window budget: <= n_rows * window successors per band, deduped
    // across bands — far under the ~1.9M pairs the adaptive width would emit
    assert(n <= 3000L * 12 * 2,
      s"pair count $n exceeds the fixed-window budget — the reband-exhausted " +
        "path is deriving its window from occupancy again")
  }

  test("srpNumerators: fixed, dyadic, partitioning-independent signatures") {
    val h = SimilaritySearch.srpNumerators(24, 64)
    assert(h.length == 24 && h.forall(_.length == 64))
    assert(h.flatten.forall(k => k >= -1024 && k <= 1024))
    // deterministic: two calls produce identical planes
    assert(h == SimilaritySearch.srpNumerators(24, 64))
    val a = SimilaritySearch.srpNearPairs(emb, "vec_id", "embedding", 64, 4, 6, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = SimilaritySearch.srpNearPairs(emb.repartition(7), "vec_id", "embedding",
        64, 4, 6, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("centroids have the embedding dimensionality and finite values") {
    val c = SimilaritySearch.centroids(emb, "embedding", "label").collect()
    assert(c.length == 10)
    c.foreach { r =>
      val arr = r.getSeq[Double](1)
      assert(arr.length == 64)
      assert(arr.forall(x => !x.isNaN && !x.isInfinite))
    }
  }

  test("PQ: codes cover all vectors in-range and are partitioning-independent") {
    val c1 = SimilaritySearch.pqModel(emb, "vec_id", "embedding", 64, m = 4,
        k = 16, iters = 2)._1
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    assert(c1.size == emb.count())
    assert(c1.values.forall(_.forall(c => c >= 0 && c < 16)))
    val c2 = SimilaritySearch.pqModel(emb.repartition(7), "vec_id", "embedding",
        64, m = 4, k = 16, iters = 2)._1
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    assert(c1 == c2)
  }

  test("PQ-ADC distances equal the codebook lookup arithmetic exactly") {
    val m = 4; val sub = 16
    val got = SimilaritySearch.topKNeighborsPq(emb, "vec_id", "embedding", 64,
        queryId = 0L, k = 5, m = m, kCodes = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._3).toSeq == (1L to 5L))
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted)
    // adc_dist is partitioning-independent (decimal-quantized addends —
    // a raw double sum could flip a 6th-decimal tie across partitionings)
    val rep = SimilaritySearch.topKNeighborsPq(emb.repartition(7), "vec_id",
        "embedding", 64, queryId = 0L, k = 5, m = m, kCodes = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == rep.toSeq)
    // recompute the winners' ADC distances driver-side from codes + codebook
    val (codes, codebook) = SimilaritySearch.pqModel(emb, "vec_id", "embedding", 64, m, 16, 2)
    val book = codebook.collect()
      .map(r => (r.getInt(2), r.getInt(0)) -> r.getSeq[Float](1)).toMap
    val codeMap = codes.collect().map(r => r.getLong(0) -> (1 to m).map(r.getInt)).toMap
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .collect().head.getSeq[Float](1)
    def d2(a: Seq[Float], b: Seq[Float]): Double = {
      // FloatDot's ascending double fold, spelled the same way
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      dot(a, a) + dot(b, b) - 2.0 * dot(a, b)
    }
    got.foreach { case (id, dist, _) =>
      val expected = (0 until m).map { b =>
        d2(q.slice(b * sub, (b + 1) * sub), book((b, codeMap(id)(b))))
      }.sum
      assert(math.abs(BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble - dist) < 1e-9, s"vec $id: expected $expected vs $dist")
    }
  }

  test("semanticDedup: total cover, min-id keepers, pairs never straddle clusters") {
    val d = SimilaritySearch.semanticDedup(emb, "vec_id", "embedding", 64,
        bands = 4, bits = 6, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // one row per vector; keeper iff id == cluster_id; keeper = cluster min
    assert(d.length == emb.count())
    assert(d.forall { case (id, cl, _, keep) => keep == (id == cl) })
    val byCluster = d.groupBy(_._2)
    byCluster.foreach { case (cl, members) =>
      assert(members.map(_._1).min == cl, s"cluster $cl keeper is not the min id")
      assert(members.count(_._4) == 1, s"cluster $cl must have exactly one keeper")
      assert(members.forall(_._3 == members.length), s"cluster $cl size mismatch")
    }
    // every verified near-dup pair must land in one cluster
    val cluster = d.map(x => x._1 -> x._2).toMap
    SimilaritySearch.srpNearPairs(emb, "vec_id", "embedding", 64, 4, 6, 0.4)
      .collect().foreach { r =>
        assert(cluster(r.getLong(0)) == cluster(r.getLong(1)),
          s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
      }
  }

  test("knnJoinLsh: contiguous ranks, cos-desc order, candidate-exact scores") {
    val knn = SimilaritySearch.knnJoinLsh(emb, "vec_id", "embedding", 64,
        bands = 4, bits = 6, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(knn.nonEmpty)
    assert(knn.forall { case (q, n, _, _) => q != n })
    knn.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq,
        s"query $q ranks not contiguous from 1")
      assert(sorted.map(_._2).distinct.length == sorted.length,
        s"query $q repeats a neighbor")
      // ranked by cos desc (ties broken by neighbor id asc)
      assert(sorted.toSeq.sliding(2).forall {
        case Seq((_, n1, c1, _), (_, n2, c2, _)) => c1 > c2 || (c1 == c2 && n1 < n2)
        case _ => true
      }, s"query $q not in (cos desc, id) order")
    }
    // scores agree with the exact bucketed path on a spot-checked pair set
    val exact = SimilaritySearch.nearDupPairs(
        emb.withColumn("one", org.apache.spark.sql.functions.lit(1)),
        "vec_id", "embedding", "one", -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    knn.take(50).foreach { case (q, n, c, _) =>
      val key = if (q < n) (q, n) else (n, q)
      assert(exact(key) == c, s"cos mismatch for $key")
    }
  }

  test("centroidOutliers: planted far vector flagged, p05 cut exact, int-space cosine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Cell 0: 19 vectors hugging +e1, one anti-aligned plant (id 99).
    // Cell 1: a tight pair — tiny cells must not blow up the rank pick.
    val mk = (a: Float, b: Float) => Array(a, b, 0.0f, 0.0f)
    val rows =
      (1L to 19L).map(i => (i, 0, mk(1.0f, (i % 5) * 0.01f))) ++
      Seq((99L, 0, mk(-1.0f, 0.0f)), (200L, 1, mk(0.0f, 1.0f)), (201L, 1, mk(0.01f, 1.0f)))
    val df = rows.toDF("vec_id", "cell", "embedding")
    val out = SimilaritySearch.centroidOutliers(df, "vec_id", "embedding", "cell")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.size == rows.size)
    // the plant is cell 0's worst vector and is flagged
    val c0 = out.filter(_._2._1 == 0)
    assert(c0(99L)._2 == c0.values.map(_._2).min)
    assert(c0(99L)._4, "anti-aligned plant not flagged")
    // p05 cut: flagged set == { cos <= exact 5th percentile }, >= 1 per cell
    out.groupBy(_._2._1).foreach { case (cell, m) =>
      val cos = m.values.map(_._2).toSeq.sorted
      val p05 = cos(math.ceil(cos.size / 20.0).toInt - 1)
      assert(m.values.forall(v => v._3 == p05 && v._4 == (v._2 <= p05)), s"cell $cell")
    }
    // integer-space cosine replays exactly driver-side
    def q(x: Float) = math.floor(x.toDouble * 1024).toLong
    val cent0 = (0 until 4).map(i => rows.filter(_._2 == 0).map(r => q(r._3(i))).sum)
    val v99 = (0 until 4).map(i => q(mk(-1.0f, 0.0f)(i)))
    val dot = v99.zip(cent0).map { case (a, b) => a * b }.sum.toDouble
    val exp = BigDecimal(dot / (math.sqrt(v99.map(x => x * x).sum.toDouble) *
        math.sqrt(cent0.map(x => x * x).sum.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(99L)._2 == exp)
  }

  test("clusterQuality: tight cells coherent, nearest mutual, single cell degenerate") {
    import spark.implicits._
    val mk = (a: Float, b: Float) => Array(a, b, 0.0f, 0.0f)
    // two tight orthogonal clusters + one spread cluster straddling both
    val rows =
      (1L to 8L).map(i => (i, 0, mk(1.0f, (i % 3) * 0.02f))) ++
      (11L to 18L).map(i => (i, 1, mk((i % 3) * 0.02f, 1.0f))) ++
      Seq((21L, 2, mk(1.0f, 0.0f)), (22L, 2, mk(0.0f, 1.0f)),
          (23L, 2, mk(-1.0f, 0.0f)), (24L, 2, mk(0.0f, -1.0f)))
    val out = SimilaritySearch.clusterQuality(
        rows.toDF("vec_id", "cell", "embedding"), "vec_id", "embedding", "cell")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(out.keySet == Set(0, 1, 2))
    assert(out(0)._1 == 8 && out(1)._1 == 8 && out(2)._1 == 4)
    // tight cells: members hug their centroid
    assert(out(0)._2 > 0.99 && out(1)._2 > 0.99)
    // the balanced spread cell has a ~zero centroid-sum vector: cohesion
    // collapses and the cell reads incoherent
    assert(out(2)._2 < 0.5)
    assert(out(0)._5 && out(1)._5 && !out(2)._5)
    // single-cell corpus: no rival centroid -> NULL separation, coherent
    val solo = SimilaritySearch.clusterQuality(
        Seq((1L, 0, mk(1.0f, 0.0f)), (2L, 0, mk(1.0f, 0.01f)))
          .toDF("vec_id", "cell", "embedding"), "vec_id", "embedding", "cell")
      .collect()
    assert(solo.length == 1 && solo(0).isNullAt(3) && solo(0).isNullAt(4)
      && solo(0).getBoolean(5))
  }

  test("probe sweep: recall and scan cost monotone in the hamming radius") {
    val rows = graft.queries.Registry.all.find(_.name == "k13_ann_probe_sweep").get
      .run(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    // wider probes scan more and never lose recall
    assert(rows.sliding(2).forall { case Array((_, (s1, h1, _)), (_, (s2, h2, _))) =>
      s2 >= s1 && h2 >= h1 })
    // radius-2 probes 11/16 cells: must scan strictly more than the home cell
    assert(rows.last._2._1 > rows.head._2._1)
    rows.foreach { case (_, (_, h, rec)) => assert(rec == h / 5.0) }
  }

  test("incrementalSemanticAccept: corpus dup rejected, novel kept, min-id intra wins") {
    import spark.implicits._
    def vdf(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    val corpus = vdf(0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 0f, 1f, 0f))
    val delta = vdf(
      100L -> Array(1f, 0f, 0f, 0f),   // exact corpus dup → rejected
      101L -> Array(0f, 1f, 0f, 0f),   // novel direction → accepted
      102L -> Array(0f, 1f, 0f, 0f))   // intra dup of 101 (higher id) → rejected
    val got = SimilaritySearch.incrementalSemanticAccept(delta, corpus,
        "vec_id", "embedding", dim = 4, bands = 4, bits = 6, threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(100L)._1 >= 1 && !got(100L)._3, s"100 should be a corpus dup: $got")
    assert(got(101L) == ((0L, 0L, true)), s"101 should be accepted: $got")
    assert(got(102L)._2 >= 1 && !got(102L)._3, s"102 should be an intra dup: $got")
    // disjoint-id guard
    intercept[IllegalArgumentException] {
      SimilaritySearch.incrementalSemanticAccept(delta, delta,
        "vec_id", "embedding", dim = 4, bands = 4, bits = 6, threshold = 0.4)
    }
  }
}
