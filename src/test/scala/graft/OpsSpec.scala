package graft

import graft.ops._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level tests on tiny inline DataFrames, including brute-force
  * equivalence properties for the blocked/bucketed operators — the scale
  * tricks must not change semantics. */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Categorize.keywordLadder is first-match-wins with default") {
    val df = Seq("PROMO SMALL X", "plain large", "nothing").toDF("t")
      .withColumn("cat", Categorize.keywordLadder(col("t"),
        Seq("promo" -> "P", "small" -> "S", "large" -> "L"), "other"))
    assert(df.collect().map(_.getString(1)).toSeq == Seq("P", "L", "other"))
  }

  test("Normalize.normText is idempotent and alnumOnly strips symbols") {
    val raw = Seq("  A   b\tC ", "x--y__z!!", "").toDF("t")
      .select(Normalize.normText(col("t")).as("n1"), Normalize.alnumOnly(col("t")).as("a"))
    val rows = raw.collect()
    assert(rows(0).getString(0) == "a b c")
    assert(rows(1).getString(1) == "xyz")
    // idempotence
    val again = raw.select(Normalize.normText(col("n1")).as("n2")).collect()
    assert(again.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq)
  }

  test("Normalize.abGroup is stable and lands in [0, groups)") {
    val df = (1 to 200).map(i => s"user_$i").toDF("t")
      .withColumn("g", Normalize.abGroup(col("t"), 10))
    val gs = df.collect().map(_.getLong(1))
    assert(gs.forall(g => g >= 0 && g < 10))
    assert(gs.distinct.length == 10) // 200 keys hit every bucket w.h.p.
    val gs2 = df.withColumn("g2", Normalize.abGroup(col("t"), 10)).collect().map(_.getLong(2))
    assert(gs.toSeq == gs2.toSeq)
  }

  test("TimeJoins.proximityPairs equals brute force on random data (incl. negative times)") {
    val rnd = new scala.util.Random(42)
    // negative times exercise the truncated-division bucket boundary at zero
    val events = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(3).toString, rnd.nextLong(100000L) - 50000L))
    val df = events.toDF("id", "key", "us")
    val tol = 5000L
    val got = TimeJoins.proximityPairs(df, Seq("key"), "us", "id", tol)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (i1, k1, t1) <- events; (i2, k2, t2) <- events
      if k1 == k2 && i1 < i2 && math.abs(t1 - t2) <= tol
    } yield (i1, i2)).toSet
    assert(got == brute)
  }

  test("TimeJoins.asOf picks the latest right row at-or-before, deterministically") {
    val left = Seq((1L, 100L), (1L, 50L), (2L, 10L)).toDF("l_key", "l_us")
      .withColumn("l_id", monotonically_increasing_id())
    val right = Seq((1L, 90L, "a"), (1L, 90L, "b"), (1L, 20L, "c"), (2L, 50L, "d"))
      .toDF("r_key", "r_us", "r_tag")
      .withColumn("r_id", col("r_us") + when(col("r_tag") === "b", 1).otherwise(0))
    val out = TimeJoins.asOf(left, right, "l_key", "r_key", "l_us", "r_us", "r_id", "l_id")
      .select("l_key", "l_us", "r_tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // left (1,100) → right at 90, tie between a/b broken by r_id → "a"
    // left (1,50)  → right at 20 → "c"; left (2,10) → nothing (inner)
    assert(out == Set((1L, 100L, "a"), (1L, 50L, "c")))
  }

  test("Dedup: minhash-LSH candidates + exact jaccard find the true near-dup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely different words about spark query engines and columnar scans"),
      (4L, "another unrelated sentence mentioning databases joins and aggregations")
    ).toDF("doc_id", "text")
    val shRaw = Dedup.shingles(docs, "doc_id", "text", 3, dedup = false)
    val mh = Dedup.minhash(shRaw, "doc_id", 8)
    val cands = Dedup.lshCandidates(Dedup.lshBands(mh, "doc_id", 2, 8), "doc_id")
    val verified = Dedup.jaccardFor(cands, shRaw, "doc_id")
      .filter(col("jaccard") >= 0.5).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((1L, 2L)))
  }

  test("Dedup.simhash16: identical texts agree, disjoint texts differ") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sig = Dedup.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    assert(sig.values.forall(s => s >= 0 && s < 65536))
  }

  test("Dedup.simhash64NearDup: near-identical docs pair up, unrelated ones don't") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank every single morning"
    val docs = Seq(
      (1L, base),
      (2L, base + " now"), // one-token edit: few bit flips
      (3L, "completely different words about spark query engines and columnar scan performance"),
      (4L, base) // identical: hamming 0
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhash64NearDup(docs, "doc_id", "text", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 0L)
    assert(pairs.keySet.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L, 4L)) })
    val sig = Dedup.simhash64BandsFromCounts(
      Dedup.wordCounts(docs, "doc_id", "text"), "doc_id").collect()
    assert(sig.forall(r => (0 until 4).forall(k => r.getInt(k + 1) >= 0 && r.getInt(k + 1) < 65536)))
  }

  test("FloatDot matches the SQL zip_with fold bit-for-bit, null-safe") {
    graft.plans.FloatDot.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { _ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
    val sqlFold =
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    val mismatches = df.select(expr("float_dot(a, b)").as("fast"), expr(sqlFold).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0)
    val nulls = df.limit(1).select(expr("float_dot(a, NULL)")).collect()
    assert(nulls.head.isNullAt(0))
    // SQL-fold null semantics: zip_with pads a length mismatch with nulls and
    // the + fold swallows the sum to NULL; a null element does the same.
    val edge = spark.sql(
      """SELECT float_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |                 CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)) AS mismatch,
        |       float_dot(CAST(array(1.0, NULL) AS ARRAY<FLOAT>),
        |                 CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)) AS nullElem,
        |       float_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |                 CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS ok
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getDouble(2) == 11.0)
  }

  test("Aggregators.topK is partitioning-independent and breaks ties by id") {
    val df = (1 to 200).map(i => (i % 5, (i % 17).toDouble, i.toLong))
      .toDF("g", "score", "id")
    def run(parts: Int) = df.repartition(parts)
      .groupBy(col("g")).agg(graft.ops.Aggregators.topK(3)(col("score"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("g"), col("pos"), col("s.score"), col("s.id"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
    val expected = (1 to 200).map(i => (i % 5, (i % 17).toDouble, i.toLong))
      .groupBy(_._1).flatMap { case (g, rows) =>
        rows.sortBy(r => (-r._2, r._3)).take(3).zipWithIndex
          .map { case (r, pos) => (g, pos, r._2, r._3) }
      }.toSet
    assert(run(1) == expected)
    assert(run(7) == expected)
  }

  test("SimilaritySearch.topKNeighbors ranks an identical vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),   // identical → cos 1
      (2L, Array(0.0f, 1.0f, 0.0f), 0),   // orthogonal → cos 0
      (3L, Array(-1.0f, 0.0f, 0.0f), 0),  // opposite → cos -1
      (4L, Array(1.0f, 1.0f, 0.0f), 0)    // cos ~0.7071
    ).toDF("vec_id", "embedding", "label")
    val out = SimilaritySearch.topKNeighbors(emb, "vec_id", "embedding", 0L, 3)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 2L))
    assert(out(0)._2 == 1.0)
    assert(math.abs(out(1)._2 - 0.707107) < 1e-6)
  }

  test("Multimodal.decodeStub is deterministic and schema-complete") {
    val docs = Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "text")
    val media = Multimodal.asBinaryTable(docs, "doc_id", "text")
    val metas = Multimodal.decodeStub(spark, media, "doc_id").collect().sortBy(_.docId)
    assert(metas.length == 2)
    assert(metas(0).byteLen == 5)
    assert(metas.forall(m => m.width >= 64 && m.width < 128))
    val again = Multimodal.decodeStub(spark, media, "doc_id").collect().sortBy(_.docId)
    assert(metas.toSeq == again.toSeq)
  }

  test("TextAnalysis: langId picks marker language, tokens counted consistently") {
    val df = Seq("the cat and the dog of a house", "der hund und die katze",
      "xyzzy plugh").toDF("text")
      .select(TextAnalysis.langId("text").as("lang"),
        TextAnalysis.wsTokens(col("text")).as("n"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows(0)._1 == "en" && rows(0)._2 == 8)
    assert(rows(1)._1 == "de" && rows(1)._2 == 5)
    assert(rows(2)._1 == "und")
  }

  test("Windows.sessionize matches a brute-force scan on random data") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(100000).toLong))
    val df = rows.toDF("eid", "k", "us")
    val gap = 5000L
    val got = Windows.sessionize(df, col("k"), col("us"), col("eid"), gap)
      .select("eid", "session_no").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = rows.groupBy(_._2).flatMap { case (_, g) =>
      val sorted = g.sortBy(r => (r._3, r._1))
      var s = 0L
      var prev = Long.MinValue
      sorted.map { case (id, _, t) =>
        if (prev == Long.MinValue || t - prev > gap) s += 1
        prev = t
        id -> s
      }
    }
    assert(got == want)
  }

  test("TextAnalysis.packAssign chunks each source's token stream sequentially") {
    val df = Seq((1L, "s", 1000L), (2L, "s", 1500L), (3L, "s", 600L),
      (10L, "t", 2048L), (11L, "t", 1L)).toDF("doc_id", "source", "n_tokens")
    val got = TextAnalysis.packAssign(df, "source", "doc_id", col("n_tokens"), 2048L)
      .select("doc_id", "chunk_id", "chunk_offset").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((0L, 0L)))      // starts the stream
    assert(got(2L) == ((0L, 1000L)))   // starts in chunk 0, straddles into 1
    assert(got(3L) == ((1L, 452L)))    // 2500 tokens before it
    assert(got(10L) == ((0L, 0L)))     // sources pack independently
    assert(got(11L) == ((1L, 0L)))     // exactly-full chunk rolls over
  }

  test("packAssignSharded equals packAssign on random data, any shard width") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 500).map(i =>
      (i.toLong * 7 % 1000, s"src${i % 3}", rnd.nextInt(3000).toLong + 1))
      .distinct.toDF("doc_id", "source", "n_tokens")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "chunk_id", "chunk_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = canon(TextAnalysis.packAssign(df, "source", "doc_id", col("n_tokens"), 2048L))
    for (w <- Seq(1L, 13L, 64L, 100000L)) {
      val sharded = canon(TextAnalysis.packAssignSharded(
        df, "source", "doc_id", col("n_tokens"), 2048L, idWidth = w))
      assert(sharded == plain, s"idWidth=$w")
    }
  }

  test("TextAnalysis.contamination counts shared distinct shingles per doc") {
    val train = Seq((1L, "a b c d e f"), (2L, "x y z w q")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val got = TextAnalysis.contamination(train, bench, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0.5))) // "a b c d e" shared, "b c d e f" not
    assert(got(2L) == ((1L, 0L, 0.0)))
  }

  test("TextAnalysis.dsirScores matches a driver-side reference computation") {
    val B = 64
    val docs = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog ran fast", true),
      (3L, "lorem ipsum dolor sit amet", false),
      (4L, "cat dog lorem the", false))
    val df = docs.map { case (i, t, _) => (i, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.dsirScores(df, "doc_id", "text", col("doc_id") <= 2, B)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // reference computation: buckets come from the same engine expression,
    // the ratio/scoring math is recomputed independently with BigDecimal
    val words = docs.flatMap { case (i, t, tgt) => t.split(" ").map(w => (i, tgt, w)) }
    val bmap = words.map(_._3).distinct.toDF("w")
      .select(col("w"), Normalize.hashBucket(col("w"), B).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ct = words.filter(_._2).groupBy(w => bmap(w._3)).view.mapValues(_.size).toMap
    val cr = words.filterNot(_._2).groupBy(w => bmap(w._3)).view.mapValues(_.size).toMap
    val (tt, tr) = (words.count(_._2), words.count(!_._2))
    def lam(b: Long): BigDecimal = BigDecimal(
      math.log((ct.getOrElse(b, 0) + 1).toDouble / (tt + B)) -
      math.log((cr.getOrElse(b, 0) + 1).toDouble / (tr + B)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    for ((id, _, _) <- docs.map(d => (d._1, d._2, d._3)).distinct) {
      val mine = words.filter(_._1 == id)
      val score = mine.map(w => lam(bmap(w._3))).sum.toDouble
      val (isT, nW, s, tl) = got(id)
      assert(isT == docs.find(_._1 == id).get._3)
      assert(nW == mine.size.toLong)
      assert(s == score, s"doc $id")
      assert(tl == (score > 0))
    }
  }

  test("Multimodal.frameNearDups finds shared frames, skips distant ones") {
    val block = ("abc def ghi " * 22).take(256) // one full frame
    val other = ("zzz yyy xxx " * 22).take(256)
    val df = Seq(
      (1L, block + other),        // frames: [block][other]
      (2L, block),                // shares frame 'block' with doc 1
      (3L, "0123456789 " * 23),   // digit-heavy: far from both in histogram
      (4L, other)                 // shares frame 'other' with doc 1
    ).toDF("doc_id", "text")
    val got = Multimodal.frameNearDups(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)) && got.contains((1L, 4L)))
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // identical frames land in the same cell at distance 0
    assert(got((1L, 2L)) >= 1L && got((1L, 4L)) >= 1L)
  }

  test("TextAnalysis.contaminationBloom equals contamination, even at fpp 0.5") {
    val rnd = new scala.util.Random(7)
    def doc(i: Int) = (i.toLong,
      (1 to 20).map(_ => s"w${rnd.nextInt(40)}").mkString(" "))
    val train = (1 to 30).map(doc).toDF("doc_id", "text")
    val bench = (100 to 104).map(doc).toDF("doc_id", "text")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val exact = canon(TextAnalysis.contamination(train, bench, "doc_id", "text", 3))
    // fpp 0.5 floods the bloom with false positives; the verify join must
    // still make the output byte-identical to the exact path
    for (fpp <- Seq(0.01, 0.5)) {
      val got = canon(TextAnalysis.contaminationBloom(
        train, bench, "doc_id", "text", 3, fpp = fpp))
      assert(got == exact, s"fpp=$fpp")
    }
  }

  test("TextAnalysis.dupSubstringRuns merges overlapping runs exactly") {
    val df = Seq(
      (1L, "a b c d e f g"),          // dup grams at pos 0,1 -> one span [0,3]
      (2L, "x a b c d y z"),          // dup grams at pos 1,2 -> one span [1,4]
      (3L, "p q"),                    // < k tokens: zero row
      (5L, "a b c q r s t a b c")     // self-repeat: spans [0,2] and [7,9]
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupSubstringRuns(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    // doc1: "a b c","b c d" duplicated (shared with doc2/doc5) -> intervals
    // [0,2],[1,3] merge to cover 4 of 7 tokens
    assert(got(1L) == ((7L, 2L, 1L, 4L, 0.571429, true)))
    assert(got(2L) == ((7L, 2L, 1L, 4L, 0.571429, true)))
    assert(got(3L) == ((2L, 0L, 0L, 0L, 0.0, false)))
    // doc5: "a b c" twice within the doc -> two separated spans of 3
    assert(got(5L) == ((10L, 2L, 2L, 3L, 0.6, true)))
  }

  test("TextAnalysis.dupSubstringRuns equals a naive reference on random corpora") {
    val k = 3
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
      val docs = (1 to 30).map(i =>
        (i.toLong, Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      // independent naive reference: occurrence-counted grams, interval merge
      val grams = docs.flatMap { case (id, t) =>
        val w = t.split(" ")
        if (w.length < k) Seq.empty
        else (0 to w.length - k).map(i => (id, i, w.slice(i, i + k).mkString(" ")))
      }
      val freq = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val want = docs.map { case (id, t) =>
        val w = t.split(" ")
        val dupPos =
          if (w.length < k) Seq.empty[Int]
          else (0 to w.length - k).filter(i => freq(w.slice(i, i + k).mkString(" ")) >= 2)
        var spans = List.empty[(Int, Int)]
        dupPos.foreach { p =>
          val e = p + k - 1
          spans = spans match {
            case (s0, e0) :: rest if p <= e0 + 1 => (s0, math.max(e0, e)) :: rest
            case other => (p, e) :: other
          }
        }
        val covered = spans.map { case (s, e) => e - s + 1 }.sum
        val longest = spans.map { case (s, e) => e - s + 1 }.foldLeft(0)(math.max)
        id -> ((w.length.toLong, dupPos.size.toLong, spans.size.toLong, longest.toLong,
          BigDecimal(covered.toDouble / w.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
      val got = TextAnalysis.dupSubstringRuns(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("TextAnalysis.scrubDupSpans rewrites text minus merged dup spans") {
    val df = Seq(
      (1L, "a b c d e f g"),          // span [0,3] -> keeps "e f g"
      (2L, "x a b c d y z"),          // span [1,4] -> keeps "x y z"
      (3L, "p q"),                    // < k tokens: verbatim
      (5L, "a b c q r s t a b c")     // spans [0,2],[7,9] -> keeps middle
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubDupSpans(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((7L, 4L, "e f g")))
    assert(got(2L) == ((7L, 4L, "x y z")))
    assert(got(3L) == ((2L, 0L, "p q")))
    assert(got(5L) == ((10L, 6L, "q r s t")))
  }

  test("TextAnalysis.scrubDupSpans equals a naive reference on random corpora") {
    val k = 3
    for (seed <- Seq(4, 5, 6)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f")
      val docs = (1 to 30).map(i =>
        (i.toLong, Seq.fill(rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val grams = docs.flatMap { case (_, t) =>
        val w = t.split(" ")
        if (w.length < k) Seq.empty
        else (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" "))
      }
      val freq = grams.groupBy(identity).view.mapValues(_.size).toMap
      val want = docs.map { case (id, t) =>
        val w = t.split(" ")
        val covered =
          if (w.length < k) Set.empty[Int]
          else (0 to w.length - k)
            .filter(i => freq(w.slice(i, i + k).mkString(" ")) >= 2)
            .flatMap(i => i until i + k).toSet
        val keep = w.indices.filterNot(covered)
        id -> ((w.length.toLong, covered.size.toLong,
          keep.map(w(_)).mkString(" ")))
      }.toMap
      val got = TextAnalysis.scrubDupSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("TextAnalysis.dupNgramStats measures repetition exactly") {
    val df = Seq(
      (1L, "a b a b a b"),   // 3-grams: aba, bab, aba, bab -> 4 total, 2 distinct
      (2L, "p q r s"),       // pqr, qrs -> all distinct
      (3L, "x y")            // < k words: excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupNgramStats(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 2L, 0.5)))
    assert(got(2L) == ((2L, 2L, 0.0)))
    assert(!got.contains(3L))
  }

  test("TextAnalysis.repetitionStats measures head concentration exactly") {
    val distinct20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "a a a b"),   // top word a: 3/4; distinct 2/4; bigrams aa,aa,ab -> 2/3
      (2L, distinct20),  // all distinct: 1/20, 20/20, 1/19
      (3L, "solo")       // single word: no bigram row -> frac 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))).toMap
    assert(got(1L) == ((4L, 0.75, 0.5, 0.666667, true)))
    assert(got(2L) == ((20L, 0.05, 1.0, 0.052632, false)))
    assert(got(3L) == ((1L, 1.0, 1.0, 0.0, true)))
  }

  test("TextAnalysis.splitAssign groups exact duplicates into one split") {
    // inline dups: identical text under different ids MUST share a split
    val df = Seq((1L, "s0", "Hello  World"), (2L, "s1", "hello world"),
      (3L, "s0", "another document entirely")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.splitAssign(df, "doc_id", "source", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getString(3)))).toMap
    assert(got(1L) == got(2L))   // same fp (normText collapses case/ws) -> same split
    // real corpus: every fingerprint lands in exactly one split, all splits used
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val real = TextAnalysis.splitAssign(docs, "doc_id", "source", "text")
    val perFp = real.groupBy(col("fp"))
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    assert(perFp == 0)
    assert(real.select("split").distinct().count() == 3)
  }

  test("TextAnalysis.shuffleRank is a deterministic permutation = naive rank") {
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val got = TextAnalysis.shuffleRank(df, "doc_id", "shuffle")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // exactly the positions 1..N, no gaps or dups
    assert(got.values.toSeq.sorted == (1L to 300L).toSeq)
    // equals the naive single-partition window rank
    val naive = df.withColumn("p", row_number().over(
        Window.orderBy(TextAnalysis.hashUnit(col("doc_id"), "shuffle"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == naive)
    // partitioning-independent
    val again = TextAnalysis.shuffleRank(df.repartition(7), "doc_id", "shuffle")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("TextAnalysis.unigramSurprisal computes mean -log2 p(word) exactly") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2, b=2, c=1, total=5; bits(a)=bits(b)=1.3219, bits(c)=2.3219
    val got = TextAnalysis.unigramSurprisal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, 1.3219)))
    assert(got(2L) == ((2L, 1.8219)))
  }

  test("Dedup.containmentPairs surfaces a planted quote at containment 1.0") {
    val quote = "unique rare tokens forming the quoted passage body"
    val docs = Seq(
      (1L, quote),                                            // the short doc
      (2L, s"long wrapper document begins here $quote and then continues onward"),
      (3L, "entirely unrelated filler content with other words"),
      (4L, "more unrelated filler prose that shares nothing at all")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 3, maxDf = 4, floor = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(r.fieldIndex("containment_a")), r.getDouble(r.fieldIndex("jaccard"))))).toMap
    // doc 1's shingles all appear in doc 2: containment_a = 1.0 even though
    // jaccard is well under any near-dup threshold — the regime the rare-
    // shingle blocking exists for
    assert(got.contains((1L, 2L)), s"planted quote pair missing: ${got.keySet}")
    val (ca, j) = got((1L, 2L))
    assert(ca == 1.0)
    assert(j < 0.8)
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L || a == 4L || b == 4L })
  }

  test("Dedup.incrementalNearDup equals the full LSH restricted to cross-side pairs") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val inc = Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 3, numHashes = 8, bandSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(r.fieldIndex("jaccard"))))).toMap
    // full corpus-wide pipeline (the d2 shape), then keep cross-side pairs
    val shAll = Dedup.shingles(docs, "doc_id", "text", 3, dedup = false)
    val mh = Dedup.minhash(shAll, "doc_id", 8).localCheckpoint(true)
    val cands = Dedup.lshCandidates(Dedup.lshBands(mh, "doc_id", 2, 8), "doc_id")
      .localCheckpoint(true)
    val full = Dedup.jaccardFor(cands, shAll, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(r.fieldIndex("jaccard"))))).toMap
    val crossFull = full.collect {
      case ((a, b), v) if a % 5 == 0 && b % 5 != 0 => (a, b) -> v
      case ((a, b), v) if b % 5 == 0 && a % 5 != 0 => (b, a) -> v
    }.toMap
    assert(inc == crossFull)
    // a generous maxBucket (no bucket exceeds it) is bit-identical
    val capped = Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", 3, numHashes = 8, bandSize = 2, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(r.fieldIndex("jaccard"))))).toMap
    assert(capped == inc)
  }

  test("incrementalNearDup maxBucket: boilerplate delta still caught via representatives") {
    val boiler = "the same boilerplate paragraph repeated across many pages " * 3
    val corpus = (100L until 140L).map(i => (i, boiler)).toDF("doc_id", "text")
    val delta = Seq((1L, boiler), (2L, "a completely different unique document text here"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(delta, corpus, "doc_id", "text",
        3, numHashes = 8, bandSize = 2, maxBucket = 4)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate copy matches only the <= 4 representatives (min ids)
    assert(got.nonEmpty && got.forall { case (a, b) => a == 1L && b < 104L },
      s"got $got")
  }

  test("TextAnalysis.globalTokenBudget = naive global cumsum, boundary-exact") {
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 300L).map(i => (i, (i % 17) + 1)).toDF("doc_id", "n")
    val budget = 900L
    val got = TextAnalysis.globalTokenBudget(df, "doc_id", col("n"), budget, "b")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val naive = df
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(TextAnalysis.hashUnit(col("doc_id"), "b"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == naive)
    assert(got.nonEmpty && got.values.max <= budget)
  }

  test("TextAnalysis.hashUnit is deterministic, in-range, and salt-sensitive") {
    val df = (1L to 500L).toDF("id")
    val h1 = df.select(TextAnalysis.hashUnit(col("id"), "s1").as("h")).collect().map(_.getLong(0))
    val h2 = df.select(TextAnalysis.hashUnit(col("id"), "s1").as("h")).collect().map(_.getLong(0))
    val h3 = df.select(TextAnalysis.hashUnit(col("id"), "s2").as("h")).collect().map(_.getLong(0))
    assert(h1.toSeq == h2.toSeq)
    assert(h1.toSeq != h3.toSeq)
    assert(h1.forall(h => h >= 0 && h < (1L << 24)))
    // roughly uniform: half the keys land under the midpoint (binomial, wide margin)
    val below = h1.count(_ < (1L << 23))
    assert(below > 150 && below < 350, s"below=$below")
  }

  test("TextAnalysis.mixThresholdCol keeps rate-1.0 sources entirely") {
    val df = (0L until 100L).map(i => (i, "src0")).toDF("doc_id", "source")
    val kept = df.filter(
      TextAnalysis.hashUnit(col("doc_id"), "mix") < TextAnalysis.mixThresholdCol(col("source")))
    assert(kept.count() == 100) // rate 1.0 -> threshold 2^24 keeps every draw
  }

  test("TextAnalysis.quotaSample two-level rank equals the naive window rank") {
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 500L).map(i => (i, s"s${i % 3}")).toDF("id", "st")
    val quota = when(col("st") === "s0", 40L).when(col("st") === "s1", 7L).otherwise(500L)
    val got = TextAnalysis.quotaSample(df, "st", "id", quota, "qq")
      .select("id", "st", "sample_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val naive = df
      .withColumn("__h", TextAnalysis.hashUnit(col("id"), "qq"))
      .withColumn("sample_rank",
        row_number().over(Window.partitionBy("st").orderBy(col("__h"), col("id"))).cast("long"))
      .filter(col("sample_rank") <= quota)
      .select("id", "st", "sample_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == naive)
    // exact sizes: min(quota, stratum size); s2 quota 500 > its ~166 rows
    val bySt = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySt("s0") == 40 && bySt("s1") == 7 && bySt("s2") == df.filter(col("st") === "s2").count())
    // partitioning-independent
    val re = TextAnalysis.quotaSample(df.repartition(13), "st", "id", quota, "qq")
      .select("id", "st", "sample_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(re == got)
  }

  test("Bpe.learnMerges equals a sequential reference BPE, incl. equal-run greedy") {
    // independent reference: Sennrich '16 get_stats + greedy merge_vocab,
    // written as the textbook sequential loop
    def refBpe(words: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
      var vocab = words.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      for (_ <- 1 to k) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) =
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
        if (counts.nonEmpty) {
          val ((a, b), pc) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
          out += ((a, b, pc))
          vocab = vocab.map { case (syms, c) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                nb += (a + b); i += 2
              } else { nb += syms(i); i += 1 }
            }
            (nb.result(), c)
          }
        }
      }
      out.toSeq
    }
    // aaaa/aaa exercise the equal-pair greedy path (runs merge at even
    // offsets); low/lower/lowest force multi-round merged-symbol reuse
    val texts = Seq("low lower lowest low", "new newer newest",
      "aaaa aaa aa low", "banana bandana newer")
    val words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val expected = refBpe(words, 6)
    val got = graft.ops.Bpe.learnMerges(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        "text", merges = 6)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("Bpe.encodeStats matches sequential greedy encoding and partitions every word") {
    val texts = Seq("low lower lowest low", "new newer newest",
      "aaaa aaa aa low", "banana bandana newer")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = graft.ops.Bpe.learnMerges(df, "text", merges = 6)
      .orderBy("merge_rank").collect().map(r => (r.getString(1), r.getString(2)))
    // sequential reference: apply each learned merge greedily, in rank order
    def encode(w: String): Vector[String] = {
      var syms = w.map(_.toString).toVector
      for ((a, b) <- merges) {
        val nb = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            nb += (a + b); i += 2
          } else { nb += syms(i); i += 1 }
        }
        syms = nb.result()
      }
      syms
    }
    val got = graft.ops.Bpe.encodeStats(df, "id", "text", merges = 6)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    for ((t, i) <- texts.zipWithIndex) {
      val ws = t.split(" ").filter(_.nonEmpty).toSeq
      val toks = ws.map(encode)
      // tokens of each word re-concatenate to the word — no char lost/duped
      assert(toks.zip(ws).forall { case (ts, w) => ts.mkString == w })
      assert(got(i.toLong) == ((ws.size.toLong, ws.map(_.length).sum.toLong,
        toks.map(_.size.toLong).sum)))
    }
    // the stored-merge-table path (warehouse lifecycle) agrees with the
    // joint learn+encode path — including on a corpus with unseen words
    // (merges that never fire must be no-ops)
    val mt = graft.ops.Bpe.learnMerges(df, "text", merges = 6)
    val viaTable = graft.ops.Bpe.encodeStatsWith(df, "id", "text", mt)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(viaTable == got)
    val unseen = Seq((9L, "zq low zq")).toDF("id", "text")
    val u = graft.ops.Bpe.encodeStatsWith(unseen, "id", "text", mt)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    // "zq" stays 2 chars/2 tokens per occurrence; "low" merges as learned
    assert(u == ((3L, 7L, 4L + encode("low").size)))
  }

  test("Percentiles.disc equals percentile_disc exactly, partitioning-independent") {
    val rnd = new scala.util.Random(11)
    // heavy duplication (50 distinct values) — the histogram must collapse
    // them and still land on the same element percentile_disc picks
    val rows = (1 to 500).map(i => (s"g${i % 4}", (rnd.nextInt(50) - 10).toDouble)) ++
      Seq(("solo", 7.0)) // n=1 group: every rank picks the only value
    val df = rows.toDF("g", "v")
      .unionByName(Seq(("g0", Option.empty[Double])).toDF("g", "v")) // null excluded
    val fr = Seq(("p25", 25, 100), ("p50", 50, 100), ("p90", 90, 100), ("p100", 1, 1))
    val ref = df.groupBy(col("g")).agg(
        count(col("v")).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90"),
        expr("percentile_disc(1.0) WITHIN GROUP (ORDER BY v)").as("p100"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    def run(d: org.apache.spark.sql.DataFrame) =
      Percentiles.disc(d, Seq("g"), "v", fr)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    val got = run(df)
    assert(got == ref)
    assert(run(df.repartition(13)) == got)
    // a coarser band is semantics-preserving (only tunes the base frame)
    val coarse = Percentiles.disc(df, Seq("g"), "v", fr,
        band = v => floor(v / 7).cast("long"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    assert(coarse == ref)
  }

  test("Bpe.encodeWord is exact rank-order application, incl. adversarial tables") {
    // well-formed table: (l,o)->lo rank1, (lo,w)->low rank2
    val wf = Map(("l", "o") -> 1L, ("lo", "w") -> 2L)
    assert(graft.ops.Bpe.encodeWord("lowlow", wf).toSeq == Seq("low", "low"))
    // equal-pair greedy: aa merges the EVEN offsets of each run
    assert(graft.ops.Bpe.encodeWord("aaaaa", Map(("a", "a") -> 1L)).toSeq ==
      Seq("aa", "aa", "a"))
    // ADVERSARIAL: rank 1 ("ab","c") names a symbol only CREATED by rank 2
    // ("a","b"). Rank-order semantics: at rank 1 "ab" is not a symbol (no-op);
    // rank 2 merges a+b; rank 1 must NOT fire afterwards — the loop already
    // passed it. A cursor-less min-rank encoder would wrongly produce ["abc"].
    val adv = Map(("ab", "c") -> 1L, ("a", "b") -> 2L)
    assert(graft.ops.Bpe.encodeWord("abc", adv).toSeq == Seq("ab", "c"))
  }

  test("Bpe.encodeStatsWith job count is O(1) in the merge-table size") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val texts = Seq("low lower lowest low", "new newer newest",
      "aaaa aaa aa low", "banana bandana newer")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val mt = graft.ops.Bpe.learnMerges(df, "text", merges = 6).localCheckpoint(true)
    // pad with ~200 inert ranks (symbols that never occur) — same encoding
    val filler = (100 to 300).map { k =>
      (k.toLong, k.toString, k.toString, k.toString * 2, 1L)
    }.toDF("merge_rank", "left", "right", "merged", "pair_count")
    val big = mt.unionByName(filler).localCheckpoint(true)
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // listener bus is async: poll until the count is stable
        var last = -1
        var spins = 0
        while (n.get != last && spins < 50) {
          last = n.get; spins += 1; Thread.sleep(100)
        }
      } finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val smallJobs = countJobs(
      graft.ops.Bpe.encodeStatsWith(df, "id", "text", mt).collect())
    val bigJobs = countJobs(
      graft.ops.Bpe.encodeStatsWith(df, "id", "text", big).collect())
    // the old per-merge relational loop ran one localCheckpoint JOB per merge
    // (~200 extra here); the one-pass form is flat in K
    assert(bigJobs <= smallJobs + 1, s"jobs grew with K: $smallJobs -> $bigJobs")
    // and the inert ranks change nothing semantically
    val a = graft.ops.Bpe.encodeStatsWith(df, "id", "text", mt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = graft.ops.Bpe.encodeStatsWith(df, "id", "text", big)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("TextAnalysis.passageWindows: total coverage, exact overlap, short docs") {
    import graft.ops.TextAnalysis
    val words49 = (1 to 49).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words49), (2L, "just three words"), (3L, "")).toDF("id", "t")
    val out = TextAnalysis.passageWindows(df, "id", "t", width = 32, stride = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = out.groupBy(_._1)
    // 49 tokens, width 32, stride 16 -> 3 windows: [0,32) [16,48) [32,49)
    val w1 = byDoc(1L).sortBy(_._2)
    assert(w1.map(w => (w._2, w._3)).toSeq == Seq((0L, 32L), (1L, 32L), (2L, 17L)))
    assert(w1(1)._4.split(" ").head == "w17") // window 1 starts at token 17
    assert(w1(2)._4.split(" ").last == "w49") // final token covered
    // overlap: the second half of window 0 IS the first half of window 1
    assert(w1(0)._4.split(" ").drop(16).toSeq == w1(1)._4.split(" ").take(16).toSeq)
    // shorter than width -> exactly one full-doc window; empty text -> one
    // 1-token window of "" (split of "" is [""], same contract both engines)
    assert(byDoc(2L).toSeq == Seq((2L, 0L, 3L, "just three words")))
    assert(byDoc(3L).toSeq == Seq((3L, 0L, 1L, "")))
  }

  test("TextAnalysis.bigramSurprisal scores the corpus-conditional model") {
    import graft.ops.TextAnalysis
    // corpus: after "a", "b" occurs 3x and "c" 1x -> p(b|a)=0.75, p(c|a)=0.25
    val df = Seq((1L, "a b a b"), (2L, "a b a c")).toDF("id", "t")
    val out = TextAnalysis.bigramSurprisal(df, "id", "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc1 bigrams: (a,b)x2, (b,a)x1 -> bits: 2*-log2(.75) + 1*-log2(1.0)
    val b75 = -math.log(0.75) / math.log(2.0)
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - (2 * b75) / 3.0) < 1e-4)
    // doc2: (a,b)x1, (b,a)x1, (a,c)x1 -> (b75 + 0 + 2.0) / 3
    assert(out(2L)._1 == 3L)
    assert(math.abs(out(2L)._2 - (b75 + 2.0) / 3.0) < 1e-4)
    // a one-word doc has no bigrams and drops out entirely
    assert(!TextAnalysis.bigramSurprisal(
      Seq((9L, "solo")).toDF("id", "t"), "id", "t").collect().exists(_ => true))
  }

  test("TextAnalysis.knSurprisal: all three Kneser–Ney branches, hand-worked") {
    import graft.ops.TextAnalysis
    // model slice (m=true): c12 = {(a,b):3, (b,a):2, (a,c):1}
    //   ctx: a -> c1=4, n1f=2; b -> c1=2, n1f=1
    //   cont: n1p(a)=n1p(b)=n1p(c)=1; T=3, V=3 -> Pc(seen)=2/7, Pc(OOV)=1/7
    val df = Seq(
      (1L, true, "a b a b"), (2L, true, "a b a c"), // model
      (3L, false, "a b"),  // seen bigram:    p = 9/16 + (6/16)*(2/7)
      (4L, false, "a z"),  // unseen bigram, seen ctx: p = (6/16)*(1/7)
      (5L, false, "z a")   // unseen context: p = Pc(a) = 2/7
    ).toDF("id", "m", "t")
    val out = TextAnalysis.knSurprisal(df, "id", "t", col("m")).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    def bits(p: Double): Double = -math.log(p) / math.log(2.0)
    assert(out(3L)._1 == false && out(3L)._2 == 1L && out(3L)._3 == 0L)
    assert(math.abs(out(3L)._4 - bits(9.0 / 16 + 6.0 / 16 * 2 / 7)) < 1e-4)
    assert(out(4L)._3 == 1L) // unseen bigram counts as OOV
    assert(math.abs(out(4L)._4 - bits(6.0 / 16 * 1 / 7)) < 1e-4)
    assert(out(5L)._3 == 1L)
    assert(math.abs(out(5L)._4 - bits(2.0 / 7)) < 1e-4)
    // model doc scores itself under the discounted model (never -inf/0)
    val d1 = out(1L)
    assert(d1._1 == true && d1._2 == 3L && d1._3 == 0L)
    val exp1 = (2 * bits(9.0 / 16 + 6.0 / 16 * 2 / 7) +
      bits(5.0 / 8 + 3.0 / 8 * 2 / 7)) / 3
    assert(math.abs(d1._4 - exp1) < 1e-4)
    // one-word docs drop out (the t18 contract); null text is guarded
    assert(TextAnalysis.knSurprisal(
      Seq((9L, true, "solo"), (10L, true, null.asInstanceOf[String]))
        .toDF("id", "m", "t"), "id", "t", col("m")).count() == 0L)
    // EMPTY model slice degrades to the uniform floor (T=V=0 -> Pc=1, 0
    // bits), never NULL — every scored bigram is OOV
    val noModel = TextAnalysis.knSurprisal(
      Seq((1L, false, "a b c")).toDF("id", "m", "t"), "id", "t", col("m"))
      .collect().head
    assert(noModel.getLong(2) == 2L && noModel.getLong(3) == 2L &&
      noModel.getDouble(4) == 0.0)
  }

  test("TextAnalysis.phraseSearch: positional chain == shingle count, overlaps, ties") {
    import graft.ops.TextAnalysis
    // "x y" occurs 3x across docs (the argmax); "a b" only 2x
    val df = Seq(
      (1L, "x y a b x y"),   // two occurrences, first at 0
      (2L, "q x y r"),       // one, at 1
      (3L, "a b q r"),       // no match -> excluded
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(df, "doc_id", "text", phraseLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(got == Set((1L, 2L, 0L, "x y"), (2L, 1L, 1L, "x y")))
    // OVERLAPPING occurrences all count: "a a a" has "a a" at pos 0 AND 1
    val ov = TextAnalysis.phraseSearch(
      Seq((9L, "a a a")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(ov == Seq((2L, 0L)))
    // argmax tie (both bigrams once): the smaller string wins
    val tie = TextAnalysis.phraseSearch(
      Seq((1L, "b a"), (2L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .collect().map(_.getString(3)).distinct.toSeq
    assert(tie == Seq("a b"))
  }

  test("TextAnalysis.dedupPassages drops corpus-wide boilerplate, keeps order") {
    // width=2 passages; "x y" appears in 3 docs -> boilerplate at minDf=3
    val df = Seq(
      (1L, "x y a b c"),   // passages: "x y" | "a b" | "c"
      (2L, "x y d e"),     //           "x y" | "d e"
      (3L, "p q x y"),     //           "p q" | "x y"
      (4L, "x y")          //           "x y" only -> wiped to ""
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupPassages(df, "doc_id", "text", width = 2, minDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (1L, 3L, 1L, "a b c"),
      (2L, 2L, 1L, "d e"),
      (3L, 2L, 1L, "p q"),
      (4L, 1L, 1L, "")))
  }

  test("Anonymize.scrubPii lifts emails and phones as units, shreds digit runs") {
    val df = Seq(
      ("mail a.b+c@ex-1.example now", 1L, 0L),
      ("call +1-555-0042 or 44-123-9876", 0L, 2L),
      ("acct 123456 pin 99 clean words", 0L, 0L)
    ).toDF("t", "em", "ph")
    val rows = df.select(
      Anonymize.scrubPii(col("t")).as("s"),
      Anonymize.piiCount(col("t"), Anonymize.EmailRe).as("ne"),
      Anonymize.piiCount(col("t"), Anonymize.PhoneRe).as("np"),
      col("em"), col("ph")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "mail <EMAIL> now",
      "call <PHONE> or <PHONE>",
      "acct ### pin 99 clean words"))
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(3) && r.getLong(2) == r.getLong(4))
    }
  }

  test("Windows.funnel: first-touch anchor, strict order, per-step windows") {
    import graft.ops.Windows
    val W = 100L
    val ev = Seq(
      // u1: clean 3-step chain
      (1L, "view", 10L), (1L, "click", 50L), (1L, "buy", 120L),
      // u2: click BEFORE the first view never counts; the later one does
      (2L, "click", 5L), (2L, "view", 10L), (2L, "click", 60L), (2L, "buy", 100L),
      // u3: click outside the 100-unit window of the FIRST view -> depth 1,
      // even though a later view (t=200) would have completed the chain
      // (first-touch anchoring, pinned)
      (3L, "view", 10L), (3L, "view", 200L), (3L, "click", 250L),
      // u4: each window anchors on the PREVIOUS step's pick — the buy at
      // 108 is outside the view's window (10+100) but inside the click's
      (4L, "view", 10L), (4L, "click", 105L), (4L, "buy", 108L),
      // u5: never views -> no row at all
      (5L, "click", 10L), (5L, "buy", 20L)
    ).toDF("k", "t", "us")
    val got = Windows.funnel(ev, "k", "t", "us", Seq("view", "click", "buy"), W)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((Some(10L), Some(50L), Some(120L), 3L)))
    assert(got(2L) == ((Some(10L), Some(60L), Some(100L), 3L)))
    assert(got(3L) == ((Some(10L), None, None, 1L)))
    assert(got(4L) == ((Some(10L), Some(105L), Some(108L), 3L)))
    // depth 2: the buy falls outside the CLICK's window
    val g2 = Windows.funnel(
      Seq((7L, "view", 0L), (7L, "click", 50L), (7L, "buy", 151L))
        .toDF("k", "t", "us"),
      "k", "t", "us", Seq("view", "click", "buy"), W)
      .collect().map(r => (Option(r.get(3)), r.getLong(4))).head
    assert(g2 == ((None, 2L))) // buy at 151 > click 50 + 100 -> depth 2
  }

  test("Windows.scd2 collapses runs into versioned intervals, null-safely") {
    val df = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, null), (1L, 50L, 5L, null), (1L, 60L, 6L, "A"),
      (2L, 10L, 7L, "X"),
      (3L, 10L, 8L, null), (3L, 20L, 9L, "Z") // null attr on the key's FIRST row
    ).toDF("k", "ax", "tb", "attr")
    val got = Windows.scd2(df, "k", "ax", "tb", "attr")
      .select("k", "version", "attr", "ax", "valid_to").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)).orNull,
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    assert(got == Set(
      (1L, 1L, "A", 10L, 30L),   // run A collapses 10+20
      (1L, 2L, "B", 30L, 40L),
      (1L, 3L, null, 40L, 60L),  // null run collapses null-safely
      (1L, 4L, "A", 60L, -1L),   // open current version
      (2L, 1L, "X", 10L, -1L),
      (3L, 1L, null, 10L, 20L),  // leading null still opens version 1
      (3L, 2L, "Z", 20L, -1L)))
  }

  test("Anonymize: pseudonym stable, digits redacted, generalize handles negatives") {
    val df = Seq((42L, "Customer#000000042", -994.28), (7L, "Customer#000000007", 1500.0))
      .toDF("k", "name", "bal")
      .select(
        Anonymize.pseudonym(col("k"), "salt").as("p1"),
        Anonymize.pseudonym(col("k"), "salt").as("p2"),
        Anonymize.pseudonym(col("k"), "other").as("p3"),
        Anonymize.redactDigits(col("name")).as("red"),
        Anonymize.generalize(col("bal"), 1000L).as("bucket"))
    val rows = df.collect()
    assert(rows.forall(r => r.getString(0) == r.getString(1)))
    assert(rows.forall(r => r.getString(0) != r.getString(2)))
    assert(rows(0).getString(3) == "Customer#" + "#" * 9)
    assert(rows(0).getLong(4) == -1000L) // floor toward -inf, not trunc toward 0
    assert(rows(1).getLong(4) == 1000L)
  }

  test("Dedup.exactDupGroupsBy elects the keeper by priority, id breaks ties") {
    val df = Seq(
      (1L, "dup A", 3L), (2L, "dup A", 1L), // rank beats lower id -> keeper 2
      (3L, "dup B", 1L), (4L, "dup B", 1L), // equal rank -> lower id, keeper 3
      (9L, "solo", 2L)
    ).toDF("id", "t", "rank")
    val out = Dedup.exactDupGroupsBy(df, "id", "t", col("rank"))
      .select("keeper_id", "group_size").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 2L, 3L -> 2L, 9L -> 1L))
  }

  test("Dedup.exactDupGroupsBy treats a NULL rank as least-preferred, not best") {
    // Spark's raw struct-min sorts NULL first while SQL ORDER BY defaults
    // NULLS LAST — the sentinel coalesce pins the SQL answer on both engines
    val df = Seq(
      (1L, "dup A", None), (2L, "dup A", Some(5L)), // ranked copy wins over null
      (3L, "dup B", None), (4L, "dup B", None)      // all-null -> id tiebreak
    ).toDF("id", "t", "rank")
    val out = Dedup.exactDupGroupsBy(df, "id", "t", col("rank"))
      .select("keeper_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L))
  }

  test("Dedup.incrementalNearDup refuses overlapping delta/corpus id spaces") {
    // a shared id would merge two documents' shingle sets in the verify
    // stage and silently corrupt jaccard — must hard-error instead
    val delta = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq((1L, "zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Dedup.incrementalNearDup(delta, corpus, "doc_id", "text", 3,
        numHashes = 8, bandSize = 2).collect())
  }

  test("SimilaritySearch.diversitySample caps every cell at the quota, exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val kept = SimilaritySearch.diversitySample(emb, "vec_id", "embedding",
      dim = 64, bits = 3, quota = 10L, salt = "p")
    val perCell = kept.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perCell.values.forall(_ <= 10), perCell.toString)
    // each cell keeps exactly min(occupancy, quota) — nothing silently lost
    val occupancy = SimilaritySearch.diversitySample(emb, "vec_id", "embedding",
      dim = 64, bits = 3, quota = Long.MaxValue, salt = "p")
      .groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(occupancy.forall { case (cell, n) => perCell(cell) == math.min(n, 10L) })
  }

  test("TextAnalysis.temperatureMix: alpha=1 keeps all, alpha=0 flattens toward n_min") {
    val df = ((1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 450).map(i => (i.toLong, "small"))).toDF("id", "src")
    val all = TextAnalysis.temperatureMix(df, "src", "id", alpha = 1.0, salt = "t")
    assert(all.count() == 450) // natural mixture: no cut
    val flat = TextAnalysis.temperatureMix(df, "src", "id", alpha = 0.0, salt = "t")
    val bySrc = flat.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("small") == 50) // the smallest stratum always survives whole
    // big is cut to rate n_min/n_s = 1/8: expected 50, hash-binomial spread
    assert(bySrc("big") > 25 && bySrc("big") < 85, s"got ${bySrc("big")}")
    // determinism: the SAME ids survive on a re-run
    val again = TextAnalysis.temperatureMix(df, "src", "id", alpha = 0.0, salt = "t")
    assert(flat.select("id").collect().map(_.getLong(0)).sorted.sameElements(
      again.select("id").collect().map(_.getLong(0)).sorted))
  }

  test("Classifier.nbScores separates a separable corpus; holdout never leaks") {
    // Two clearly separable classes: positives speak cats, negatives dogs.
    val docs = ((0L until 40L).map(i => (i, "cat purr whisker cat purr")) ++
      (40L until 80L).map(i => (i, "dog bark fetch dog bark"))).toDF("id", "text")
    val scored = Classifier.nbScores(docs, "id", "text",
      labelPred = col("id") < 40L, holdoutPred = col("id") % 4 === 0L,
      buckets = 64)
    val rows = scored.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(5)))
    assert(rows.length == 80)
    // perfect holdout accuracy on separable data — the training loop works
    assert(rows.filter(_._2).forall { case (_, _, label, pred) => label == pred })
    // and perfect train accuracy too (sanity: the model fits its own data)
    assert(rows.filterNot(_._2).forall { case (_, _, label, pred) => label == pred })

    // Holdout exclusion: words that exist ONLY in holdout docs must train
    // nothing — two docs made of distinct holdout-only words (different
    // buckets) score identically, at the smoothed-default weight.
    val leak = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((100L, "zebraword"), (104L, "yakword"))).toDF("id", "text")
    val s2 = Classifier.nbScores(leak, "id", "text",
      labelPred = col("id") < 40L || col("id") >= 100L,
      holdoutPred = col("id") % 4 === 0L, buckets = 64)
      .filter(col("id") >= 100L)
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
    assert(s2(100L) == s2(104L),
      s"holdout-only words trained different weights: $s2")
  }

  test("Classifier.nbHoldoutEval counts the confusion matrix and guards ratios") {
    val scored = Seq(
      (1L, true, true, 5L, 2.0, true),   // tp
      (2L, true, false, 5L, 1.0, true),  // fp
      (3L, true, true, 5L, -1.0, false), // fn
      (4L, true, false, 5L, -2.0, false), // tn
      (5L, false, true, 5L, 3.0, true)   // train row: excluded from cm
    ).toDF("id", "is_holdout", "label", "n_words", "nb_score", "predicted")
    val r = Classifier.nbHoldoutEval(scored).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((1L, 4L))) // n_train, n_holdout
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((1L, 1L, 1L, 1L)))
    assert(r.getDouble(6) == 0.5 && r.getDouble(7) == 0.5 && r.getDouble(8) == 0.5)
    // all-negative predictions: precision denominator empty -> NULL, not error
    val allNeg = Seq((1L, true, true, 5L, -1.0, false))
      .toDF("id", "is_holdout", "label", "n_words", "nb_score", "predicted")
    val r2 = Classifier.nbHoldoutEval(allNeg).collect()(0)
    assert(r2.isNullAt(7) && !r2.isNullAt(8))
  }

  // Driver-side replica of the engine-portable salted-md5 bucket.
  private def md5Bucket(s: String, buckets: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(d.substring(0, 8), 16) % buckets
  }
  private def r4(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(x).setScale(4, java.math.RoundingMode.HALF_UP)
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("Classifier.nbScores equals a driver-side reference on random corpora") {
    val B = 32
    for (seed <- Seq(1, 2)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
      val docs = (1 to 40).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        rnd.nextInt(2)))
      val df = docs.toDF("id", "text", "lab")
      val train = docs.filterNot(_._1 % 3 == 0)
      def bcounts(p: ((Long, String, Int)) => Boolean) =
        train.filter(p).flatMap(d => d._2.split(" ").filter(_.nonEmpty))
          .groupBy(w => md5Bucket(w, B)).view.mapValues(_.size.toLong).toMap
      val ct = bcounts(_._3 == 1); val cr = bcounts(_._3 == 0)
      val (tt, tr) = (ct.values.sum, cr.values.sum)
      val lam = (0L until B).map(b => b -> r4(
        math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
        math.log((cr.getOrElse(b, 0L) + 1).toDouble / (tr + B)))).toMap
      val np = train.count(_._3 == 1); val nn = train.size - np
      val lam0 = r4(math.log((np + 1).toDouble / (np + nn + 2)) -
        math.log((nn + 1).toDouble / (np + nn + 2)))
      val want = docs.map { case (id, text, _) =>
        val s = text.split(" ").filter(_.nonEmpty)
          .groupBy(w => md5Bucket(w, B)).view.mapValues(_.size).toSeq
          .map { case (b, c) => lam(b).multiply(new java.math.BigDecimal(c)) }
          .foldLeft(lam0)(_.add(_))
        id -> s.doubleValue
      }.toMap
      val got = Classifier.nbScores(df, "id", "text",
          col("lab") === 1, col("id") % 3 === 0, buckets = B)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("TextAnalysis.cmsHeavyHitters equals a driver-side sketch on random corpora") {
    val (depth, width, den) = (3, 4, 8) // tiny width: collisions guaranteed
    for (seed <- Seq(3, 4)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f")
      val docs = (1 to 25).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val words = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val counters = (0 until depth).map { j =>
        j -> exact.toSeq.groupBy { case (w, _) => md5Bucket(s"cms$j|" + w, width) }
          .view.mapValues(_.map(_._2).sum).toMap
      }.toMap
      val n = words.size.toLong
      val want = exact.keys.map { w =>
        val est = (0 until depth)
          .map(j => counters(j)(md5Bucket(s"cms$j|" + w, width))).min
        (w, exact(w), est)
      }.filter(_._3 * den >= n)
        .map { case (w, e, est) => (w, e, est, n, e * den >= n, est - e) }.toSet
      val got = TextAnalysis.cmsHeavyHitters(docs.toDF("id", "text"), "text",
          depth, width, den)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getLong(5))).toSet
      assert(got == want, s"seed $seed")
    }
  }

  test("TextAnalysis.bm25TopK equals a driver-side reference on random corpora") {
    val terms = Seq("a", "b"); val (k1, b) = (1.2, 0.75)
    for (seed <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e")
      val docs = (1 to 30).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val dl = docs.map { case (id, t) => id -> t.split(" ").count(_.nonEmpty).toLong }.toMap
      val nd = docs.size.toLong
      val avgdl = dl.values.sum.toDouble / nd
      val dfreq = terms.map(t =>
        t -> docs.count(_._2.split(" ").contains(t)).toLong).toMap
      val idf = terms.map(t => t ->
        r4(math.log((nd - dfreq(t) + 0.5) / (dfreq(t) + 0.5) + 1.0))).toMap
      val scores = docs.flatMap { case (id, t) =>
        val tfs = t.split(" ").filter(terms.contains)
          .groupBy(identity).view.mapValues(_.size.toLong)
        if (tfs.isEmpty) None
        else Some(id -> tfs.map { case (term, tf) =>
          new java.math.BigDecimal(
            (idf(term).doubleValue * tf /
              (tf + k1 * ((1.0 - b) + b * dl(id) / avgdl))))
            .setScale(6, java.math.RoundingMode.HALF_UP)
        }.reduce(_.add(_)).doubleValue)
      }
      val want = scores.sortBy { case (id, s) => (-s, id) }.take(10)
        .zipWithIndex.map { case ((id, s), i) => (id, s, (i + 1).toLong) }.toSet
      val got = TextAnalysis.bm25TopK(docs.toDF("id", "text"), "id", "text",
          terms, k = 10, k1, b)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got == want, s"seed $seed")
    }
  }

  test("TextAnalysis.sourceDrift: KL >= 0, outlier source flagged, cohort not") {
    val rnd = new scala.util.Random(13)
    val shared = Seq("a", "b", "c", "d", "e", "f")
    // 5 sources drawing from one vocabulary + one source speaking another
    val docs = (for {
      s <- 0 until 5; i <- 0 until 12
    } yield (s.toLong * 100 + i, s"src$s",
      Seq.fill(8 + rnd.nextInt(8))(shared(rnd.nextInt(shared.size))).mkString(" "))) ++
      (0 until 12).map(i =>
        (900L + i, "weird", Seq.fill(10)(Seq("x", "y", "z")(rnd.nextInt(3))).mkString(" ")))
    val out = TextAnalysis.sourceDrift(docs.toDF("id", "source", "text"),
      "source", "text", buckets = 32)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out.values.forall(_._1 >= 0.0), s"KL must be non-negative: $out")
    assert(out("weird")._3, "the disjoint-vocabulary source must drift")
    assert((0 until 5).forall(s => !out(s"src$s")._3),
      s"cohort sources must not drift: $out")
    // the outlier's divergence dominates every cohort member's
    assert((0 until 5).forall(s => out("weird")._1 > out(s"src$s")._1))
  }

  test("TextAnalysis.sourceDrift equals a driver-side reference on random corpora") {
    val B = 16
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f", "g")
      val docs = (for (s <- 0 until 4; i <- 0 until 10) yield
        (s.toLong * 100 + i, s"src$s",
          Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val counts = docs.flatMap { case (_, src, t) =>
        t.split(" ").filter(_.nonEmpty).map(w => (src, md5Bucket(w, B)))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val srcs = counts.keys.map(_._1).toSet
      val ns = srcs.map(s => s -> counts.collect {
        case ((s2, _), c) if s2 == s => c }.sum).toMap
      val cb = (0L until B).map(b => b -> counts.collect {
        case ((_, b2), c) if b2 == b => c }.sum).toMap
      val n = ns.values.sum
      def r8(x: Double) = new java.math.BigDecimal(x)
        .setScale(8, java.math.RoundingMode.HALF_UP)
      val refs = srcs.map { s =>
        val terms = (0L until B).map { b =>
          val p = (counts.getOrElse((s, b), 0L) + 1).toDouble / (ns(s) + B)
          val q = (cb(b) + 1).toDouble / (n + B)
          (r8(p * math.log(p / q)), r8(math.abs(p - q) / 2))
        }
        val kl = r6(terms.map(_._1).reduce(_.add(_)).doubleValue)
        val tv = r6(terms.map(_._2).reduce(_.add(_)).doubleValue)
        s -> (ns(s), kl, tv)
      }.toMap
      val meanKl = r6(refs.values.map(v => BigDecimal(v._2)).sum.toDouble / srcs.size)
      val got = TextAnalysis.sourceDrift(docs.toDF("id", "source", "text"),
          "source", "text", buckets = B)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      for (s <- srcs) {
        assert(got(s)._1 == refs(s)._1 && got(s)._2 == refs(s)._2 &&
          got(s)._3 == refs(s)._3, s"seed $seed src $s: ${got(s)} vs ${refs(s)}")
        assert(got(s)._4 == meanKl, s"seed $seed mean: ${got(s)._4} vs $meanKl")
      }
    }
  }

  test("Classifier.nbPrCurve sweeps thresholds with consistent monotone counts") {
    val scored = Seq(
      (1L, true, true, 3L, 2.0, true), (2L, true, true, 3L, 0.4, true),
      (3L, true, false, 3L, 0.6, true), (4L, true, false, 3L, -0.8, false),
      (5L, false, true, 3L, 9.0, true) // train row: excluded
    ).toDF("id", "is_holdout", "label", "n_words", "nb_score", "predicted")
    val thr = Seq(-1.0, 0.5, 1.0, 5.0)
    val rows = Classifier.nbPrCurve(scored, thr).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(rows.keySet == thr.toSet)
    // every row partitions the same 4 holdout docs
    assert(rows.values.forall { case (tp, fp, fn, tn) => tp + fp + fn + tn == 4L })
    // tp and fp are non-increasing in the threshold
    val ordered = thr.map(rows)
    assert(ordered.map(_._1).sliding(2).forall(p => p.head >= p.last))
    assert(ordered.map(_._2).sliding(2).forall(p => p.head >= p.last))
    assert(rows(0.5) == ((1L, 1L, 1L, 1L)))
  }

  test("TextAnalysis.bm25TopK ranks by density, downweights common terms") {
    val docs = Seq(
      (1L, "spark spark spark pad"),        // dense in 'spark'
      (2L, "spark pad pad pad"),            // sparse in 'spark'
      (3L, "pad pad pad pad"),              // no query terms: absent
      (4L, "merge pad pad pad"),            // rare term, tf=1
      (5L, "spark pad pad pad pad pad pad pad pad pad pad pad") // long doc: dl-normalized down
    ).toDF("id", "text")
    val top = TextAnalysis.bm25TopK(docs, "id", "text",
      Seq("spark", "merge"), k = 10)
    val byId = top.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(!byId.contains(3L))
    assert(byId(1L)._1 > byId(2L)._1, "higher tf must outrank")
    assert(byId(2L)._1 > byId(5L)._1, "longer doc at equal tf must rank lower")
    // 'merge' (df=1) is rarer than 'spark' (df=3): equal tf, equal dl ⇒ higher score
    assert(byId(4L)._1 > byId(2L)._1, "rarer term must outscore at equal tf/dl")
    assert(byId.values.map(_._2).toSeq.sorted == (1L to byId.size).toSeq)
    // partitioning independence (decimal-pinned addends)
    val again = TextAnalysis.bm25TopK(docs.repartition(7), "id", "text",
      Seq("spark", "merge"), k = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(again == byId)
  }

  test("TextAnalysis.cmsHeavyHitters never underestimates; candidates cover true HH") {
    // Tiny width forces collisions — the property must hold anyway.
    val docs = Seq.tabulate(50)(i =>
      (i.toLong, if (i < 40) "alpha alpha beta" else "gamma delta epsilon zeta"))
      .toDF("id", "text")
    val hh = TextAnalysis.cmsHeavyHitters(docs, "text", depth = 2, width = 2,
      den = 20)
    val rows = hh.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getBoolean(4), r.getLong(5)))
    assert(rows.forall { case (_, exact, est, _, _, over) =>
      est >= exact && over == est - exact })
    val n = rows.head._4
    // exact totals: alpha 80, beta 40, gamma/delta/epsilon/zeta 10 each; N=160
    assert(n == 160L)
    val trueHH = Set("alpha", "beta") // >= N/20 = 8
    assert(trueHH.subsetOf(rows.filter(_._5).map(_._1).toSet))
    // with a real width nothing collides and estimates are exact
    val wide = TextAnalysis.cmsHeavyHitters(docs, "text", depth = 3,
      width = 1024, den = 20).collect()
    assert(wide.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("TextAnalysis.cdcChunks equals a driver-side reference and is shift-invariant") {
    val (w, div, salt) = (3, 4, "cdc") // div=4: dense boundaries on small docs
    def hashUnit(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt|$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 6), 16)
    }
    def refChunks(words: Seq[String]): Seq[String] = {
      val n = words.size
      val b = (1 to n).filter(i => i >= w &&
        hashUnit(words.slice(i - w, i).mkString(" ")) % div == 0)
      val e = if (b.nonEmpty && b.last == n) b else b :+ n
      e.zipWithIndex.map { case (p, j) =>
        val prev = if (j == 0) 0 else e(j - 1)
        words.slice(prev, p).mkString(" ")
      }
    }
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val rnd = new scala.util.Random(21)
    val shared = Seq.fill(40)(vocab(rnd.nextInt(vocab.size)))
    val docs = Seq(
      1L -> shared.mkString(" "),
      2L -> (Seq.fill(11)(vocab(rnd.nextInt(vocab.size))) ++ shared).mkString(" "),
      3L -> Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
      4L -> "solo")                          // shorter than the window: 1 chunk
    val got = TextAnalysis.cdcChunks(docs.toDF("doc_id", "text"),
        "doc_id", "text", w, div, salt)
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val want = docs.map { case (id, t) => id -> refChunks(t.split(" ").toSeq).sorted }.toMap
    assert(got == want)
    // chunks reassemble the doc exactly (no word lost or duplicated)
    docs.foreach { case (id, t) =>
      assert(want(id).map(_.split(" ").length).sum == t.split(" ").length)
    }
    // Shift-invariance: doc 2 = 11-word prefix + doc 1's text. Interior
    // boundaries depend only on window content, so the two docs must share
    // chunks — the duplicated-region signal fixed-stride windows miss.
    val common = want(1L).toSet intersect want(2L).toSet
    assert(common.nonEmpty, "shared region produced no shared chunks")
    // and the stats roll-up marks that sharing as dup coverage on both docs
    val stats = TextAnalysis.cdcChunkStats(docs.toDF("doc_id", "text"),
        "doc_id", "text", w, div, salt)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap // n_dup_chunks
    assert(stats(1L) >= common.size && stats(2L) >= common.size)
    assert(stats(4L) == 0L)
  }

  test("TextAnalysis.importanceBudget equals the naive score-ordered cut, ties by id") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "the", "a", "of", "and")
    // duplicate texts on purpose: identical docs share a score tier, so the
    // boundary tier holds several docs and the id-ordered partial admit runs
    val texts = (1 to 30).map(_ =>
      Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docs = (1 to 60).map(i => (i.toLong, "en", texts(i % 30)))
      .toDF("doc_id", "lang", "text")
    val pred = col("lang") === "en" && TextAnalysis.qualityScore("text") >= 0.8
    val scored = TextAnalysis.dsirScores(docs, "doc_id", "text", pred)
      .select("doc_id", "n_words", "dsir_score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val total = scored.map(_._2).sum
    for (budget <- Seq(total / 3, total / 2, total - 1, total + 10)) {
      // naive: global (score desc, id) order, running token sum, cut
      var cum = 0L
      val want = scored.sortBy { case (id, _, s) => (-s, id) }
        .flatMap { case (id, nw, s) =>
          cum += nw; if (cum <= budget) Some(id -> s) else None
        }.toMap
      val got = TextAnalysis.importanceBudget(docs, "doc_id", "text", pred, budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(got.map(_._1).toSet == want.keySet, s"budget $budget")
      // tier_before = tokens of all strictly-better tiers
      got.foreach { case (id, _, s, tb) =>
        val expect = scored.filter(_._3 > s).map(_._2).sum
        assert(tb == expect, s"budget $budget doc $id tier_before")
      }
    }
  }

  test("Classifier.nbCalibration bins the holdout sigmoid vs empirical rate") {
    // Hand-built scored frame: probabilities straddling bin edges, one
    // train row that must be excluded, and a p = 1.0 doc that must land in
    // the TOP bin (bins-1), not a phantom bin `bins`.
    val rows = Seq(
      (1L, true, true, 2.0),    // p≈0.880797 → bin 8
      (2L, true, false, 2.0),   // bin 8
      (3L, true, true, 0.0),    // p=0.5 → bin 5
      (4L, true, false, -2.0),  // p≈0.119203 → bin 1
      (5L, true, true, 100.0),  // p rounds to 1.0 → bin 9 (clamped)
      (6L, false, true, 3.0))   // train row: excluded
      .toDF("doc_id", "is_holdout", "label", "nb_score")
    val got = Classifier.nbCalibration(rows, bins = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    def sig(x: Double) = BigDecimal(1.0 / (1.0 + math.exp(-x)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 5L, 8L, 9L))
    assert(got(9L) == ((1L, 1.0, 1.0, 0.0)))          // clamped top bin
    assert(got(5L) == ((1L, 0.5, 1.0, -0.5)))
    val m8 = BigDecimal((sig(2.0) * 2) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(8L) == ((2L, m8, 0.5, BigDecimal(m8 - 0.5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // ECE derivation from the emitted rows: count-weighted mean |gap|
    val n = got.values.map(_._1).sum
    val ece = got.values.map { case (c, _, _, g) => c * math.abs(g) }.sum / n
    assert(ece > 0.0 && ece <= 1.0)
  }

  test("TextAnalysis.weightedSample equals a driver-side A-ES draw on random corpora") {
    def hashUnit(salt: String, id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 6), 16)
    }
    val k = 4
    for (seed <- Seq(13, 14)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 60).map { i =>
        (s"s${rnd.nextInt(3)}", i.toLong,
          math.rint((0.05 + rnd.nextDouble()) * 1e6) / 1e6)
      }
      val want = rows.groupBy(_._1).flatMap { case (src, grp) =>
        grp.map { case (_, id, w) =>
          val u = (hashUnit("wtest", id) + 1).toDouble / (1L << 24).toDouble
          val key = BigDecimal(math.log(u) / w)
            .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
          (src, id, w, key)
        }.sortBy { case (_, id, _, key) => (-key, id) }
          .take(k).zipWithIndex
          .map { case ((s, id, w, key), r) => (s, id, w, key, r + 1L) }
      }.toSet
      val got = TextAnalysis.weightedSample(
          rows.toDF("src", "id", "w"), "src", "id", col("w"), k, "wtest")
        .select("src", "id", "w", "samp_key", "sample_rank")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4))).toSet
      assert(got == want, s"seed $seed")
    }
    // Scale shape: the rank-filter window must compile to WindowGroupLimit —
    // map-side top-k, so no stratum ever needs to fit on one partition.
    val plan = TextAnalysis.weightedSample(
        (1 to 100).map(i => (s"s${i % 2}", i.toLong, 1.0)).toDF("src", "id", "w"),
        "src", "id", col("w"), k, "wtest")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("prefixJaccardPairs equals the brute-force quadratic (lossless filter)") {
    // seeded random corpus over a small vocab so near-threshold overlaps occur
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 't').map(_.toString)
    val docs = (1 to 40).map { i =>
      val n = 4 + rnd.nextInt(8)
      (i.toLong, rnd.shuffle(vocab).take(n).mkString(" "))
    } ++ Seq((100L, "a b c d e f"), (101L, "a b c d e g"), (102L, "q r s t u v"),
      (103L, "q r s t u v"), (104L, "a a a b b c")) // dup words collapse to a set
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(df, "doc_id", "text", 1, 2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(got == want)
    // and the reported jaccard values are the exact set jaccards
    val jac = Dedup.prefixJaccardPairs(df, "doc_id", "text", 1, 2).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    jac.foreach { case ((a, b), j) =>
      val e = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      assert(math.abs(j - e) < 1e-6, s"($a,$b): $j vs $e")
    }
    // shingleK = 3 (the document-corpus universe): same lossless property
    val got3 = Dedup.prefixJaccardPairs(df, "doc_id", "text", 1, 2, shingleK = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets3 = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val want3 = (for {
      a <- sets3.keys; b <- sets3.keys
      if a < b && sets3(a).nonEmpty && sets3(b).nonEmpty
      j = sets3(a).intersect(sets3(b)).size.toDouble / sets3(a).union(sets3(b)).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(got3 == want3)
    // taus NOT representable in 6 decimals (1/3, 2/3): the threshold filter
    // is the exact integer cross-product, so boundary pairs (J == tau
    // exactly) must be INCLUDED — the round-6 review regression
    for ((num, den) <- Seq((1, 3), (2, 3), (3, 4))) {
      val tau = num.toDouble / den
      val got = Dedup.prefixJaccardPairs(df, "doc_id", "text", num, den)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size
        uni = sets(a).union(sets(b)).size
        if inter.toLong * den >= uni.toLong * num
      } yield (a, b)).toSet
      assert(got == want, s"tau=$num/$den")
      // and a constructed exact-boundary pair: J(6-set, 6-set sharing 3) = 1/3
      val bdf = Seq((1L, "a b c d e f"), (2L, "a b c p q r")).toDF("doc_id", "text")
      val bpair = Dedup.prefixJaccardPairs(bdf, "doc_id", "text", 1, 3)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bpair == Set((1L, 2L)), s"exact J=1/3 boundary pair must survive tau=1/3: $bpair")
    }
  }

  test("cosinePrefixPairs equals the brute-force quadratic (lossless, weighted)") {
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 't').map(_.toString)
    val docs = (1 to 40).map { i =>
      val n = 4 + rnd.nextInt(8)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((100L, "a b c d e f"), (101L, "a b c d e g"),
      (102L, "q r s t u v"), (103L, "q r s t u v"),
      (104L, "a a a b b c")) // repeated words carry tf weight (NOT a set)
    val df = docs.toDF("doc_id", "text")
    // driver-side reference with the op's exact integer milli-weights
    def brute(k: Int, tauNum: Int, tauDen: Int): Set[(Long, Long)] = {
      val terms = docs.map { case (id, t) =>
        val ws = t.split(" ").toSeq
        id -> (if (ws.size >= k) ws.sliding(k).map(_.mkString(" ")).toSeq
               else Seq.empty[String])
      }.toMap
      val n = docs.size
      val dfq = terms.values.flatMap(_.distinct).groupBy(identity)
        .map { case (w, g) => w -> g.size }
      val w = terms.map { case (id, ts) =>
        id -> ts.groupBy(identity).flatMap { case (t, g) =>
          val idf3 = math.round(math.log(n.toDouble / dfq(t)) * 1000)
          val wi = g.size * idf3
          if (wi > 0) Some(t -> wi) else None
        }
      }
      val n2 = w.map { case (id, m) => id -> m.values.map(x => x * x).sum }
      (for {
        a <- w.keys; b <- w.keys if a < b
        shared = w(a).keySet.intersect(w(b).keySet) if shared.nonEmpty
        dot = shared.toSeq.map(t => w(a)(t) * w(b)(t)).sum
        if BigInt(dot) * dot * tauDen * tauDen >=
          BigInt(n2(a)) * n2(b) * tauNum * tauNum
      } yield (a, b)).toSet
    }
    for ((num, den) <- Seq((1, 2), (3, 5), (4, 5)); k <- Seq(1, 3)) {
      val got = Dedup.cosinePrefixPairs(df, "doc_id", "text", num, den, k)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(k, num, den), s"tau=$num/$den shingleK=$k")
    }
    // reported cosine matches the exact integer-weight cosine
    val rep = Dedup.cosinePrefixPairs(df, "doc_id", "text", 1, 2, 1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("dot"), r.getAs[Long]("n2_a"), r.getAs[Long]("n2_b"),
          r.getAs[Double]("cosine")))).toMap
    rep.foreach { case (_, (dot, n2a, n2b, cos)) =>
      assert(math.abs(cos - dot.toDouble /
        (math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble))) < 1e-6)
    }
    assert(rep.contains((102L, 103L)) && rep((102L, 103L))._4 == 1.0)
    // empty corpus: the driver-side min-norm guard returns an empty frame
    assert(Dedup.cosinePrefixPairs(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", 1, 2).count() == 0L)
  }

  test("qlTopK matches a driver-side Dirichlet query-likelihood reference") {
    val rows = Seq((1L, "a b a c"), (2L, "b b d"), (3L, "a a a a"),
      (4L, "c d e f g h"))
    val docs = rows.toDF("doc_id", "text")
    val terms = Seq("a", "b")
    val mu = 10.0
    val got = TextAnalysis.qlTopK(docs, "doc_id", "text", terms, k = 4, mu = mu)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val words = rows.map { case (id, t) => id -> t.split(" ") }
    val ct = words.map(_._2.length).sum.toDouble
    val ctf = terms.map(t => t -> words.map(_._2.count(_ == t)).sum.toDouble).toMap
    def score(id: Long): Double = {
      val w = words.find(_._1 == id).get._2
      terms.map { t =>
        val a = math.log((w.count(_ == t) + mu * (ctf(t) / ct)) / (w.length + mu))
        BigDecimal(a).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sum
    }
    val want = rows.map(_._1).map(id => id -> score(id))
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, s), i) => (id, s, i + 1L) }
    got.zip(want).foreach { case ((gi, gs, gr), (wi, ws, wr)) =>
      assert(gi == wi && gr == wr && math.abs(gs - ws) < 1e-9,
        s"got ($gi,$gs,$gr) want ($wi,$ws,$wr)")
    }
    // doc 3 (pure 'a' mass) must outrank doc 4 (no query terms at all)
    assert(got.map(_._1).indexOf(3L) < got.map(_._1).indexOf(4L))
  }

  test("lshCandidatesCapped: exhaustive under the cap, star above it, CC-connected") {
    // bands: (id, band, sig) — two normal buckets + one degenerate bucket
    val normal = Seq((1L, 0, "x"), (2L, 0, "x"), (3L, 0, "y"), (4L, 0, "y"), (5L, 0, "y"))
    val hot = (100L until 150L).map(i => (i, 1, "BOILERPLATE"))
    val bands = (normal ++ hot).toDF("id", "band", "sig")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap above every occupancy → bit-identical to the uncapped join
    assert(pairs(Dedup.lshCandidatesCapped(bands, "id", 1000)) ==
      pairs(Dedup.lshCandidates(bands, "id")))
    // cap at 8: normal buckets exhaustive, hot bucket stars on min id 100
    val capped = pairs(Dedup.lshCandidatesCapped(bands, "id", 8))
    assert(capped == Set((1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L)) ++
      (101L until 150L).map(i => (100L, i)).toSet)
    assert(capped.size == 4 + 49) // not 4 + 50*49/2
    // connectivity survives: CC over the star edges keeps one cluster
    val nodes = hot.map(_._1).toDF("id")
    val edges = Dedup.lshCandidatesCapped(bands, "id", 8)
      .filter(col("id_a") >= 100L)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = graft.ops.Graph.connectedComponentsStar(nodes, edges)
      .select("comp_id").distinct().count()
    assert(comps == 1L)
  }

  test("Percentiles.discWeighted equals percentile_disc over weight-expanded rows") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 120).map(i =>
      (s"g${i % 3}", (rnd.nextInt(40) + 1) * 1.25, rnd.nextInt(5) + 1L))
    val df = rows.toDF("g", "v", "w")
    val got = Percentiles.discWeighted(df, Seq("g"), "v", col("w"),
        Seq(("p50", 1, 2), ("p90", 9, 10))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val expanded = rs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
      def pick(num: Int, den: Int) = expanded((expanded.size * num + den - 1) / den - 1)
      g -> ((expanded.size.toLong, pick(1, 2), pick(9, 10)))
    }
    assert(got == want)
  }

  test("Regression.olsSolve recovers an exact linear relation and is partition-invariant") {
    // y = 3 + 2*x1 - x2 exactly → beta recovered, r2 == 1
    val rows = for (x1 <- 1 to 20; x2 <- 1 to 5) yield (x1.toLong, x2.toLong, 3L + 2 * x1 - x2)
    val df = rows.toDF("a", "b", "y")
    val r = Regression.olsSolve(Regression.olsMoments(df, col("a"), col("b"), col("y")))
      .collect().head
    assert(math.abs(r.getAs[Double]("beta0") - 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("beta1") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("beta2") + 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
    // noisy relation: moments (hence betas) identical under any partitioning
    val noisy = rows.map { case (a, b, y) => (a, b, y + (a * 7 + b * 3) % 5 - 2) }
      .toDF("a", "b", "y")
    def solved(d: org.apache.spark.sql.DataFrame) =
      Regression.olsSolve(Regression.olsMoments(d, col("a"), col("b"), col("y")))
        .collect().head.toSeq
    assert(solved(noisy.repartition(1)) == solved(noisy.repartition(13)))
    val r2 = Regression.olsSolve(
      Regression.olsMoments(noisy, col("a"), col("b"), col("y")))
      .collect().head.getAs[Double]("r2")
    assert(r2 > 0.9 && r2 < 1.0, s"noisy r2 = $r2")
  }

  test("winnowFingerprints: detection guarantee, density bound, rightmost ties") {
    val (k, w) = (4, 8)
    // two docs sharing an 11-word (= w + k - 1) run embedded in noise
    val run = "the quick brown fox jumps over one lazy sleeping old dog"
    val d1 = s"alpha beta gamma delta $run epsilon zeta eta theta"
    val d2 = s"iota kappa lambda mu nu xi omicron pi $run rho sigma"
    val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val sel = TextAnalysis.winnowFingerprints(df, "doc_id", "text", k, w)
    val byDoc = sel.collect().groupBy(_.getLong(0))
    val shared = byDoc(1L).map(_.getString(1)).toSet
      .intersect(byDoc(2L).map(_.getString(1)).toSet)
    assert(shared.nonEmpty, "shared w+k-1 run must yield a shared fingerprint")
    // density: selections per doc <= window count, >= windowCount/w
    for ((id, rows) <- byDoc) {
      val nGrams = (if (id == 1L) d1 else d2).split(" ").length - k + 1
      val nWin = nGrams - w + 1
      assert(rows.length <= nWin && rows.length >= nWin / w,
        s"doc $id: ${rows.length} picks for $nWin windows")
    }
    // full equality against a naive reference (pins min-hash selection AND
    // the rightmost tie-break, which the repetitive doc 3 exercises heavily)
    def naive(text: String): Set[(String, Int)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def h(s: String) = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val hashes = text.split(" ").sliding(k).map(g => h(g.mkString(" "))).toArray
      ((w - 1) until hashes.length).map { e =>
        val idx = (e - w + 1) to e
        val minH = idx.map(hashes).min
        val pos = idx.filter(i => hashes(i) == minH).max
        (hashes(pos), pos)
      }.toSet
    }
    val d3 = Array.fill(12)("x y z w").mkString(" ") // period-4 gram cycle: all ties
    val all = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(all, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val want = Seq(1L -> d1, 2L -> d2, 3L -> d3)
      .flatMap { case (id, t) => naive(t).map { case (fp, p) => (id, fp, p) } }.toSet
    assert(got == want)
  }

  test("sortedNeighborhoodPairs equals the single-order brute force across shard boundaries") {
    import graft.ops.Identity
    val rnd = new scala.util.Random(7)
    // 300 keys incl. duplicates and near-neighbors; ids shuffled so rank
    // order != id order
    val rows = (0 until 300).map { i =>
      (i.toLong, f"k${rnd.nextInt(120)}%04d-${rnd.nextInt(3)}")
    }
    val df = rnd.shuffle(rows).toDF("id", "key").repartition(7)
    for (w <- Seq(1, 3); buckets <- Seq(1, 8, 64)) {
      val got = Identity.sortedNeighborhoodPairs(df, "id", "key", w, buckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force: one global (key, id) sort on the driver
      val sorted = rows.sortBy { case (id, k) => (k, id) }
      val want = (for {
        i <- sorted.indices
        j <- (i + 1) to math.min(i + w, sorted.length - 1)
      } yield (sorted(i)._1, sorted(j)._1)).toSet
      assert(got == want, s"w=$w buckets=$buckets")
    }
    // null keys drop out instead of ranking
    val withNull = (rows :+ (999L, null.asInstanceOf[String])).toDF("id", "key")
    val n = Identity.sortedNeighborhoodPairs(withNull, "id", "key", 2, 8)
      .filter(col("id_a") === 999L || col("id_b") === 999L).count()
    assert(n == 0)
  }

  test("unimaxAllocation: caps bind ascending, leftover re-spreads, budget never exceeded") {
    import graft.ops.TextAnalysis
    // sf0.01-shaped sizes: small langs cap-bound at 1.2 epochs, en takes
    // the final share
    val sizes = Seq("de" -> 3549L, "fr" -> 3758L, "es" -> 3958L,
      "zh" -> 4143L, "en" -> 11757L)
    val got = TextAnalysis.unimaxAllocation(sizes, 24000L, 6, 5)
    assert(got.map(_._1) == Seq("de", "fr", "es", "zh", "en"), "ascending by size")
    got.foreach { case (_, s, a, rule) =>
      assert(a <= s * 6 / 5)
      assert(rule == (if (a == s * 6 / 5) "epoch_cap" else "budget_share"))
    }
    assert(got.map(_._3).sum <= 24000L)
    assert(got.count(_._4 == "epoch_cap") == 4 && got.last._4 == "budget_share")
    // when every cap exceeds the uniform share, allocation is exactly uniform
    val uniform = TextAnalysis.unimaxAllocation(
      Seq("a" -> 1000L, "b" -> 1000L), 1000L, 10, 1)
    assert(uniform.map(_._3) == Seq(500L, 500L))
    // when caps bind everywhere, total spend = sum of caps
    val capped = TextAnalysis.unimaxAllocation(
      Seq("a" -> 10L, "b" -> 20L), 1000000L, 1, 1)
    assert(capped.map(_._3) == Seq(10L, 20L))
  }

  test("cv3 keeper election orders the full signed id domain and ties on value") {
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-10 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-11 00:00:00")
    val ev = Seq(
      // user 1: same ts — a NEGATIVE id must win over a positive one
      // (the %020d composite misordered signed values)
      (5L, t0, 1L, "purchase", 40.0),
      (-7L, t0, 1L, "purchase", 120.0),
      // user 2: duplicate (ts, event_id) rows with different value —
      // the dirty-data class dq2 measures; value breaks the tie
      (9L, t0, 2L, "purchase", 75.0),
      (9L, t0, 2L, "purchase", 31.0),
      (3L, t1, 2L, "purchase", 200.0),
      // non-purchase noise is ignored
      (4L, t0, 1L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.queries.Reports.firstMembership(ev)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("membership_id"), r.getAs[Double]("m_value")))).toMap
    assert(got(1L) == ((-7L, 120.0)), s"negative id must order first: $got")
    assert(got(2L) == ((9L, 31.0)), s"value must break the (ts,id) tie: $got")
  }

  /** Driver-side batch-perceptron reference with the identical integer
    * recurrence (docs as (id, text, label, holdout)); returns final
    * margins per doc. */
  private def refPerceptron(docs: Seq[(Long, String, Boolean, Boolean)],
      buckets: Int, rounds: Int): Map[Long, Long] = {
    val feats = docs.map { case (id, t, y, h) =>
      val wb = t.split(" ").filter(_.nonEmpty).toSeq
        .groupBy(w => md5Bucket(w, buckets))
        .map { case (b, ws) => b -> ws.size.toLong }
      (id, wb + (buckets.toLong -> 1L), if (y) 1L else -1L, h)
    }
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    for (_ <- 1 to rounds) {
      val upd = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((_, f, y, h) <- feats if !h) {
        val m = f.map { case (b, c) => c * w(b) }.sum
        if (y * m <= 0L) for ((b, c) <- f) upd(b) += y * c
      }
      val base = w
      w = base ++ upd.map { case (b, d) => b -> (base(b) + d) }
      w = w.withDefaultValue(0L)
    }
    feats.map { case (id, f, _, _) =>
      id -> f.map { case (b, c) => c * w(b) }.sum }.toMap
  }

  private def runPerceptron(docs: Seq[(Long, String, Boolean, Boolean)],
      buckets: Int, rounds: Int, parts: Int): Map[Long, Long] =
    Classifier.perceptronScores(
        docs.toDF("doc_id", "text", "y", "h").repartition(parts),
        "doc_id", "text", col("y"), col("h"), buckets, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap

  test("perceptronScores matches the driver reference and is partition-invariant") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (seed <- Seq(11, 12)) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 40L).map { id =>
        val words = Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        (id, words.mkString(" "), rnd.nextBoolean(), rnd.nextInt(5) == 0)
      }
      val want = refPerceptron(docs, 16, 3)
      assert(runPerceptron(docs, 16, 3, 2) == want, s"seed=$seed")
      assert(runPerceptron(docs, 16, 3, 7) == want, s"seed=$seed parts=7")
    }
  }

  test("perceptron separates a disjoint-vocabulary corpus; holdout text never touches the weights") {
    val docs = Seq(
      (1L, "good fine nice", true, false), (2L, "good solid fine", true, false),
      (3L, "bad awful poor", false, false), (4L, "poor bad rough", false, false),
      (5L, "good nice solid fine", true, false), (6L, "awful rough bad", false, false))
    val got = Classifier.perceptronScores(
        docs.toDF("doc_id", "text", "y", "h").repartition(3),
        "doc_id", "text", col("y"), col("h"), buckets = 32, rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(4))))
      .toMap
    assert(got.forall { case (_, (label, pred)) => label == pred },
      s"separable corpus must classify cleanly: $got")
    // a holdout doc's text must not move the weights: margins of the train
    // docs are identical whatever a holdout doc says
    val h1 = docs :+ (7L, "good fine nice", true, true)
    val h2 = docs :+ (7L, "bad awful rough good", true, true)
    val m1 = runPerceptron(h1, 32, 3, 3).view.filterKeys(_ <= 6L).toMap
    val m2 = runPerceptron(h2, 32, 3, 3).view.filterKeys(_ <= 6L).toMap
    assert(m1 == m2)
  }

  test("lshCandidatesRing: exhaustive under the window, windowed SNM pairs over it") {
    // one bucket of 7, one of 3, across 2 bands
    val rows = ((1L to 7L).map(id => (id, 0, 100)) ++
      (11L to 13L).map(id => (id, 1, 200))).toDF("id", "band", "sig")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // window >= occ-1 -> bit-identical to the exhaustive join (incl. n_bands)
    val exhaustive = pairSet(Dedup.lshCandidates(rows, "id"))
    assert(pairSet(Dedup.lshCandidatesRing(rows, "id", 6)) == exhaustive)
    assert(pairSet(Dedup.lshCandidatesRing(rows, "id", 100)) == exhaustive)
    // window w: bucket of occ emits occ*w - w*(w+1)/2 pairs (each member
    // pairs with its next w hash-order successors), and every pair is a
    // subset of the exhaustive set
    for (w <- Seq(1, 2, 3)) {
      val got = pairSet(Dedup.lshCandidatesRing(rows, "id", w))
      val expected7 = 7 * w - w * (w + 1) / 2
      val expected3 = math.min(3 * w - w * (w + 1) / 2, 3)
      assert(got.size == expected7 + expected3, s"w=$w: ${got.size}")
      assert(got.map(p => (p._1, p._2)).subsetOf(exhaustive.map(p => (p._1, p._2))),
        s"w=$w emits non-bucket pairs")
    }
    // partition invariance (the window order is a salted hash, not arrival)
    assert(pairSet(Dedup.lshCandidatesRing(rows.repartition(7), "id", 2)) ==
      pairSet(Dedup.lshCandidatesRing(rows.repartition(2), "id", 2)))
    // a pair colliding in BOTH bands keeps n_bands = 2 under the ring
    val two = Seq((1L, 0, 9), (2L, 0, 9), (1L, 1, 5), (2L, 1, 5))
      .toDF("id", "band", "sig")
    val nb = Dedup.lshCandidatesRing(two, "id", 4).collect()(0)
    assert(nb.getLong(2) == 2L)
  }

  test("lshCandidatesRing orderCol: exhaustive below the window, locality-ordered above") {
    // one bucket of 6 with an explicit order key (the fine-SRP seat):
    // ids 1..6, keys chosen so key order (4,5,6,1,2,3) differs from both
    // id order and md5 order
    val rows = Seq((1L, 10), (2L, 11), (3L, 12), (4L, 1), (5L, 2), (6L, 3))
      .map { case (id, k) => (id, 0, 100, k) }.toDF("id", "band", "sig", "k")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // window >= occ-1: order key irrelevant — bit-identical to exhaustive
    val exhaustive = pairSet(Dedup.lshCandidates(
      rows.select(col("id"), col("band"), col("sig")), "id"))
    assert(pairSet(Dedup.lshCandidatesRing(rows, "id", 5, Some("k"))) == exhaustive)
    // window 1: each member pairs with its key-order successor ONLY —
    // the deterministic locality semantics the fine SRP code buys
    assert(pairSet(Dedup.lshCandidatesRing(rows, "id", 1, Some("k"))) ==
      Set((4L, 5L), (5L, 6L), (1L, 6L), (1L, 2L), (2L, 3L)))
    // partition invariance holds with an order key too
    assert(pairSet(Dedup.lshCandidatesRing(rows.repartition(5), "id", 2, Some("k"))) ==
      pairSet(Dedup.lshCandidatesRing(rows.repartition(2), "id", 2, Some("k"))))
  }

  test("simhash64NearDupManku emits exactly the 4-band pairs (cross-algorithm equality)") {
    // random word-salad corpora with planted near-dup mutations: both
    // candidate generators are lossless for hamming <= 3 and the verify
    // filter is exact, so the OUTPUT pair sets must be identical even
    // though the candidate sets differ by orders of magnitude at scale
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (seed <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed)
      val base = (1L to 30L).map { id =>
        (id, Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))))
      }
      // plant near-dups: copies with one word appended / one swapped
      val docs = (base.map { case (id, ws) => (id, ws.mkString(" ")) } ++
        base.take(8).map { case (id, ws) =>
          (id + 100L, (ws :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")) } ++
        base.slice(8, 12).map { case (id, ws) => (id + 200L, ws.mkString(" ")) })
        .toDF("doc_id", "text").repartition(3)
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val legacy = pairSet(Dedup.simhash64NearDup(docs, "doc_id", "text", 3))
      val manku = pairSet(Dedup.simhash64NearDupManku(docs, "doc_id", "text", 3))
      assert(manku == legacy, s"seed=$seed: manku=${manku.size} legacy=${legacy.size}")
      assert(legacy.nonEmpty, s"seed=$seed: planted dups must collide")
    }
    // the exact-duplicate pair must always surface with hamming 0
    val dup = Seq((1L, "x y z w"), (2L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.simhash64NearDupManku(dup, "doc_id", "text", 3).collect()
    assert(got.length == 1 && got(0).getLong(2) == 0L)
  }

  test("sourceOverlap: exact pair matrix incl. zero-overlap rows, ppm floors, partition-invariant") {
    // 2-gram shingle sets by construction:
    //   sA: {a b, b c, c d}          (3)
    //   sB: {a b, b c, x y}          (3)  -> inter(A,B)=2
    //   sC: {p q, q r}               (2)  -> inter(A,C)=0, inter(B,C)=0
    val docs = Seq(
      (1L, "a b c d", "sA"), (2L, "a b c", "sB"), (3L, "x y", "sB"),
      (4L, "p q r", "sC"), (5L, "p q", "sC"))
      .toDF("doc_id", "text", "source")
    def run(parts: Int) = Dedup.sourceOverlap(
        docs.repartition(parts), "source", "text", k = 2, floorPpm = 600000L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7)))).toMap
    val got = run(2)
    assert(got.keySet == Set(("sA", "sB"), ("sA", "sC"), ("sB", "sC")),
      s"full upper triangle incl. zero-overlap pairs: ${got.keySet}")
    // inter=2, union=4 -> jaccard 500000 ppm; containment 2/3 -> 666666 (floor)
    assert(got(("sA", "sB")) == ((3L, 3L, 2L, 500000L, 666666L, true)), s"$got")
    assert(got(("sA", "sC")) == ((3L, 2L, 0L, 0L, 0L, false)))
    assert(got(("sB", "sC")) == ((3L, 2L, 0L, 0L, 0L, false)))
    assert(run(5) == got, "partition-invariant")
    // duplicate shingles within a source count once (set semantics)
    val dup = Seq((1L, "a b a b", "sA"), (2L, "a b", "sB"))
      .toDF("doc_id", "text", "source")
    val one = Dedup.sourceOverlap(dup, "source", "text", 2, 1L).collect()(0)
    assert(one.getLong(2) == 2L && one.getLong(3) == 1L && one.getLong(4) == 1L,
      s"distinct shingles per source: $one")
    // a source whose docs are all shorter than k words produces NO shingles
    // but must still appear in the matrix as clean (n_sh = 0, 0 ppm, no
    // division blow-up) — a silently omitted source reads as coverage
    val short = Seq((1L, "a b c", "sA"), (2L, "z", "sEmpty"), (3L, "q", "sE2"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlap(short, "source", "text", 2, 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7)))).toMap
    assert(m.keySet == Set(("sA", "sE2"), ("sA", "sEmpty"), ("sE2", "sEmpty")),
      s"shingle-less sources must stay in the matrix: ${m.keySet}")
    assert(m(("sA", "sEmpty")) == ((2L, 0L, 0L, 0L, 0L, false)))
    assert(m(("sE2", "sEmpty")) == ((0L, 0L, 0L, 0L, 0L, false)),
      "both-empty pair: guarded divisors floor to 0 ppm, never error")
  }

  test("Sizing.shufflePartitions derives from footprint and clamps to [cpus, cap]") {
    import graft.core.Sizing
    // missing path -> 0 bytes -> cpus floor
    assert(Sizing.shufflePartitions("/nonexistent/dir", 32) == 32)
    // the gated scales reproduce the historical session default exactly:
    // as many partitions as threads
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); cpus <- Seq(4, 32))
      assert(Sizing.shufflePartitions(s"/root/testdata/$sf", cpus) == cpus, s"$sf at $cpus")
    // formula: bytes*Expansion/TargetBytes inside the clamp
    val b = Sizing.inputBytes("/root/testdata/sf0.1")
    assert(b > 0L)
    val want = math.min(1024, math.max(4, (b * Sizing.Expansion / Sizing.TargetBytes).toInt))
    assert(Sizing.shufflePartitions("/root/testdata/sf0.1", 4) == want)
    // cap binds for huge inputs
    assert(Sizing.shufflePartitions("/root/testdata/sf0.1", 4, cap = 1) == 1)
  }

  test("intervalIslands merges overlap and touch, splits gaps, and is partition-invariant") {
    // key 1: [1,5] [5,8] touch-merge; [3,4] contained; gap; [10,12]
    // key 2: single interval; key 3: chain where only the running MAX end
    // merges correctly ([1,10] [2,3] [4,12]: a lag-based end would split at 4)
    val iv = Seq(
      (1L, 1L, 5L, 101L), (1L, 5L, 8L, 102L), (1L, 3L, 4L, 103L),
      (1L, 10L, 12L, 104L),
      (2L, 7L, 7L, 201L),
      (3L, 1L, 10L, 301L), (3L, 2L, 3L, 302L), (3L, 4L, 12L, 303L)
    ).toDF("k", "s", "e", "tb")
    def got(parts: Int): Set[(Long, Long, Long, Long, Long)] =
      Windows.intervalIslands(iv.repartition(parts), "k", "s", "e", "tb")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val want = Set(
      (1L, 1L, 1L, 8L, 3L), (1L, 2L, 10L, 12L, 1L),
      (2L, 1L, 7L, 7L, 1L),
      (3L, 1L, 1L, 12L, 3L))
    assert(got(2) == want)
    assert(got(5) == want)
  }
}
