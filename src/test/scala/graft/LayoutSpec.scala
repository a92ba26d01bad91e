package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: Morton-code arithmetic against a bit-twiddling reference,
  * and the property the layout exists for — per-file column statistics stay
  * tight on BOTH clustered dimensions, so a predicate on either one
  * intersects few files (the reader's stats pruning does the skipping). */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refMorton(a: Int, b: Int): Long = {
    var out = 0L
    for (i <- 0 until 16) {
      out |= ((a >> i) & 1).toLong << (2 * i)
      out |= ((b >> i) & 1).toLong << (2 * i + 1)
    }
    out
  }

  test("morton matches a bitwise reference on random 16-bit pairs") {
    val rnd = new scala.util.Random(5)
    val pairs = Seq((0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)) ++
      Seq.fill(50)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layout.morton(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == refMorton(a, b), s"morton($a,$b)")
    }
  }

  test("z-order prunes BOTH dims at once; each linear layout fails on one") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("n_chars")).localCheckpoint(true)
    val base = TestDirs("graft_layout").toString
    // with F files the curve yields log2(F) bits of combined pruning split
    // across the dims (per-dim candidate sets shrink toward sqrt-of-F, not
    // 1 — that residual is the price of serving BOTH predicate shapes from
    // one layout; a linear sort spends all its bits on one dim)
    val nFiles = 16
    Layout.zorderBy(docs, Layout.stringRangeBucket(docs, "source"),
        Layout.quantileBucket(docs, "n_chars"), nFiles)
      .write.parquet(s"$base/z")
    // control A: linear on a key uncorrelated with both dims
    docs.repartitionByRange(nFiles, col("doc_id"))
      .sortWithinPartitions(col("doc_id")).write.parquet(s"$base/lin_id")
    // control B: linear on n_chars — perfect on chars, blind on source
    docs.repartitionByRange(nFiles, col("n_chars"))
      .sortWithinPartitions(col("n_chars")).write.parquet(s"$base/lin_chars")

    def fileStats(dir: String): Seq[(String, String, Long, Long)] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("source"), max("source"), min("n_chars"), max("n_chars"))
          .head()
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      }
    }
    val z = fileStats(s"$base/z")
    val linId = fileStats(s"$base/lin_id")
    val linCh = fileStats(s"$base/lin_chars")
    assert(z.size == nFiles && linId.size == nFiles && linCh.size == nFiles)

    // single-dimension predicates a stats-pruning reader would evaluate
    def srcHits(st: Seq[(String, String, Long, Long)]) =
      (0 until 20).map(i => st.count { case (lo, hi, _, _) =>
        lo <= s"src$i" && s"src$i" <= hi }).sum
    def charHits(st: Seq[(String, String, Long, Long)], a: Long, b: Long) =
      st.count { case (_, _, lo, hi) => hi >= a && lo <= b }

    val full = 20 * nFiles
    // control A prunes nothing on either dim
    assert(srcHits(linId) >= full - nFiles && charHits(linId, 200, 300) == nFiles,
      s"uncorrelated control unexpectedly tight")
    // control B: chars perfectly tight, source completely blind
    assert(charHits(linCh, 200, 300) <= nFiles / 4)
    assert(srcHits(linCh) >= full - nFiles)
    // z-order: BOTH dims prune meaningfully at the same time — the thing
    // neither linear layout can do
    assert(srcHits(z) <= full / 2,
      s"z-order source pruning too weak: ${srcHits(z)} of $full")
    assert(charHits(z, 200, 300) <= nFiles / 2,
      s"z-order char pruning too weak: ${charHits(z, 200, 300)} of $nFiles")

    // the layout permutes rows only — content identical
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = spark.read.parquet(s"$base/z").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }
}
