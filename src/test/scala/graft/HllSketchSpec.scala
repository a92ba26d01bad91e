package graft

import graft.plans.HllSketch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HllSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side reference: identical md5 register math, plain Scala. */
  private def refSketch(values: Seq[String]): (BigInt, Int) = {
    val regs = new Array[Int](256)
    val md = java.security.MessageDigest.getInstance("MD5")
    values.foreach { v =>
      md.reset()
      val d = md.digest(v.getBytes("UTF-8"))
      val bucket = d(0) & 0xff
      var w = 0L
      (1 to 8).foreach(i => w = (w << 8) | (d(i) & 0xffL))
      val rho = if (w == 0L) 65 else java.lang.Long.numberOfLeadingZeros(w) + 1
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    val s = regs.map(m => BigInt(1) << (65 - m)).sum
    (s, regs.count(_ == 0))
  }

  /** Reassemble s from the int64-safe hi/lo halves (s = s_hi·2^36 + s_lo). */
  private def readSketch(row: org.apache.spark.sql.Row): (BigInt, Int) =
    ((BigInt(row.getLong(0)) << 36) + row.getLong(1), row.getInt(2))

  private def sketchOf(values: Seq[String], partitions: Int): (BigInt, Int) = {
    HllSketch.register(spark)
    readSketch(values.toDF("v").repartition(partitions)
      .agg(expr("hll_sketch(v)").as("h"))
      .select(col("h.s_hi"), col("h.s_lo"), col("h.zeros")).head())
  }

  test("register state matches the driver-side reference exactly") {
    val rnd = new scala.util.Random(11)
    val values = (1 to 5000).map(_ => rnd.nextInt(2000).toString)
    assert(sketchOf(values, 4) == refSketch(values))
  }

  test("state is partitioning-independent and duplicate-insensitive") {
    val values = (1 to 3000).map(i => s"k${i % 700}")
    val one = sketchOf(values, 1)
    assert(sketchOf(values, 7) == one)
    assert(sketchOf(values.distinct, 3) == one)
  }

  test("estimate accuracy: raw path within 10% at 20k distinct") {
    val values = (1 to 20000).map(i => s"v$i")
    val (s, _) = sketchOf(values, 4)
    val raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
      math.pow(2.0, 65) / s.toDouble
    assert(math.abs(raw - 20000) / 20000.0 < 0.10, s"raw=$raw")
  }

  test("estimate accuracy: linear-counting path within 10% at 100 distinct") {
    val values = (1 to 100).map(i => s"u$i")
    val (_, zeros) = sketchOf(values, 2)
    val lc = 256.0 * math.log(256.0 / zeros)
    assert(math.abs(lc - 100) / 100.0 < 0.10, s"lc=$lc zeros=$zeros")
  }

  test("hll_state + hll_merge over stored partials equals the direct sketch") {
    HllSketch.register(spark)
    val df = (1 to 4000).map(i => (i % 7, s"u${i % 900}")).toDF("part", "v")
    val direct = df.agg(expr("hll_sketch(v)").as("h"))
      .select(col("h.s_hi"), col("h.s_lo"), col("h.zeros")).head()
    // store per-part states through a parquet roundtrip (the mart lifecycle)
    val dir = TestDirs("hll_states").toString
    df.groupBy(col("part")).agg(expr("hll_state(v)").as("st"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(expr("hll_merge(st)").as("h"))
      .select(col("h.s_hi"), col("h.s_lo"), col("h.zeros")).head()
    assert(merged == direct)
    // merge is idempotent: unioning the same states twice changes nothing
    val doubled = spark.read.parquet(dir).unionAll(spark.read.parquet(dir))
      .agg(expr("hll_merge(st)").as("h"))
      .select(col("h.s_hi"), col("h.s_lo"), col("h.zeros")).head()
    assert(doubled == direct)
  }

  test("nulls are skipped; empty input is the empty sketch") {
    HllSketch.register(spark)
    val row = Seq(Some("a"), None, Some("b"), None).toDF("v")
      .agg(expr("hll_sketch(v)").as("h"))
      .select(col("h.s_hi"), col("h.s_lo"), col("h.zeros")).head()
    assert(readSketch(row) == refSketch(Seq("a", "b")))
    val empty = spark.emptyDataset[String].toDF("v")
      .agg(expr("hll_sketch(v)").as("h"))
      .select(col("h.s_hi"), col("h.s_lo"), col("h.zeros")).head()
    // all 256 registers zero -> s = 256 * 2^65, zeros = 256
    val (es, ez) = readSketch(empty)
    assert(es == (BigInt(1) << 65) * 256)
    assert(ez == 256)
  }
}
