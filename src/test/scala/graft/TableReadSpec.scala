package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.core.Tables
import graft.streaming.Streams
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` is the one reader of the input tables, batch and stream: both
  * read a table's schema once and normalise its timestamps the same way. */
class TableReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.data("sf0.001")

  /** The timestamp columns the original testdata generation stored as
    * TIMESTAMP(NANOS), which reads as an epoch-nanos LONG. */
  private val nanosCols = Seq("events" -> "ts", "orders" -> "o_orderdate")

  /** sf0.001 `events` and `orders` with their timestamps rewritten as nanos
    * LONGs, the shape the original generation reads in. */
  private lazy val nanosDir: String = {
    val d = TestDirs("graft_nanos").toString
    for ((t, c) <- nanosCols)
      Tables(spark, sf, t).withColumn(c, unix_micros(col(c)) * 1000L)
        .write.parquet(s"$d/$t.parquet")
    d
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a nanos-long timestamp reads as the micros testdata in batch") {
    for ((t, c) <- nanosCols) {
      assert(spark.read.parquet(s"$nanosDir/$t.parquet").schema(c).dataType.typeName == "long")
      assertSameRows(Tables(spark, nanosDir, t), Tables(spark, sf, t))
    }
  }

  test("a stream reads the same rows as a batch, from a nanos-long directory or a testdata file") {
    val sink = new AtomicInteger(0)
    def streamed(dir: String, t: String): DataFrame = {
      val name = s"graft_table_read_${sink.incrementAndGet()}"
      Streams.runToEnd(Tables.stream(spark, dir, t))(_.format("memory").queryName(name))
      spark.table(name)
    }
    for ((t, _) <- nanosCols) {
      assertSameRows(streamed(nanosDir, t), Tables(spark, sf, t))
      assertSameRows(streamed(sf, t), Tables(spark, sf, t))
    }
  }

  test("a repeated read of an input table runs no Spark job") {
    Tables(spark, sf, "part")
    val group = "graft_table_reread"
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "repeated input-table read")
      try Tables(spark, sf, "part").schema
      finally spark.sparkContext.clearJobGroup()
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0)
  }

  test("src/main streams only through Tables and names java.io.tmpdir only in GraftBridge") {
    assert(SourceScan.filesMatching("""\breadStream\b""".r) == Seq("scala/graft/core/Tables.scala"))
    assert(SourceScan.filesMatching("""java\.io\.tmpdir""".r)
      .forall(_ == "scala/org/apache/spark/sql/GraftBridge.scala"))
  }
}
