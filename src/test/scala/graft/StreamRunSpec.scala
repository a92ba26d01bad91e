package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.queries.Registry
import graft.streaming.Streams
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

/** The one stream run loop, `Streams.runToEnd`: every stream in `src/main`
  * starts there, a seat call returns only once its stream has ended and
  * fails with it, and the seats keep the assumptions their oracles need. */
class StreamRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def seat(name: String) =
    Registry.all.find(_.name == name).getOrElse(fail(s"no query $name"))

  test("src/main starts, triggers and awaits a stream only in Streams.runToEnd") {
    val streams = "scala/graft/streaming/Streams.scala"
    val code = SourceScan.code(streams)
    val from = code.indexOf("def runToEnd(")
    assert(from >= 0, "Streams.runToEnd is gone")
    val to = from + 1 + """\n  (private\S* )?(def|val) """.r
      .findFirstMatchIn(code.substring(from + 1)).map(_.start).getOrElse(code.length)
    for (api <- Seq("""\bwriteStream\b""", """Trigger\s*\.\s*AvailableNow\b""",
        """\.\s*awaitTermination\s*\(""")) {
      assert(SourceScan.filesMatching(api.r) == Seq(streams), api)
      val at = api.r.findAllMatchIn(code).map(_.start).toSeq
      assert(at.size == 1 && at.head > from && at.head < to, s"$api outside runToEnd")
    }
  }

  test("a seat whose batch body throws fails the seat call itself") {
    val in = Files.createTempDirectory("graft_run_in").resolve("a").toString
    spark.range(3).toDF("k").withColumn("v", col("k")).write.parquet(in)
    val table = Files.createTempDirectory("graft_run_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_run_ckpt").toString
    // no column `nope`: the merge fails inside micro-batch 0, after start()
    // has returned, so only a call that waits for the end can see it
    val ex = intercept[StreamingQueryException] {
      Streams.upsertByKey(spark.readStream.schema("k LONG, v LONG").parquet(in),
        table, ckpt, "nope", "v", "v")
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("`nope`")), ex)
  }

  test("an ingest seat's state and checkpoint dir is deleted at JVM exit") {
    val files = seat("st9_stream_compacted_ingest")
      .run(spark, TestSpark.data("sf0.001")).inputFiles
    assert(files.nonEmpty)
    for (f <- files)
      assert(TestBus.deletedAtExit(new java.io.File(new java.net.URI(f).getPath)), f)
  }

  test("st17 reads every re-sync copy of the ledger in micro-batch 0 at sf0.01") {
    // the oracle equality rests on it: if the three sources advanced
    // unevenly, the watermark could evict a key before its last copy came
    val d = TestSpark.data("sf0.01")
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      seat("st17_stream_txn_waterfall").run(spark, d)
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    val ps = progress.asScala.toSeq
    val orders = spark.read.parquet(s"$d/orders.parquet").count()
    assert(ps.map(_.runId).distinct.size == 1, "one stream")
    assert(ps.filter(_.numInputRows > 0).map(p => p.batchId -> p.numInputRows) ==
      Seq(0L -> 3 * orders))
  }
}
