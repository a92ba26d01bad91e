package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.ops.Checkpoints
import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The barrier contract of `graft.ops.Checkpoints`: when a barrier is
  * skipped, when it must not be, and what `both` carries to its thread. */
class CheckpointsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** The `spark.job.tags` of every job `body` starts. The listener bus is
    * asynchronous: poll until the count is stable. */
  private def jobTags(body: => Unit): Seq[Set[String]] = {
    val seen = new ConcurrentLinkedQueue[Set[String]]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 50) {
        last = seen.size; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }

  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  private def ck: DataFrame = spark.range(100).toDF("id").barrier()

  /** A barrier over a `createDataFrame(rdd)` frame of `n` partitions: the
    * plan it cuts reports no partitioning, unlike a one-slice `range`. */
  private def ckOf(n: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 100L).map(Row(_)), n), schema).barrier()
  }

  /** The shuffles in `df`'s final (post-AQE) plan, after running it. */
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }
  }

  private def partitioning(df: DataFrame) = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.outputPartitioning
    case p => fail(s"not a checkpoint: $p")
  }

  test("barrier returns a deterministic Project/Filter over a checkpoint unchanged, with no job") {
    val base = ck
    assert(isCheckpoint(base))
    val view = base.filter(col("id") % 2 === 0).select((col("id") * 2).as("x"))
    var out: DataFrame = null
    assert(jobTags { out = view.barrier() }.isEmpty)
    assert(out eq view)
  }

  test("barrier checkpoints an aggregate") {
    val agg = ck.groupBy((col("id") % 3).as("k")).count()
    var out: DataFrame = null
    assert(jobTags { out = agg.barrier() }.nonEmpty)
    assert(isCheckpoint(out))
    assert(out.collect().toSet == agg.collect().toSet)
  }

  test("barrier checkpoints a non-deterministic Project over a checkpoint") {
    // Skew's salt: rand(7) re-drawn per consumer would give each consumer
    // different rows, so the barrier must materialize it once
    val out = ck.withColumn("salt", rand(7)).barrier()
    assert(isCheckpoint(out))
    assert(out.collect().toSeq == out.collect().toSeq)
  }

  test("barrier checkpoints a Project over an RDD that is not a checkpoint") {
    // a createDataFrame(rdd) frame (or a foreachBatch micro-batch) is a
    // LogicalRDD too, but each consumer would re-run its source
    val schema = StructType(Seq(StructField("id", LongType)))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))), schema)
    val out = raw.select((col("id") + 1).as("x")).barrier()
    assert(isCheckpoint(out))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("a one-partition barrier is labelled SinglePartition") {
    assert(partitioning(ckOf(1)) == SinglePartition)
  }

  private val above: Seq[(String, DataFrame => DataFrame, Array[Row] => Unit)] = Seq(
    ("groupBy", _.groupBy((col("id") % 3).as("k")).count(),
      rows => assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((0L, 34L), (1L, 33L), (2L, 33L)))),
    ("distinct", _.select((col("id") % 7).as("m")).distinct(),
      rows => assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 7L))),
    ("Window.orderBy", _.withColumn("rn", row_number().over(Window.orderBy(col("id").desc))),
      rows => assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSet ==
        (0L until 100L).map(i => (i, 100 - i.toInt)).toSet)))

  for ((name, op, check) <- above)
    test(s"$name directly above a one-partition barrier plans no shuffle") {
      val df = op(ckOf(1))
      assert(shuffles(df).isEmpty, df.queryExecution.executedPlan.treeString)
      check(df.collect())
    }

  test("a four-partition barrier keeps its label and still shuffles under groupBy") {
    val four = ckOf(4)
    assert(partitioning(four) != SinglePartition)
    val grouped = four.groupBy((col("id") % 3).as("k")).count()
    assert(shuffles(grouped).nonEmpty)
    assert(grouped.collect().map(_.getLong(1)).sorted.toSeq == Seq(33L, 33L, 34L))
  }

  test("a join of a one-partition barrier with a four-partition frame returns the same rows") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val other = spark.range(0, 100, 1, 4).toDF("id").withColumn("sq", col("id") * col("id"))
      val joined = ckOf(1).join(other, "id")
      assert(shuffles(joined).nonEmpty, "the one-partition side must meet the other side's partitioning")
      val want = (0L until 100L).map(i => (i, i * i)).toSet
      assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("both rethrows side a's failure only after side b has finished") {
    assert(Checkpoints.both(1, "b") == ((1, "b")))
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Checkpoints.both[Int, Int](throw new IllegalStateException("a"),
        { Thread.sleep(300); bDone.set(true); 2 })
    }
    assert(e.getMessage == "a")
    assert(bDone.get, "side a's failure escaped before side b finished")
  }

  test("both carries the caller's job tags into side a") {
    // start the global execution context's threads before the tag exists:
    // a pooled `Future` for side a would run on one of them, tagless
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val n = Runtime.getRuntime.availableProcessors
    val started = new CountDownLatch(n)
    Await.result(Future.sequence(Seq.fill(n)(Future {
      started.countDown(); started.await(10, TimeUnit.SECONDS)
    })), 30.seconds)

    val sc = spark.sparkContext
    sc.addJobTag("t")
    val tags = try jobTags(Checkpoints.both(spark.range(10).count(), ()))
      finally sc.removeJobTag("t")
    assert(tags.nonEmpty)
    assert(tags.forall(_.contains("t")), tags)
  }

  test("both nested in a both side carries the caller's job tags to the grandchild thread") {
    // the curation gate stack's shape: both(both(a, b), both(c, d)). The
    // inner side a runs on a thread made by the outer side a's thread
    val sc = spark.sparkContext
    val caller = Thread.currentThread
    var inner: Thread = null
    sc.addJobTag("nested")
    val tags = try jobTags(Checkpoints.both(
        Checkpoints.both({ inner = Thread.currentThread; spark.range(10).count() }, ()),
        ()))
      finally sc.removeJobTag("nested")
    assert(inner != null && inner != caller)
    assert(tags.nonEmpty)
    assert(tags.forall(_.contains("nested")), tags)
  }

  for (failing <- Seq("a.a", "a.b"))
    test(s"both rethrows a failure on nested side $failing only after every side has finished") {
      val done = new ConcurrentLinkedQueue[String]()
      def side(name: String): String =
        if (name == failing) throw new IllegalStateException(name)
        else { Thread.sleep(300); done.add(name); name }
      val e = intercept[IllegalStateException] {
        Checkpoints.both(Checkpoints.both(side("a.a"), side("a.b")),
          Checkpoints.both(side("b.a"), side("b.b")))
      }
      assert(e.getMessage == failing)
      assert(done.asScala.toSet == Set("a.a", "a.b", "b.a", "b.b") - failing,
        "a nested failure escaped before every other side finished")
    }

  test("src/main calls localCheckpoint only in graft/ops/Checkpoints.scala") {
    assert(SourceScan.filesMatching("""\.\s*localCheckpoint\s*\(""".r) ==
      Seq("scala/graft/ops/Checkpoints.scala"))
  }

  test("src/main uses no scala.concurrent Future and no global execution context") {
    assert(SourceScan.filesMatching(
      ("""scala\.concurrent\.(Future\b|\{[^}]*\bFuture\b)|""" +
        """ExecutionContext\s*\.\s*Implicits\s*\.\s*global""").r).isEmpty)
  }
}
