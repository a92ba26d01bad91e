package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.core.{Sizing, Tables}
import graft.queries.{Q, Registry}
import org.apache.spark.sql.SparkSession

/** Session construction and the timed set-up. The settings are
  * `DailyPipeline.main`'s: shuffle partitions from `Sizing`, AQE on, the two
  * parquet timestamp flags every session in the engine sets. Scratch
  * directories stay inside the run's work directory. */
object Session {
  val Cores = 4

  /** A small query run as the last step of set-up, so the first measured
    * op is not charged for class loading and code generation. */
  val WarmupQuery = "s1_scan_prune"

  def build(data: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", Sizing.shufflePartitions(data, Cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def query(name: String): Q =
    Registry.all.find(_.name == name).getOrElse(sys.error(s"unknown query $name"))

  /** Builds the session, opens every table and runs the warm-up query
    * (which must match its digest). Returns the session and the seconds
    * since `launchedMs`, the epoch millisecond at which the process was
    * launched: set-up as the daily job pays it, JVM and Spark start included. */
  def setup(data: String, work: String, launchedMs: Long, check: Runner.Check,
      results: Ops): (SparkSession, Double) = {
    val spark = build(data, work)
    Tables.names.foreach(n => Tables(spark, data, n).schema)
    val warm = query(WarmupQuery)
    val r = results.add(Runner.query(spark, warm.name, () => warm.run(spark, data), check))
    if (!r.ok) sys.error(s"warm-up query failed: ${r.error.get}")
    (spark, (System.currentTimeMillis() - launchedMs) / 1e3)
  }

  /** Peak resident set of this JVM (VmHWM); in local mode it is the engine. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("VmHWM not available"))
    line.split("\\s+")(1).toLong / 1024.0
  }
}

/** The largest heap occupancy left after any garbage collection since
  * [[start]]: an estimate of the most the engine kept live. VmHWM cannot show
  * it, because the heap is committed in full at start. */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
    }

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb(): Double = peak.get / (1024.0 * 1024.0)
}

/** Every op a run attempted, in order; shared by the client threads. */
final class Ops {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[OpResult]()
  def add(r: OpResult): OpResult = { buf.add(r); r }
  def all: Seq[OpResult] = { import scala.jdk.CollectionConverters._; buf.asScala.toSeq }
}
