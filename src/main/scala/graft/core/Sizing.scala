package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Data-derived shuffle-partition sizing — the deploy-time knob, computed
  * from the data instead of remembered by an operator.
  *
  * The round-8 sf10 probes established the failure mode: a FIXED
  * `spark.sql.shuffle.partitions` (32, right for the gated scales) puts 10×
  * the intended volume in each sort/join partition at the next decade and
  * spills (m7 36.7 → 5.8 s and d11 442 → 213 s at 256 partitions, same
  * outputs). A real cluster sizes partitions to the data; this derives the
  * same answer from the input footprint:
  *
  *   partitions = clamp(inputBytes × expansion / targetBytesPerPartition,
  *                      cpus, cap)
  *
  * with expansion 10× (snappy parquet decodes to roughly an order of
  * magnitude more row bytes — measured on the testdata tables) and the
  * per-partition target 64 MiB, matching AQE's advisory size. The number
  * only needs to be RIGHT-SIZED FOR THE BIGGEST shuffle: AQE coalescing
  * (enabled in every session here) merges small post-shuffle partitions
  * back to the advisory size at runtime from MEASURED map output, so the
  * cost of a generous initial number at small scale is scheduling overhead
  * AQE removes. Validated at sf10: the derived count (~224 for the 1.5 GB
  * directory) reproduces the measured 256-partition A/B envelope on m7/d11
  * with no env knob set.
  *
  * The same footprint picks the execution mode ([[mode]]). When the whole
  * decoded input fits in one advisory partition, a query's run time is
  * mostly code generation: a cold 13-job slice of the warehouse build over
  * sf0.01 (1.87 MB) compiled 966 classes in 37.3 s of Janino time, against
  * 82 classes and 4.0 s interpreted (BENCH_NOTES.md). Such work runs
  * interpreted; anything bigger keeps Spark's compiled default.
  */
object Sizing {

  /** Decoded-row expansion over snappy parquet bytes (order of magnitude). */
  val Expansion = 10L

  /** Per-partition in-flight target — AQE's advisory partition size. */
  val TargetBytes: Long = 64L << 20

  // Parsed once: building a Configuration re-reads its XML defaults (~10 ms),
  // and the mode is looked up on every query call.
  private lazy val hadoopConf = new Configuration()

  /** Total on-disk footprint of a scale directory (any Hadoop filesystem —
    * the same call works on HDFS/S3A paths on a real cluster). 0 when the
    * path is missing or unreadable: the caller then falls back to `cpus`,
    * and [[mode]] to compiled. */
  def inputBytes(dir: String): Long =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: Throwable => 0L }

  /** Shuffle-partition count for a job over `dir`: at least `cpus` (full
    * thread utilization at gated scales), at most `cap` (per-partition
    * scheduling overhead dominates beyond ~1k on one box; a multi-node
    * deployment raises it with executor count). */
  def shufflePartitions(dir: String, cpus: Int, cap: Int = 1024): Int = {
    val derived = (inputBytes(dir) * Expansion / TargetBytes).toInt
    math.min(cap, math.max(cpus, derived))
  }

  /** How the work over one input directory executes. */
  sealed abstract class Mode(val name: String, val settings: Map[String, String])

  /** Whole-stage code generation, expressions compiled (Spark's default). */
  case object Compiled extends Mode("compiled", Map(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "FALLBACK"))

  /** No whole-stage code generation, and expressions take their interpreted
    * paths instead of compiled ones. */
  case object Interpreted extends Mode("interpreted", Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Interpreted when the decoded input fits in one advisory partition
    * (`bytes × Expansion < TargetBytes`); then compile time would exceed the
    * run time it saves. Unknown size (0) is never small: an unreadable
    * remote path may hold any volume, so it runs compiled. */
  def mode(bytes: Long): Mode =
    if (bytes > 0 && bytes * Expansion < TargetBytes) Interpreted else Compiled

  def mode(dir: String): Mode = mode(inputBytes(dir))

  /** Whether `s`'s conf already selects `m`. */
  def runsIn(s: SparkSession, m: Mode): Boolean =
    m.settings.forall { case (k, v) => s.conf.get(k) == v }

  /** `s` itself when it already runs in `m`, else a clone of `s` (same
    * listeners, temp views and functions) set to `m`, so the mode stays local
    * to the work given the clone and never leaks into the caller's session. */
  def session(s: SparkSession, m: Mode): SparkSession =
    if (runsIn(s, m)) s else GraftBridge.cloneWith(s, m.settings)

  /** One log line naming the mode chosen for `dir` and the figures behind it. */
  def describe(dir: String): String = {
    val bytes = inputBytes(dir)
    val m = mode(bytes)
    val limit = s"${TargetBytes >> 20} MiB"
    val why =
      if (bytes <= 0) s"input size unknown ($dir)"
      else f"input ${bytes / 1e6}%.2f MB x $Expansion ${if (m == Interpreted) "<" else ">="} $limit"
    s"[sizing] $why -> ${m.name}"
  }
}
