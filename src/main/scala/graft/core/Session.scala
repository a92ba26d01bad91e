package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession builder. Every main (and the test session)
  * gets its session here, so a correctness setting is decided once instead
  * of remembered by each caller:
  *  - `local[cpus]`, `cpus` from `SPARK_GRAFT_CPUS` (default 4);
  *  - the Catalyst extensions ([[graft.plans.GraftExtensions]]);
  *  - shuffle partitions derived from the input directory ([[Sizing]]);
  *  - UTC session time, AQE on, UI off, log level WARN;
  *  - both parquet timestamp flags. The testdata has shipped timestamps in
  *    two generations: `nanosAsLong` reads the original TIMESTAMP(NANOS)
  *    files as epoch-nanos longs (converted by `Tables` on read), and with
  *    `inferTimestampNTZ` off the regenerated TIMESTAMP(MICROS,
  *    isAdjustedToUTC=false) files read as TIMESTAMP, not TIMESTAMP_NTZ,
  *    which `unix_micros` rejects in batch and streaming watermarks silently
  *    never advance past.
  */
object Session {

  /** Worker threads for a main: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The conf every session carries for work over `dataDir` on `cpus`
    * threads. */
  def settings(dataDir: String, cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> Sizing.shufflePartitions(dataDir, cpus).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  /** A local session for work over `dataDir`. Prints the
    * [[Sizing.describe]] line on stderr (stdout stays free for a main's own
    * output). `getOrCreate` ignores extensions when a default session
    * already exists; a caller that needs a fresh session clears the default
    * first. */
  def apply(dataDir: String): SparkSession = {
    System.err.println(Sizing.describe(dataDir))
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config(settings(dataDir, n))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
