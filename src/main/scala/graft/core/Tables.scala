package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Named-table IO over a scale-factor directory of parquet files.
  *
  * The reference keeps one logical table per S3 CSV key and re-reads it in every
  * stage (`/root/reference/data_pipeline/upload_data.py:69-95`,
  * `shared/data_loader.py:14-29`). Here a "database" is a directory of parquet
  * tables; reads are lazy scans so Catalyst can push filters/projections into
  * the parquet reader (column pruning + predicate pushdown are the first-order
  * wins at 100 TB — the reference always reads whole files).
  *
  * [[apply]] (batch) and [[stream]] are the only readers of the input tables.
  * Both declare the table's schema, read once per path from its parquet
  * footer, and both pass the frame through the same timestamp
  * normalisation, so a table reads the same way in both modes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Input table `name` under `dir` as a batch scan. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalised(name, spark.read.schema(schemaOf(spark, path)).parquet(path))
  }

  /** Input table `name` under `dir` as a file stream: the files it holds
    * when the stream starts, then each file that lands in it later. The file
    * source takes a directory or a glob, and a single-file table is neither,
    * so the stream reads the one-alternative glob `<dir>/{<name>.parquet}`:
    * it matches the single file or the table directory, whose files the
    * source then lists. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame =
    normalised(name, spark.readStream.schema(schemaOf(spark, s"$dir/$name.parquet"))
      .parquet(s"$dir/{$name.parquet}"))

  /** The parquet timestamp flags, which decide how a footer's timestamps
    * read (see [[normalised]]). */
  private val timestampFlags = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = new ConcurrentHashMap[(String, Seq[Option[String]]), StructType]()

  /** The schema Spark reads from the parquet footer at `path`, once per
    * path and setting of [[timestampFlags]]: inferring it is a Spark job,
    * and the input tables are read-only. */
  private def schemaOf(spark: SparkSession, path: String): StructType =
    schemas.computeIfAbsent((path, timestampFlags.map(spark.conf.getOption)),
      _ => spark.read.parquet(path).schema)

  /** The input timestamps the original generation stored as
    * TIMESTAMP(NANOS). */
  private val timestampCols = Map("events" -> "ts", "orders" -> "o_orderdate")

  /** The input tables' timestamps have shipped in two parquet generations.
    * The original files store TIMESTAMP(NANOS), which Spark 4 rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by [[Session]]) — that
    * reads it as epoch-nanos LongType, converted here to microsecond
    * TimestampType by integral division, the exact truncation DuckDB applies
    * when it reads the same file as TIMESTAMP. Regenerated files store
    * TIMESTAMP(MICROS, isAdjustedToUTC=false); every session also sets
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` so those read as
    * plain (UTC-session) TimestampType with the same epoch-micros values
    * DuckDB sees — not TIMESTAMP_NTZ, which half the time-axis functions
    * (`unix_micros` etc.) reject and which a streaming watermark never
    * advances past. Those come back unchanged. */
  private def normalised(name: String, df: DataFrame): DataFrame =
    timestampCols.get(name).filter(c => df.schema(c).dataType == LongType)
      .fold(df)(c => df.withColumn(c, timestamp_micros(expr(s"$c div 1000"))))

  /** S2: full-table overwrite sink — the reference's whole-file S3 put
    * (`upload_data.py:37-46`), as a proper partition-parallel writer, and
    * the only way the engine overwrites a table. Every write commits through
    * the [[TableSwap]] protocol: recover any interrupted swap, write a
    * sibling tmp dir, then swap it in by renames and stamp the table's
    * `._GRAFT_TABLE` marker. A plain mode("overwrite") deletes the target
    * before the new files land, so a crash mid-write would leave a partial
    * directory that LOOKS like a complete table to the next reader.
    * `partitionCols` lays the table out hive-style (`col=value/` dirs) so
    * reads carrying a predicate on those columns prune whole directories at
    * planning time — for a date-partitioned fact at 100 TB, a trailing-28d
    * mart touches 28 partitions instead of the full history (SURVEY §7.4).
    * Partition columns should be LOW-cardinality (dates, sources): each
    * value is a directory, and a high-cardinality key would shatter the
    * table into millions of small files. */
  def write(df: DataFrame, path: String, format: String = "parquet",
      partitionCols: Seq[String] = Nil): Unit = {
    TableSwap.recover(df.sparkSession, path)
    TableSwap.commit(df.sparkSession, path)(
      df.write.mode("overwrite").format(format)
        .partitionBy(partitionCols: _*)
        .option("header", "true") // no-op for parquet, header for csv parity
        .save(_))
  }

  /** The committed parquet table at `path`, read after [[TableSwap.recover]]
    * has finished or rolled back any interrupted swap; `None` when no table
    * exists there yet. The read side of a read-merge-[[write]] cycle. */
  def committed(spark: SparkSession, path: String): Option[DataFrame] = {
    TableSwap.recover(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path))
    else None
  }

  /** S3: snapshot sink — besides the live table, a dated immutable copy
    * (`pipeline_handler.py:343-354` writes `…_YYYY-MM-DD` on month start). */
  def writeSnapshot(df: DataFrame, basePath: String, asOfDate: String): Unit = {
    write(df, basePath)
    write(df, s"${basePath}_$asOfDate")
  }

  final case class CompactStats(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Small-file compaction: rewrite a directory-backed parquet table into
    * ceil(bytes / targetBytes) files through [[write]]'s atomic-replace
    * swap. Incremental ingest (streaming upserts, per-batch appends)
    * accumulates files far smaller than a scan-efficient split — at warehouse
    * scale the resulting per-file open/footer overhead dominates scan time,
    * so compaction is a first-class maintenance op, not an afterthought.
    * No-ops (without rewriting) when the table already has that few files.
    * The rewrite is one round-robin repartition — no shuffle key, content
    * preserved as a set. */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L << 20): CompactStats = {
    TableSwap.recover(spark, tableDir)
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(path).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val bytes = dataFiles.map(_.getLen).sum
    val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (dataFiles.length <= target)
      return CompactStats(dataFiles.length, dataFiles.length, bytes)
    write(spark.read.parquet(tableDir).repartition(target), tableDir)
    CompactStats(dataFiles.length, target, bytes)
  }

  /** Time-travel read over [[writeSnapshot]]'s dated copies: the newest
    * snapshot at or before `asOfDate` (ISO dates order lexically, so the
    * resolution is a pure name comparison — no file opens). Errors out when
    * nothing that old exists rather than silently serving a later state. */
  def asOf(spark: SparkSession, basePath: String, asOfDate: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = base.getName + "_"
    val dateShape = "\\d{4}-\\d{2}-\\d{2}".r
    val dates = fs.listStatus(base.getParent).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix) }
      .filter(d => dateShape.matches(d) && d <= asOfDate)
    require(dates.nonEmpty, s"no snapshot of $basePath at or before $asOfDate")
    spark.read.parquet(s"${basePath}_${dates.max}")
  }

  /** S1 CSV parity source: schema-on-read CSV with explicit StructType and
    * null-on-error coercion, matching `pd.read_csv` + `to_datetime(errors=
    * 'coerce')` (`shared/data_loader.py:21-28`). */
  def readCsv(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.option("header", "true").option("mode", "PERMISSIVE").schema(schema).csv(path)

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  // NOTE (r12 optimization round, measured REJECTION): a scan-parallelism
  // floor — repartition(cores) after the read when the file layout yields
  // < cores/2 scan partitions (the single-file/one-row-group testdata
  // shape) — was prototyped here for documents/embeddings and rejected on
  // interleaved in-JVM A/B: the added exchange plus the 32-tiny-partition
  // inheritance through every downstream stage cost MORE than the extra
  // scan parallelism bought on every consumer measured (c3 1.24×, c5 1.43×,
  // d10 1.23×, k6 2.4×, ml6 2.3× WORSE; only t28 improved). The
  // "single-task 2-2.6 s scan stages" that motivated it were cold-run
  // codegen-compile artifacts, not steady-state compute. See
  // OPTIMIZATION_r12.md "Measured rejections".
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
