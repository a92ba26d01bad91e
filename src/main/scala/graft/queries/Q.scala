package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared engine query: a Spark program plus (when SQL-expressible) an
  * equivalent DuckDB oracle statement over the same parquet tables.
  *
  * `bench = true` marks the headline queries `graft.Bench` times per round.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Q {

  /** Cross-engine deterministic sum of a double column.
    *
    * Double addition is order-dependent, and Spark's partial/final aggregation
    * order differs run-to-run and engine-to-engine; a raw `sum(double)` can
    * hash-mismatch the DuckDB oracle in the low bits. Summing exact decimals is
    * associative — identical in any order — so: cast to DECIMAL(18,4), sum
    * exactly, cast the total back to double. The oracle side mirrors it as
    * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Oracle-side spelling of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(18,4))) AS DOUBLE)"

  /** Epoch microseconds — the cross-engine time axis.
    *
    * `events.ts` is nanosecond-precision in parquet; both Spark and DuckDB
    * truncate it to microseconds on read, so epoch-micros arithmetic is exact
    * and identical in both engines: Spark `unix_micros`, DuckDB `epoch_us`.
    */
  def usecs(c: Column): Column = unix_micros(c)

  def usecsSql(expr: String): String = s"epoch_us($expr)"

  /** Second-granularity formatted timestamp for human-readable output cols. */
  def tsFmt(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  def tsFmtSql(expr: String): String = s"strftime(($expr), '%Y-%m-%d %H:%M:%S')"
}
