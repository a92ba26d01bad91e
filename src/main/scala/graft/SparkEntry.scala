package graft

import graft.core.Tables
import graft.queries.{Q, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The scale directory [[entry]] reads. */
  val EntryData = "/root/testdata/sf0.001"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by (nation, month) through broadcast dims — scan → broadcast
    * joins → hash agg, the engine's bread-and-butter shape. */
  def entry(spark: SparkSession): DataFrame = {
    val d = EntryData
    val li = Tables.lineitem(spark, d)
    val sup = Tables.supplier(spark, d)
    val nat = Tables.nation(spark, d)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
