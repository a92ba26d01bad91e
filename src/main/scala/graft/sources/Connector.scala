package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Pluggable source abstraction (SURVEY.md §2.1 S4/S5).
  *
  * The reference has ~20 `fetch_*.py` modules that page REST APIs
  * (offset, cursor, and auto-paging iterators —
  * `/root/reference/data_pipeline/fetch_capitan_membership_data.py:31-109`,
  * `fetch_square_data.py:128-177`, `fetch_stripe_data.py:123-160`) into
  * row lists. The engine keeps network IO out of core and models every
  * source as "something that yields a DataFrame": a paged connector whose
  * page-fetch function is injected — API clients plug in there, tests
  * inject synthetic pagers. File-backed tables are read through
  * `graft.core.Tables`.
  *
  * Paged fetches are driver-side by nature (sequential cursors — the
  * reference takes ~21 min for one such fetch); the contract is that a
  * connector returns an already-parallelized DataFrame, so everything
  * downstream of ingest is distributed regardless of how rows arrived.
  */
trait Connector {
  def load(spark: SparkSession): DataFrame
}

/** S4: cursor/offset pagination — `fetchPage(cursor)` returns a page of rows
  * plus the next cursor (None = done), exactly the loop every reference
  * fetcher hand-rolls. Pages accumulate driver-side (that is what paging an
  * API means) and parallelize once at the end. */
final class PagedConnector[C](schema: StructType, start: C,
    fetchPage: C => (Seq[Row], Option[C]), maxPages: Int = 10000) extends Connector {
  override def load(spark: SparkSession): DataFrame = {
    val buf = Seq.newBuilder[Row]
    var cursor: Option[C] = Some(start)
    var pages = 0
    while (cursor.isDefined && pages < maxPages) {
      val (rows, next) = fetchPage(cursor.get)
      buf ++= rows
      cursor = next
      pages += 1
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(buf.result(), math.max(1, pages)), schema)
  }
}
