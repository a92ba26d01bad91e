package graft

import graft.sources.PagedConnector
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source connectors: the paged connector must drain a cursor sequence into
  * one DataFrame. */
class ConnectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("PagedConnector drains an offset-paged source in order") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val all = (1L to 95L).map(i => Row(i, s"row_$i"))
    // 10-row pages keyed by offset, like the Capitan fetcher's offset loop
    def fetch(offset: Int): (Seq[Row], Option[Int]) = {
      val page = all.slice(offset, offset + 10)
      (page, if (offset + 10 < all.size) Some(offset + 10) else None)
    }
    val df = new PagedConnector[Int](schema, 0, fetch).load(spark)
    assert(df.count() == 95)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (1L to 95L).sum)
  }

  test("PagedConnector respects the page cap (runaway-cursor guard)") {
    val schema = StructType(Seq(StructField("id", LongType)))
    def loop(c: Int): (Seq[Row], Option[Int]) = (Seq(Row(c.toLong)), Some(c + 1))
    val df = new PagedConnector[Int](schema, 0, loop, maxPages = 7).load(spark)
    assert(df.count() == 7)
  }
}
