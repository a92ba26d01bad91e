package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (build.sbt forks tests with the
  * JDK17 add-opens and UTC timezone). */
object TestSpark {

  /** The generated test tables, one directory per scale factor. */
  def data(scale: String): String = s"/root/testdata/$scale"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
