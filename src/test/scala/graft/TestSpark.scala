package graft

import graft.core.Session
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built like every main's
  * (build.sbt forks tests with the JDK17 add-opens and UTC timezone). */
object TestSpark {

  /** The generated test tables, one directory per scale factor. */
  def data(scale: String): String = s"/root/testdata/$scale"

  /** Four threads and four shuffle partitions: build.sbt pins
    * `SPARK_GRAFT_CPUS=4` for the forked test JVM, so specs that count
    * partitions or tasks see the same session on every host. */
  lazy val spark: SparkSession = Session(data("sf0.001"))
}
