package graft

/** Local smoke: mirrors the driver's `SparkEntry.entry` rows>0 check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session(SparkEntry.EntryData)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
