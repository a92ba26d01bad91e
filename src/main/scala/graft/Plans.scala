package graft

import graft.queries.Registry

/** Plan inspector: prints the formatted physical plan of the named queries
  * (or all bench queries) — the review loop for shuffle/pushdown/broadcast
  * hygiene. Usage: runMain graft.Plans [queryName ...] */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session(sfDir)
    val wanted = if (args.nonEmpty) Registry.all.filter(q => args.contains(q.name))
                 else Registry.all.filter(_.bench)
    wanted.foreach { q =>
      println(s"\n================ ${q.name} ================")
      q.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
