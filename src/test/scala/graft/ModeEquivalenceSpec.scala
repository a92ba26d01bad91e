package graft

import graft.core.Sizing
import graft.core.Sizing.{Compiled, Interpreted}
import graft.queries.Registry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Both execution modes give the same output. The suites run at sf0.001,
  * which `Sizing.mode` runs interpreted, so this spec forces each mode in
  * turn and keeps the compiled path covered at that scale too. The queries
  * span the plan shapes and the engine's own expressions and operators:
  * checkpoint barriers, native codegen expressions, a `CodegenFallback`
  * generator, a typed aggregate, a custom physical join, and a streaming
  * seat. */
class ModeEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.data("sf0.001")

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and an order-independent content hash (exact decimal sum of
    * per-row xxhash64; maps, which Spark cannot hash, via their JSON form). */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols: Seq[Column] = df.columns.toSeq.zip(df.schema.fields).map { case (n, f) =>
      if (hasMap(f.dataType)) to_json(col(s"`$n`")) else col(s"`$n`")
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def inMode(name: String, m: Sizing.Mode): (Long, BigDecimal) = {
    val q = Registry.declared.find(_.name == name).getOrElse(fail(s"no query $name"))
    val df = q.run(Sizing.session(spark, m), sf)
    assert(Sizing.runsIn(df.sparkSession, m), s"$name did not run $m")
    digest(df)
  }

  for ((name, what) <- Seq(
      "c3_curation_containment" -> "curation stack, containment",
      "c4_curation_dsir" -> "curation stack, DSIR (nested Checkpoints.both chains)",
      "s1_scan_prune" -> "scan with pruning",
      "gr5_ppr_lookalike" -> "PPR checkpoint iterations",
      "k17_index_rot_audit" -> "FloatDot",
      "j7b_fuzzy_bounded_native" -> "BoundedLevenshtein",
      "g4b_pairwise_generator" -> "PairCombinations (CodegenFallback generator)",
      "a4c_hll_custom" -> "HllSketch",
      "j5b_asof_native" -> "AsOfJoinPlan",
      "st17_stream_txn_waterfall" -> "streaming on a cloned session"))
    test(s"$name ($what): same rows and hash interpreted and compiled") {
      val interpreted = inMode(name, Interpreted)
      val compiled = inMode(name, Compiled)
      assert(interpreted._1 > 0, s"$name returned no rows")
      assert(interpreted == compiled)
    }
}
