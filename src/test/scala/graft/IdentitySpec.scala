package graft

import graft.ops.Identity
import org.scalatest.funsuite.AnyFunSuite

/** Scenario tests for set-based identity resolution — known cluster shapes,
  * mirroring the reference's known-entity fixtures
  * (`/root/reference/test_known_families.py`). */
class IdentitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connectedComponents labels chains, triangles, and singletons") {
    val nodes = (1L to 9L).toDF("id")
    // chain 1-2-3-4, triangle 5-6-7, edge 8-8 (self), 9 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L), (8L, 8L))
      .toDF("src", "dst")
    val got = Identity.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("ambiguous fuzzy match resolves deterministically: both candidates merge, min id canonical") {
    // The reference's order-dependent fold would attach record 30 to
    // whichever of 10/20 it scanned first; set-based CC instead merges all
    // three, and the canonical id is the component minimum — the same answer
    // regardless of partitioning, arrival order, or retry.
    val nodes = Seq(10L, 20L, 30L).toDF("id")
    val ambiguous = Seq((30L, 10L), (30L, 20L)).toDF("src", "dst")
    val got = Identity.connectedComponents(nodes, ambiguous)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L))
  }

  test("domain typo fixing links gmail.con to gmail.com but never across real domains") {
    import graft.ops.Normalize
    import org.apache.spark.sql.functions.col
    val fixed = Seq("gmail.con", "gmail.cmo", "GMAIL.COM", "yahoo.met",
        "climb.og", "climb.ogr", "yahoo.net", "nodots", "weird.xyz")
      .toDF("dom").select(col("dom"), Normalize.fixDomainTypos(col("dom")).as("f"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fixed("gmail.con") == "gmail.com" && fixed("gmail.cmo") == "gmail.com")
    assert(fixed("GMAIL.COM") == "gmail.com")
    assert(fixed("yahoo.met") == "yahoo.net" && fixed("yahoo.net") == "yahoo.net")
    assert(fixed("climb.og") == "climb.org" && fixed("climb.ogr") == "climb.org")
    assert(fixed("nodots") == "nodots")       // no TLD: untouched
    assert(fixed("weird.xyz") == "weird.xyz") // unknown TLD: untouched
    assert(fixed("gmail.con") != fixed("yahoo.net")) // typo fix never crosses domains
  }
}
