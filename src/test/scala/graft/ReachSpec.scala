package graft

import org.scalatest.funsuite.AnyFunSuite

/** Main code is reached from main code: a public (or `private[graft]`)
  * definition whose name occurs nowhere in `src/main` but where it is
  * defined is called only by specs, if at all. Such code is deleted, or made
  * reachable from a main, the registry or the pipeline, or it stays on the
  * allow-list below with the reason it is kept. */
class ReachSpec extends AnyFunSuite {

  private val allowed = Map(
    "PagedConnector" ->
      "the injected-pager REST source seam SURVEY §2.1 S4 asks for; the engine has no network source",
    "simhash64NearDup" ->
      "the 4-band reference path OpsSpec checks the Manku path (d5) against, pair for pair")

  test("every public src/main definition is reached from src/main, or allow-listed with a reason") {
    val defs = SourceScan.definitions
    assert(defs.exists(d => d.name == "runToEnd" && d.occurrences > 1), "the scan finds no members")
    val unreached = defs.filter(_.occurrences == 1)
    val names = unreached.map(_.name).toSet
    val unlisted = unreached.filterNot(d => allowed.contains(d.name))
    if (unlisted.nonEmpty) fail("reached only from specs, if at all:\n" +
      unlisted.map(d => s"  ${d.file}:${d.line} ${d.name}").mkString("\n"))
    val stale = allowed.keySet -- names
    if (stale.nonEmpty) fail(s"allow-listed but reached from src/main, or gone: ${stale.mkString(", ")}")
    assert(allowed.values.forall(_.trim.nonEmpty))
  }
}
