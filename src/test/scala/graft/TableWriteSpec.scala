package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one table-write path: every overwrite of a table commits through
  * `Tables.write`, so only `core/Tables.scala` knows the swap protocol, and
  * a plain DataFrame write is left only where no table is published. */
class TableWriteSpec extends AnyFunSuite {
  private val tables = "scala/graft/core/Tables.scala"
  private val streams = "scala/graft/streaming/Streams.scala"

  test("src/main calls TableSwap only from core/Tables.scala") {
    assert(SourceScan.filesMatching("""\bTableSwap\s*\.""".r)
      .filterNot(_ == "scala/graft/core/TableSwap.scala") == Seq(tables))
  }

  test("plain DataFrame writes: Verify's dump, ScaleUp's extracts, two stream landing writes") {
    val write = """\.\s*write\s*\.""".r
    // Verify's coalesce(1) compare dump and ScaleUp's generated source
    // extracts are not warehouse tables
    assert(SourceScan.filesMatching(write).toSet --
      Set("scala/graft/Verify.scala", "scala/graft/tools/ScaleUp.scala") ==
      Set(tables, streams))
    // the per-batch dirs are listed by name, so a marker beside them would
    // break the landing-id parse and the batch_id= partition discovery
    val code = SourceScan.code(streams)
    val lines = write.findAllMatchIn(code)
      .map(m => code.substring(m.start, code.indexOf('\n', m.start))).toSeq
    assert(lines.size == 2, lines)
    assert(lines.exists(_.contains("/landing/b$id")), lines)
    assert(lines.exists(_.contains("/batch_id=$id")), lines)
  }
}
