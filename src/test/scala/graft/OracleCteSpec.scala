package graft

import org.scalatest.funsuite.AnyFunSuite

/** DuckDB inlines a CTE at every reference unless it is marked
  * `MATERIALIZED`, so an oracle that reads a pair-join CTE twice runs the
  * join twice (a CTE-heavy oracle then takes minutes instead of seconds at
  * sf0.1). Every oracle CTE used more than once must be marked. */
class OracleCteSpec extends AnyFunSuite {
  import OracleCteSpec._

  test("every oracle CTE referenced more than once is MATERIALIZED") {
    val unmarked = for {
      (query, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      c <- ctes(sql) if c.uses > 1 && !c.materialized
    } yield s"$query: ${c.name} (${c.uses} uses)"
    assert(unmarked.isEmpty, unmarked.mkString("\n"))
  }

  test("the CTE reader counts FROM-list, JOIN and USING-list uses outside the CTE's own body") {
    val sql =
      """WITH RECURSIVE a AS (SELECT 1 AS x), -- a comment naming FROM b, it's skipped
        |b AS MATERIALIZED (SELECT x FROM a),
        |r(i) AS (SELECT 1 UNION ALL SELECT i + 1 FROM r WHERE i < 3),
        |c AS (SELECT 'FROM c' AS s)
        |SELECT b.x, c FROM b JOIN b b2 USING (x), c
        |WHERE c.s <> 'JOIN a' AND b.x IN (SELECT i FROM r)""".stripMargin
    assert(ctes(sql).map(c => (c.name, c.uses, c.materialized)) == Seq(
      ("a", 1, false), ("b", 2, true), ("r", 1, false), ("c", 1, false)))
  }
}

object OracleCteSpec {
  final case class Cte(name: String, uses: Int, materialized: Boolean)

  private val Id = """[A-Za-z_]\w*"""
  private val Header = ("""(?i)(?:\bWITH(?:\s+RECURSIVE)?|,)\s*(""" + Id +
    """)\s*(?:\([^()]*\))?\s+AS\s+(NOT\s+MATERIALIZED\s+|MATERIALIZED\s+)?\(""").r
  private val Elem = Id + """(?!\s*\()(?:\s+(?:AS\s+)?""" + Id + ")?"
  private val FromList = ("""(?i)\bFROM\s+(""" + Elem + """(?:\s*,\s*""" + Elem + ")*)").r
  private val Joined = ("""(?i)(?:\bJOIN\s+|\bUSING\s*\([^()]*\)\s*,\s*)(""" + Id +
    """)\b(?!\s*\()""").r

  /** `sql` with comments and string literals blanked to spaces, so offsets
    * stay put and neither can fake a header or a use. */
  private def code(sql: String): String =
    """(?s)--[^\n]*|/\*.*?\*/|'(?:[^']|'')*'""".r
      .replaceAllIn(sql, m => " " * m.matched.length)

  /** The offset of the paren that closes the one at `open`. */
  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      if (s(i) == '(') depth += 1
      else if (s(i) == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    s.length
  }

  /** Every CTE of `sql` with its number of uses: names in a FROM list or
    * after JOIN (or after a JOIN's USING list), outside the CTE's own
    * body. */
  def ctes(sql: String): Seq[Cte] = {
    val s = code(sql)
    val uses: Seq[(String, Int)] =
      FromList.findAllMatchIn(s).toSeq.flatMap { m =>
        ("""(?:^|,)\s*(""" + Id + ")").r.findAllMatchIn(m.group(1))
          .map(e => (e.group(1).toLowerCase, m.start(1) + e.start(1)))
      } ++ Joined.findAllMatchIn(s).map(m => (m.group(1).toLowerCase, m.start(1)))
    Header.findAllMatchIn(s).map { h =>
      val name = h.group(1).toLowerCase
      val (open, close) = (h.end - 1, closing(s, h.end - 1))
      Cte(name, uses.count { case (n, at) => n == name && (at < open || at > close) },
        Option(h.group(2)).exists(!_.toUpperCase.startsWith("NOT")))
    }.toSeq
  }
}
