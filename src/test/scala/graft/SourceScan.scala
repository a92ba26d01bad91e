package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source-scan guard for the specs: which `src/main` Scala files contain
  * `code` in their code, with comments stripped so a comment may still name
  * an API. Paths come back relative to `src/main`, sorted. */
object SourceScan {

  private val root = Paths.get("src/main")

  private def stripped(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** The code of one `src/main` file (`rel` as `filesMatching` returns it),
    * comments stripped. */
  def code(rel: String): String = stripped(root.resolve(rel))

  def filesMatching(code: Regex): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => code.findFirstIn(stripped(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq.sorted
}
