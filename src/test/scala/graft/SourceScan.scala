package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source-scan guard for the specs: which `src/main` Scala files contain
  * `code` in their code, with comments stripped so a comment may still name
  * an API. Paths come back relative to `src/main`, sorted. */
object SourceScan {

  def filesMatching(code: Regex): Seq[String] = {
    def matches(p: Path): Boolean = {
      val text = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      code.findFirstIn(text).isDefined
    }
    val root = Paths.get("src/main")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(matches)
      .map(p => root.relativize(p).toString).toSeq.sorted
  }
}
