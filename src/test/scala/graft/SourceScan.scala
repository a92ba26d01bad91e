package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source-scan guard for the specs: which `src/main` Scala files contain
  * `code` in their code, with comments stripped so a comment may still name
  * an API. Paths come back relative to `src/main`, sorted. */
object SourceScan {

  private val root = Paths.get("src/main")

  private def files: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  private def rel(p: Path): String = root.relativize(p).toString

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** `src` with every comment removed, line breaks kept. With `blank`, the
    * string and char literals (interpolations included) become spaces too,
    * so a brace or keyword inside a literal is not code. */
  private final class Lexer(src: String, blank: Boolean) {
    private val out = new StringBuilder(src.length)
    private var i = 0

    private def emit(c: Char, lit: Boolean): Unit =
      out += (if (blank && lit && c != '\n') ' ' else c)

    private def take(n: Int, lit: Boolean): Unit =
      for (_ <- 0 until n if i < src.length) { emit(src(i), lit); i += 1 }

    /** Code up to the end, or (`nested`) up to the `}` closing a `${`. */
    private def code(lit: Boolean, nested: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src(i)
        if (src.startsWith("//", i)) {
          while (i < src.length && src(i) != '\n') i += 1
        } else if (src.startsWith("/*", i)) {
          val end = src.indexOf("*/", i + 2) match { case -1 => src.length; case e => e + 2 }
          emit(' ', lit)
          src.substring(i, end).filter(_ == '\n').foreach(emit(_, lit))
          i = end
        } else if (c == '"') {
          string(lit, i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_'))
        } else if (c == '\'' && charLit > 0) {
          take(charLit, lit = true)
        } else if (c == '}' && nested && depth == 0) {
          return
        } else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          take(1, lit)
        }
      }
    }

    /** Length of the char literal at `i` ('x', '\n', '\'', '\u0041'), or 0
      * (a lone quote, as in a symbol). */
    private def charLit: Int =
      if (src.startsWith("\\u", i + 1)) 8
      else if (src.startsWith("\\", i + 1) && src.startsWith("'", i + 3)) 4
      else if (src.startsWith("'", i + 2)) 3
      else 0

    private def string(lit: Boolean, interp: Boolean): Unit = {
      val q = if (src.startsWith("\"\"\"", i)) "\"\"\"" else "\""
      take(q.length, lit = true)
      while (i < src.length && !src.startsWith(q, i)) {
        if (q.length == 1 && src(i) == '\\') take(2, lit = true)
        else if (interp && src.startsWith("$$", i)) take(2, lit = true)
        else if (interp && src.startsWith("${", i)) {
          take(2, lit = true); code(lit = true, nested = true); take(1, lit = true)
        } else take(1, lit = true)
      }
      while (q.length == 3 && src.startsWith("\"\"\"\"", i)) take(1, lit = true)
      take(q.length, lit = true)
    }

    def result: String = { code(lit = false, nested = false); out.result() }
  }

  private def stripped(p: Path): String = new Lexer(read(p), blank = false).result

  /** The code of one `src/main` file (`rel` as `filesMatching` returns it),
    * comments stripped. */
  def code(rel: String): String = stripped(root.resolve(rel))

  def filesMatching(code: Regex): Seq[String] =
    files.filter(p => code.findFirstIn(stripped(p)).isDefined).map(rel)

  /** One member definition of `src/main`: where it is, and how many times
    * its name occurs as a token in all of `src/main` (comments stripped,
    * string literals kept, the definition itself included). */
  final case class Definition(file: String, line: Int, name: String, occurrences: Int)

  private val token = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val structure =
    ("""\{|\}|((?:(?:private|protected)(?:\[\w+\])?\s+|""" +
      """(?:override|final|case|sealed|abstract|implicit|lazy)\s+)*)""" +
      """\b(def|val|var|class|object|trait)\s+([A-Za-z_]\w*)""").r

  /** Every public or `private[graft]` def, val, var, class, object and
    * trait that is a member of a top-level or nested class, object or trait
    * (not a local of a method body or of an anonymous class). `override`
    * members, and the objects that define a `main`, are left out. */
  def definitions: Seq[Definition] = {
    val counts = files.flatMap(p => token.findAllIn(stripped(p)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    files.flatMap { p =>
      val src = new Lexer(read(p), blank = true).result
      // enclosing braces, innermost first: Some(name) for a template body
      var stack = List.empty[Option[String]]
      var pending = Option.empty[String] // a class/object/trait header awaiting its `{`
      val found = Seq.newBuilder[(Int, String, String)]
      val mains = Set.newBuilder[String]
      for (m <- structure.findAllMatchIn(src)) m.matched match {
        case "{" => stack = pending :: stack; pending = None
        case "}" => stack = stack.drop(1); pending = None
        case _ =>
          val (mods, kw, name) = (m.group(1), m.group(2), m.group(3))
          if (stack.forall(_.isDefined)) {
            val visible = !mods.contains("protected") &&
              (!mods.contains("private") || mods.contains("private[graft]"))
            if (visible && !mods.contains("override"))
              found += ((src.substring(0, m.start(2)).count(_ == '\n') + 1, kw, name))
            if (kw == "def" && name == "main") stack.headOption.flatten.foreach(mains += _)
          }
          pending = if (Set("class", "object", "trait")(kw)) Some(name) else None
      }
      val mainObjects = mains.result()
      found.result().collect { case (line, kw, name)
          if !(kw == "object" && mainObjects(name)) && !(kw == "def" && name == "main") =>
        Definition(rel(p), line, name, counts.getOrElse(name, 0))
      }
    }
  }
}
