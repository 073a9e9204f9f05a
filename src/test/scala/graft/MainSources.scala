package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source guards over `src/main/scala`: the tests that keep one way of
  * doing a thing (one session factory, one registration path) fail on
  * any match outside the file that owns it, and the entry-point guard
  * fails on a public `def` nothing names. Run from the repo root. */
object MainSources {
  private val root = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")

  private def scalaFiles(dir: Path): List[Path] = {
    require(Files.isDirectory(dir),
      s"run from the repo root: no $dir under ${sys.props("user.dir")}")
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toList.sorted
    finally files.close()
  }

  private def read(f: Path): String =
    new String(Files.readAllBytes(f), "UTF-8")

  private def lineOf(text: String, offset: Int): Int =
    text.take(offset).count(_ == '\n') + 1

  /** "path:line" of every match of `pattern` in a `.scala` file under
    * src/main/scala other than `owner` (relative to that root). */
  def matchesOutside(pattern: scala.util.matching.Regex,
      owner: String): List[String] = {
    val exempt = root.resolve(owner)
    scalaFiles(root).filter(_ != exempt).flatMap { f =>
      val text = read(f)
      pattern.findAllMatchIn(text).map(m => s"$f:${lineOf(text, m.start)}")
    }
  }

  /** `text` with every `//` and `/* */` comment blanked (newlines kept,
    * so offsets still map to lines). String and character literals are
    * copied as they are: a `//` inside a string is not a comment. */
  def withoutComments(text: String): String = {
    val out = new java.lang.StringBuilder(text.length)
    var i = 0
    val n = text.length
    def copyTo(end: Int): Unit = { out.append(text, i, end); i = end }
    while (i < n) {
      if (text.startsWith("\"\"\"", i)) {
        var e = text.indexOf("\"\"\"", i + 3)
        e = if (e < 0) n else e + 3
        while (e < n && text(e) == '"') e += 1
        copyTo(e)
      } else if (text(i) == '"') {
        var e = i + 1
        while (e < n && text(e) != '"' && text(e) != '\n')
          e += (if (text(e) == '\\') 2 else 1)
        copyTo(math.min(e + 1, n))
      } else if (text(i) == '\'' && i + 2 < n && text(i + 2) == '\'') {
        copyTo(i + 3)
      } else if (text.startsWith("//", i)) {
        val e = text.indexOf('\n', i)
        i = if (e < 0) n else e
      } else if (text.startsWith("/*", i)) {
        var e = text.indexOf("*/", i + 2)
        e = if (e < 0) n else e + 2
        out.append("\n" * text.substring(i, e).count(_ == '\n'))
        i = e
      } else copyTo(i + 1)
    }
    out.toString
  }

  private val Def = ("""(?m)^[ \t]*((?:(?:(?:private|protected)(?:\[\w+\])?""" +
    """|override|final|implicit|inline|lazy|@\w+)\s+)*)def\s+(\w+)""").r

  /** "path:line name" of every public, non-override `def` under
    * src/main/scala (other than `apply`, `unapply` and `main`) whose
    * name appears, outside comments, nowhere in src/main or src/test but
    * at its own definitions. A name used in a string counts: SQL names
    * the registered functions. */
  def uncalledPublicDefs(): List[String] = {
    val main = scalaFiles(root).map(f => f -> withoutComments(read(f)))
    val all = main ++ scalaFiles(testRoot).map(f => f -> withoutComments(read(f)))
    val defs = main.flatMap { case (f, text) =>
      Def.findAllMatchIn(text).map { m =>
        (f, lineOf(text, m.start), m.group(2), m.group(1))
      }
    }
    val defSites = defs.groupBy(_._3).map { case (k, v) => k -> v.size }
    // word tokens: a name's token count is its word-bounded count (`$x`
    // in an interpolated string is a use of x)
    val tokens = all.flatMap { case (_, text) => """\w+""".r.findAllIn(text) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    def uses(name: String): Int = tokens.getOrElse(name, 0)
    defs.filter { case (_, _, name, mods) =>
      !mods.contains("private") && !mods.contains("protected") &&
        !mods.contains("override") &&
        !Set("apply", "unapply", "main").contains(name)
    }.filter { case (_, _, name, _) => uses(name) <= defSites(name) }
      .map { case (f, line, name, _) => s"$f:$line $name" }
  }
}
