package graft

/** Source guards over `src/main/scala`: the tests that keep one way of
  * doing a thing (one session factory, one registration path) fail on
  * any match outside the file that owns it. Run from the repo root. */
object MainSources {
  private val root = java.nio.file.Paths.get("src/main/scala")

  /** "path:line" of every match of `pattern` in a `.scala` file under
    * src/main/scala other than `owner` (relative to that root). */
  def matchesOutside(pattern: scala.util.matching.Regex,
      owner: String): List[String] = {
    import scala.jdk.CollectionConverters._
    require(java.nio.file.Files.isDirectory(root),
      s"run from the repo root: no $root under ${sys.props("user.dir")}")
    val exempt = root.resolve(owner)
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(_ != exempt)
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        pattern.findAllMatchIn(text).map { m =>
          s"$f:${text.take(m.start).count(_ == '\n') + 1}"
        }
      }.toList.sorted
    finally files.close()
  }
}
