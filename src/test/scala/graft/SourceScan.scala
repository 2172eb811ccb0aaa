package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Main-source text for specs that pin a structural rule of the code
  * base (one session builder, one write of the weather table).
  */
object SourceScan {

  /** `src/main/scala`, resolved against the repo root the tests run in. */
  def mainRoot: Path = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    root
  }

  /** Every `.scala` file under [[mainRoot]]. */
  def mainSources: Seq[Path] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  /** `src` with comments removed, so only code is searched (a scaladoc
    * example may show the call a spec counts). String and char literals
    * are removed too unless `keepStrings`, for a search whose pattern
    * names a literal argument.
    */
  def codeOnly(src: String, keepStrings: Boolean = false): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def literal(start: Int): Unit =
      if (keepStrings) out.append(src.substring(start, math.min(i, n)))
    while (i < n) {
      val start = i
      if (at("//")) while (i < n && src(i) != '\n') i += 1
      else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < n)
      } else if (at("\"\"\"")) {
        i += 3
        while (i < n && !at("\"\"\"")) i += 1
        i += 3
        literal(start)
      } else if (src(i) == '"') {
        i += 1
        while (i < n && src(i) != '"') i += (if (src(i) == '\\') 2 else 1)
        i += 1
        literal(start)
      } else if (at("'\\")) {
        i += 2
        while (i < n && src(i) != '\'') i += 1
        i += 1
        literal(start)
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3
        literal(start)
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }
}
