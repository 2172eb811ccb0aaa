package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Harness]] as the one session builder: no other main-source
  * file builds a SparkSession or SparkContext, and the conf it builds
  * carries the run configuration every harness main relies on.
  */
class HarnessSpec extends AnyFunSuite {

  /** `src` with comments and string/char literals removed, so only code
    * is searched (a scaladoc example may show a builder call). */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
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
      } else if (src(i) == '"') {
        i += 1
        while (i < n && src(i) != '"') i += (if (src(i) == '\\') 2 else 1)
        i += 1
      } else if (at("'\\")) {
        i += 2
        while (i < n && src(i) != '\'') i += 1
        i += 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') i += 3
      else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  private val builderCall =
    """SparkSession\s*\.\s*builder|SparkContext\s*\.\s*getOrCreate|new\s+SparkContext\b""".r

  test("comment stripping keeps code and drops comments and literals") {
    val src = "val a = '\"'; /* SparkSession.builder() /* nested */ */\n" +
      "// SparkContext.getOrCreate(c)\nval s = \"SparkSession.builder\"\n" +
      "SparkContext.getOrCreate(conf)\n"
    assert(builderCall.findAllIn(codeOnly(src)).toSeq ===
      Seq("SparkContext.getOrCreate"))
  }

  test("only Harness.scala builds a SparkSession or SparkContext") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def calls(p: Path): Int =
      builderCall.findAllIn(codeOnly(Files.readString(p))).size
    val offenders = files.filter(p => p.getFileName.toString != "Harness.scala" && calls(p) > 0)
    assert(offenders.isEmpty,
      s"build the session through graft.Harness.session instead: ${offenders.mkString(", ")}")
    assert(calls(root.resolve("graft/Harness.scala")) === 2)
  }

  test("Harness.conf carries the run settings and Scratch's local dir") {
    val (conf, dir, detail) = Harness.conf("graft-spec", "/definitely/missing")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    assert(Harness.cpus === cpus)
    assert(conf.get("spark.master") === s"local[$cpus]")
    assert(conf.get("spark.app.name") === "graft-spec")
    assert(conf.get("spark.sql.shuffle.partitions") === cpus)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") === "false")
    val (_, scratchDir, scratchDetail) = Scratch.localDirSparkConf("/definitely/missing")
    assert(dir === scratchDir)
    assert(detail === scratchDetail)
    assert(conf.get("spark.local.dir") === scratchDir)
  }
}
