package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Harness]] as the one session builder: no other main-source
  * file builds a SparkSession or SparkContext, and the conf it builds
  * carries the run configuration every harness main relies on.
  */
class HarnessSpec extends AnyFunSuite {

  private val builderCall =
    """SparkSession\s*\.\s*builder|SparkContext\s*\.\s*getOrCreate|new\s+SparkContext\b""".r

  test("comment stripping keeps code and drops comments and literals") {
    val src = "val a = '\"'; /* SparkSession.builder() /* nested */ */\n" +
      "// SparkContext.getOrCreate(c)\nval s = \"SparkSession.builder\"\n" +
      "SparkContext.getOrCreate(conf)\n"
    assert(builderCall.findAllIn(SourceScan.codeOnly(src)).toSeq ===
      Seq("SparkContext.getOrCreate"))
  }

  test("only Harness.scala builds a SparkSession or SparkContext") {
    val root = SourceScan.mainRoot
    val files = SourceScan.mainSources
    def calls(p: Path): Int =
      builderCall.findAllIn(SourceScan.codeOnly(Files.readString(p))).size
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
