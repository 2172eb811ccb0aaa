package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Pins [[WeatherSink.upsertInto]] as the weather table's one write: a
  * second `partitionBy("date")` parquet write would bring back a write
  * plan that scatters a date over several files.
  */
class WeatherSinkWriteSpec extends AnyFunSuite {

  private val dateWrite =
    """\.\s*partitionBy\s*\(\s*"date"\s*\)\s*\.\s*parquet\s*\(""".r

  private def writesIn(src: String): Int =
    dateWrite.findAllIn(SourceScan.codeOnly(src, keepStrings = true)).size

  test("the write scan counts writes in code, not in comments") {
    val src = "/** `df.write.partitionBy(\"date\").parquet(p)` */\n" +
      "// df.write.partitionBy(\"date\").parquet(p)\n" +
      "df.write.mode(\"overwrite\")\n  .partitionBy(\"date\").parquet(p)\n"
    assert(writesIn(src) === 1)
  }

  test("src/main writes the weather table in one place: WeatherSink") {
    val writes = SourceScan.mainSources
      .map(p => p -> writesIn(Files.readString(p))).filter(_._2 > 0)
    assert(writes === Seq(
      SourceScan.mainRoot.resolve("graft/sources/WeatherSink.scala") -> 1),
      "write the weather table through WeatherSink.upsertInto")
  }
}
