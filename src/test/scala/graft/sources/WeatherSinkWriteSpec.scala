package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Pins [[WeatherSink.upsertInto]] as the weather table's one write: a
  * second `partitionBy("year", "month")` parquet write would bring back a
  * write plan that scatters a month over several files, and a
  * `partitionBy("date")` one the file-per-day layout.
  */
class WeatherSinkWriteSpec extends AnyFunSuite {

  private val weatherWrite = ("""\.\s*partitionBy\s*\(\s*("year"\s*,\s*"month"|"date")""" +
    """\s*\)\s*\.\s*parquet\s*\(""").r

  private def writesIn(src: String): Int =
    weatherWrite.findAllIn(SourceScan.codeOnly(src, keepStrings = true)).size

  test("the write scan counts writes in code, not in comments") {
    val src = "/** `df.write.partitionBy(\"year\", \"month\").parquet(p)` */\n" +
      "// df.write.partitionBy(\"year\", \"month\").parquet(p)\n" +
      "df.write.mode(\"overwrite\")\n  .partitionBy(\"year\",\n" +
      "    \"month\").parquet(p)\n" +
      "df.write.partitionBy(\"date\").parquet(p)\n"
    assert(writesIn(src) === 2)
  }

  test("src/main writes the weather table in one place: WeatherSink") {
    val writes = SourceScan.mainSources
      .map(p => p -> writesIn(Files.readString(p))).filter(_._2 > 0)
    assert(writes === Seq(
      SourceScan.mainRoot.resolve("graft/sources/WeatherSink.scala") -> 1),
      "write the weather table through WeatherSink.upsertInto")
  }
}
