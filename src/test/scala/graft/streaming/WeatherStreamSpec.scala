package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, TempDirs}
import graft.ingest.Fixtures

class WeatherStreamSpec extends SparkSpec with TempDirs {

  private def writeDocs(dir: java.nio.file.Path, name: String,
      docs: String*): Unit =
    Files.writeString(dir.resolve(name), docs.mkString("\n"))

  test("streaming transform applies flatten+dedup+derive over file source") {
    val src = tempDir("graft_stream_src")
    // duplicate Nakuru doc in the batch -> dedup keeps one
    writeDocs(src, "a.json", Fixtures.full, Fixtures.full,
      Fixtures.missingOptionals)
    val raw = WeatherStream.readDocumentStream(spark, src.toString)
    assert(raw.isStreaming)
    val transformed = WeatherStream.transform(spark, raw)
    val q = transformed.writeStream
      .format("memory").queryName("weather_stream_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("weather_stream_out")
      .select("region", "heat_index", "rainfall_category").collect()
    assert(got.length === 2) // duplicate dropped
    assert(got.map(_.getString(0)).sorted === Array("Meru", "Nakuru"))
  }

  test("micro-batch upsert sink merges per key into the parquet table") {
    val src = tempDir("graft_stream_src2")
    val table = tempDir("graft_stream_tbl")
      .toString + "/weather"
    writeDocs(src, "day1.json", Fixtures.full)
    val transformed = WeatherStream.transform(spark,
      WeatherStream.readDocumentStream(spark, src.toString))
    val q1 = WeatherStream.upsertWriter(transformed, table).start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(table).count() === 1)

    // second batch: same natural key, changed temperature -> replaces
    writeDocs(src, "day2.json",
      Fixtures.full.replace("\"temp\":22.5", "\"temp\":24.0"))
    val transformed2 = WeatherStream.transform(spark,
      WeatherStream.readDocumentStream(spark, src.toString))
    val q2 = WeatherStream.upsertWriter(transformed2, table).start()
    try q2.processAllAvailable() finally q2.stop()
    val tbl = spark.read.parquet(table)
    assert(tbl.count() === 1)
  }

  test("windowed quality aggregation runs in complete mode") {
    val src = tempDir("graft_stream_src3")
    writeDocs(src, "a.json", Fixtures.full, Fixtures.missingOptionals)
    val transformed = WeatherStream.transform(spark,
      WeatherStream.readDocumentStream(spark, src.toString))
    val agg = WeatherStream.qualityByWindow(transformed)
    val q = agg.writeStream.format("memory").queryName("weather_quality_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("weather_quality_out").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("n_rows") === 2)
    assert(rows(0).getAs[Double]("min_temp") === 22.5)
    assert(rows(0).getAs[Double]("max_temp") === 30.0)
  }
}
