package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, TempDirs}

/** Pins the two event-time semantics every streaming operator in the
  * engine leans on (WeatherStream.qualityByWindow's append-mode
  * variant, TextDedup's watermarked streams, q119/q132/q150/q164's
  * replay harnesses):
  *
  *  1. APPEND mode emits a window only after the watermark (max event
  *     time of PRIOR batches − delay) passes its end — never early;
  *  2. an event arriving behind the watermark is DROPPED from its
  *     (already-emitted) window, silently — the late-data hazard a
  *     100 TB ingest must budget for explicitly (allowed lateness =
  *     the watermark delay; anything later is gone).
  *
  * Boundaries in the fixture are hours apart, far from any
  * implementation rounding, so the assertions cannot flake on
  * watermark-advance details (no-data batches etc.).
  */
class LateDataSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")

  test("append-mode windows emit only past the watermark; late rows drop") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    var emitted = Vector.empty[(Timestamp, Long)]
    val ck = tempDir("graft_late").toString
    val q = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted ++= b.collect().map(r => (r.getTimestamp(0), r.getLong(1)))
      }
      .trigger(Trigger.AvailableNow())

    // batch 1: two rows in the 10:00 window, one in 13:00. Watermark
    // after the batch = 13:00 − 1 h = 12:00 → ONLY the 10:00 window
    // (end 11:00 ≤ 12:00) may emit; 13:00 must be held open.
    mem.addData((ts(10, 5), 1L), (ts(10, 40), 2L), (ts(13, 0), 3L))
    val s1 = q.start(); s1.awaitTermination()
    assert(emitted.toSet === Set((ts(10), 2L)),
      s"only the closed 10:00 window emits: $emitted")

    // batch 2: a LATE row for 10:00 (behind the 12:00 watermark —
    // dropped; the emitted count above must never be revised), an
    // in-grace row for 13:00 (12:10 ≥ watermark — accepted into its
    // own window), and 16:00 advancing the watermark to 15:00, which
    // closes 12:00 and 13:00.
    emitted = Vector.empty
    mem.addData((ts(10, 50), 9L), (ts(12, 10), 4L), (ts(13, 30), 5L),
      (ts(16, 0), 6L))
    val s2 = q.start(); s2.awaitTermination()
    assert(emitted.toSet === Set((ts(12), 1L), (ts(13), 2L)),
      s"late 10:50 dropped, 12:10 accepted, 13:00 closed with both rows: " +
        emitted.toString)
  }
}
