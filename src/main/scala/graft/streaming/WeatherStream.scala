package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ingest.WeatherIngest
import graft.model.WeatherModel
import graft.operators.WeatherTransform
import graft.sources.WeatherSink

/** Structured Streaming variant of the pipeline. The reference is a daily
  * batch cron (daily_weather_etl_kenya.py:62) with no streaming; this is
  * the engine's forward-looking path: the same pure transforms applied to
  * an unbounded source with event-time semantics.
  *
  * Mapping (SURVEY.md §2.5):
  *  - source → `readStream` over a documents directory (file source is
  *    the canonical replayable stream; swap for Kafka in production)
  *  - T1 dedup → `dropDuplicatesWithinWatermark` on the natural key:
  *    state is bounded by the watermark instead of growing forever
  *  - A1/A3 quality → windowed event-time aggregation with watermark
  *  - S8 upsert sink → `foreachBatch` calling the batch upsert: each
  *    micro-batch merges into the date partitions it touches, and a
  *    replayed batch merges to the same rows, giving last-writer-wins per
  *    key on top of at-least-once delivery. The merge is not
  *    transactional: a crash inside its commit can lose the touched
  *    partitions (see [[WeatherSink.upsertInto]])
  */
object WeatherStream {

  /** Unbounded source of OWM documents (JSON lines under `path`). */
  def readDocumentStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(WeatherModel.owmSchema)
      .option("maxFilesPerTrigger", "32")
      .json(path)

  /** flatten + dedup-within-watermark + derive — the T1-T9 chain with
    * streaming-safe dedup (drop-in for [[WeatherTransform.transform]]).
    */
  def transform(spark: SparkSession, raw: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val flat = WeatherIngest.flatten(raw, WeatherModel.regionDim(spark))
    WeatherTransform.derive(
      WeatherTransform.validityFilter(
        flat.withWatermark("data_timestamp", watermark)
          .dropDuplicatesWithinWatermark("region", "data_timestamp")))
  }

  /** Streaming quality aggregates: per event-time window, rows + regions
    * + temperature extremes (streaming A1/A3; exact countDistinct is not
    * incremental in append mode, so regions uses approx_count_distinct —
    * exactness at 15 regions is recovered in the batch checks).
    */
  def qualityByWindow(transformed: DataFrame,
      window: String = "1 day"): DataFrame =
    transformed
      .groupBy(org.apache.spark.sql.functions.window(
        col("data_timestamp"), window).as("w"))
      .agg(count(lit(1)).as("n_rows"),
        approx_count_distinct(col("region")).as("n_regions"),
        min(col("temperature")).as("min_temp"),
        max(col("temperature")).as("max_temp"))

  /** Micro-batch upsert sink: reuse the batch LWW merge per batch. */
  def upsertWriter(transformed: DataFrame, tablePath: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    transformed.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          WeatherSink.upsertInto(batch.sparkSession, batch, tablePath)
        }
      }
}
