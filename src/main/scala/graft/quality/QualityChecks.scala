package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The post-load data-quality stage A1-A3
  * (daily_weather_etl_kenya.py:470-539), re-expressed as Spark aggregates.
  *
  * The reference pushes three parameterized SQL aggregates to Postgres
  * (`WHERE date = :today`, index-assisted). Here the same predicates hit
  * the `date` partition column of the parquet sink. The index-scan
  * analog is the caller's: `WeatherPipeline.run` hands in only the
  * checked date's partition directory, because a filtered read of the
  * whole table prunes the other dates' files but still lists every
  * `date=…` directory. Each check is one small aggregate job with a
  * map-side partial.
  *
  * As in the reference, failed expectations WARN, they do not fail the
  * pipeline (py:496/513/529 use logging.warning).
  */
object QualityChecks {

  /** A1 (py:482-498): distinct regions reporting on a date. Exact count —
    * the domain is 15 values, `approx_count_distinct` would be overkill.
    */
  def regionCompleteness(df: DataFrame, onDate: Column): DataFrame =
    df.filter(col("date") === onDate)
      .agg(countDistinct(col("region")).as("region_count"))

  /** A2 (py:500-515): conditional null counts for the critical measures
    * (`SUM(CASE WHEN col IS NULL THEN 1 ELSE 0 END)` per column, one pass).
    */
  def nullCounts(df: DataFrame, onDate: Column,
      cols: Seq[String] = Seq("temperature", "humidity", "pressure")): DataFrame = {
    val aggs = cols.map(c => count(when(col(c).isNull, lit(1))).as(s"nulls_$c"))
    df.filter(col("date") === onDate).agg(aggs.head, aggs.tail: _*)
  }

  /** A3 (py:517-531): temperature extremes on a date. */
  def temperatureRange(df: DataFrame, onDate: Column): DataFrame =
    df.filter(col("date") === onDate)
      .agg(min(col("temperature")).as("min_temp"),
        max(col("temperature")).as("max_temp"))

  /** Structured result of the full quality stage. */
  final case class Report(
      regionCount: Long,
      expectedRegions: Int,
      nullCounts: Map[String, Long],
      minTemp: Option[Double],
      maxTemp: Option[Double]) {
    /** Mirrors the reference's warning predicates (py:495, 512, 528). */
    def warnings: Seq[String] = {
      val w = Seq.newBuilder[String]
      if (regionCount < expectedRegions)
        w += s"Expected $expectedRegions regions, found $regionCount"
      nullCounts.filter(_._2 > 0).foreach { case (c, n) =>
        w += s"Found $n null values in $c"
      }
      (minTemp, maxTemp) match {
        case (Some(lo), Some(hi)) if lo < -10 || hi > 60 =>
          w += f"Extreme temperatures detected: min=$lo%.2f, max=$hi%.2f"
        case _ => ()
      }
      w.result()
    }
  }

  /** Run all three checks in ONE aggregate job (the reference issues three
    * separate queries; fusing them is free on Spark and scans once).
    */
  def report(df: DataFrame, onDate: Column,
      expectedRegions: Int = 15,
      nullCheckCols: Seq[String] = Seq("temperature", "humidity", "pressure"))
      : Report = {
    val nullAggs = nullCheckCols.map(c =>
      count(when(col(c).isNull, lit(1))).as(s"nulls_$c"))
    val aggs = Seq(
      countDistinct(col("region")).as("region_count"),
      min(col("temperature")).as("min_temp"),
      max(col("temperature")).as("max_temp")) ++ nullAggs
    val row = df.filter(col("date") === onDate)
      .agg(aggs.head, aggs.tail: _*)
      .collect()(0)
    Report(
      regionCount = row.getAs[Long]("region_count"),
      expectedRegions = expectedRegions,
      nullCounts = nullCheckCols
        .map(c => c -> row.getAs[Long](s"nulls_$c")).toMap,
      minTemp = Option(row.getAs[Any]("min_temp"))
        .map(v => v.asInstanceOf[Number].doubleValue()),
      maxTemp = Option(row.getAs[Any]("max_temp"))
        .map(v => v.asInstanceOf[Number].doubleValue()))
  }
}
