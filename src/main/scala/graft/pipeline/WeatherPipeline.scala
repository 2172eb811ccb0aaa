package graft.pipeline

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.ingest.WeatherIngest
import graft.model.WeatherModel
import graft.operators.WeatherTransform
import graft.quality.QualityChecks
import graft.sources.WeatherSink

/** The whole daily pipeline (reference DAG create→extract→transform→load→
  * quality_check, daily_weather_etl_kenya.py:542-573) as one sequential
  * driver program over lazy DataFrames.
  *
  * The reference crosses a process boundary at every task hop (XCom
  * serialization, py:209/291/397) and a network boundary at API and DB.
  * Here the stages are pure `DataFrame => DataFrame` functions composed
  * lazily, and Catalyst sees the whole dataflow and fuses it (SURVEY.md
  * §3.1). The Spark actions are the two `head(1)` emptiness guards, the
  * sink's collect of the batch's dates, the sink write and the
  * quality-check collect.
  */
object WeatherPipeline {

  final case class Result(loadedPath: String, quality: QualityChecks.Report)

  /** Run extract(from canned documents)→transform→load(upsert)→quality.
    *
    * @param documentsPath JSON-lines of OWM documents (the engine's source
    *                      boundary; live HTTP fetch is a driver concern,
    *                      out of engine scope — SURVEY.md S1)
    * @param tablePath     sink parquet table (date-partitioned)
    * @param checkDate     quality-check date (reference uses "today", py:480);
    *                      a constant expression such as `lit(...)` or
    *                      `current_date()`, folded once before any work
    */
  def run(spark: SparkSession, documentsPath: String, tablePath: String,
      checkDate: Column, extractionTime: Column = current_timestamp()): Result = {
    val (onDate, partition) = foldCheckDate(spark, checkDate)
    val raw = WeatherIngest.readDocuments(spark, documentsPath)
    val flat = WeatherIngest.flatten(raw, WeatherModel.regionDim(spark),
      extractionTime)
    // cache across the two C2 guards and the sink write — without it the
    // source scan + flatten re-execute three times
    flat.persist()
    val transformed = WeatherTransform.transform(flat)
    try {
      require(flat.head(1).nonEmpty,
        "No weather data was successfully extracted")
      require(transformed.head(1).nonEmpty,
        "No data received from extraction task")
      WeatherSink.upsertInto(spark, transformed, tablePath)
    } finally flat.unpersist()
    // only rows of the checked date's partition can match, so the checks
    // read that directory alone (the reference's `WHERE date = :today`
    // index scan); with no such partition they see no rows, as a full
    // read filtered on the date would
    val table = WeatherSink.readDates(spark, tablePath, partition.toSeq)
      .getOrElse(transformed.limit(0))
    val report = QualityChecks.report(table, onDate)
    report.warnings.foreach(w => System.err.println(s"[quality] WARN: $w"))
    Result(tablePath, report)
  }

  /** `checkDate` folded to a literal on the driver by Catalyst's constant
    * folding, which starts no Spark job: the value the checks compare
    * `date` with, and the `date=…` partition that can hold rows equal to
    * it (`None` when it is null). Folding once also pins
    * `current_date()` to the start of the run.
    */
  private def foldCheckDate(spark: SparkSession, checkDate: Column)
      : (Column, Option[String]) = {
    def notConstant(cause: Throwable) = new IllegalArgumentException(
      s"checkDate must be a constant date expression, got $checkDate", cause)
    val plan =
      try spark.range(1)
        .select(checkDate, checkDate.cast("date").cast("string"))
        .queryExecution.optimizedPlan
      catch { case e: AnalysisException => throw notConstant(e) }
    plan match {
      case Project(Seq(Alias(value: Literal, _), Alias(Literal(day, _), _)), _) =>
        (ColumnBridge.column(value), Option(day).map(_.toString))
      case _ => throw notConstant(null)
    }
  }

  /** Pure (no sink) variant: documents DataFrame in, analytical table out.
    * This is the composition the oracle queries exercise.
    */
  def transformOnly(raw: DataFrame, spark: SparkSession,
      extractionTime: Column = current_timestamp()): DataFrame =
    WeatherTransform.transform(
      WeatherIngest.flatten(raw, WeatherModel.regionDim(spark), extractionTime))

  /** The reference DAG's operational retry/alert envelope
    * (daily_weather_etl_kenya.py:50-53: 2 retries, 5-minute delay,
    * email_on_failure; README rm:133-142): re-run the whole pipeline up
    * to `retries` extra times with `retryDelayMs` between attempts, and
    * deliver a failure alert (the email analog — injectable; default
    * stderr) when the budget is exhausted. Airflow owns this around the
    * reference; here it is a plain function so the driver program has
    * the same operational semantics without a scheduler.
    *
    * @param sleep injectable clock for tests (the 5-minute delay must be
    *              assertable, not slept)
    */
  def runWithRetry(
      spark: SparkSession, documentsPath: String, tablePath: String,
      checkDate: Column, extractionTime: Column = current_timestamp(),
      retries: Int = 2, retryDelayMs: Long = 300000L,
      alert: String => Unit = m => System.err.println(s"[alert] $m"),
      sleep: Long => Unit = Thread.sleep): Result = {
    var attempt = 0
    while (true) {
      try return run(spark, documentsPath, tablePath, checkDate,
        extractionTime)
      catch {
        case e: Exception if attempt < retries =>
          attempt += 1
          sleep(retryDelayMs)
        case e: Exception =>
          alert(s"weather pipeline failed after ${attempt + 1} attempts: "
            + e.getMessage)
          throw e
      }
    }
    sys.error("unreachable")
  }
}
