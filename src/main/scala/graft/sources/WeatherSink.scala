package graft.sources

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Durable store for the weather table: parquet partitioned by
  * (`year`, `month`), one zstd-compressed file per month.
  *
  * Replaces the reference's PostgreSQL sink (DDL py:76-134, upsert
  * py:392-468). Its four b-tree indexes (region / date / data_timestamp /
  * (region, date), py:116-119) are subsumed by the month partitions plus
  * parquet min/max column statistics with filter pushdown for `date`,
  * `region` and `data_timestamp` (SURVEY.md §4) — no custom machinery, and
  * the same plan holds on a 1000-executor cluster. A month holds a few
  * hundred rows a region, so a file per month keeps the parquet footer a
  * small share of the bytes, where a file per day was mostly footer.
  *
  * File format: parquet as Spark writes it (INT96 timestamps, dictionary
  * and plain pages), compressed with zstd, which stores a table about a
  * fifth smaller than Spark's default snappy. Files written with another
  * codec, such as snappy months from before the table used zstd, stay
  * readable: the reader decodes each file by the codec in its footer, and
  * the next batch that touches such a month rewrites it as zstd.
  *
  * [[upsertInto]] is the table's one write, so every month directory holds
  * exactly one file and no compaction pass is needed.
  */
object WeatherSink {

  val naturalKey: Seq[String] = Seq("region", "data_timestamp")

  /** Keyed upsert into the table (the reference's ON CONFLICT DO UPDATE,
    * py:422-452), scoped to the month partitions the batch touches, and
    * the table's only write: the first load, a batch of new months and a
    * batch over stored months take the same plan. The batch's distinct
    * (`year`, `month`) pairs are collected to the driver, the stored
    * months among them are read as [[readDates]] reads (an empty relation
    * when there are none, which Catalyst prunes from the merge's union),
    * merged with the batch via [[Dedup.upsert]] and written back with
    * per-write dynamic partition overwrite. A daily batch therefore costs
    * its own months' IO whatever the history behind it; untouched months
    * keep their files. An empty batch writes nothing.
    *
    * The merge places each touched month on its own task (`clusterBy`,
    * one slot per month in sorted order), so each month is written by one
    * task as one file and the batch's months merge in parallel, and the
    * window's sort on (`year`, `month`, slot, key, version) already orders
    * the rows for the partitioned writer, which then sorts nothing.
    *
    * Commit: Spark writes the touched months to a staging directory, then
    * deletes each touched `year=…/month=…` directory and renames its new
    * file in. That is not the reference's single transaction with
    * rollback (py:454-468): a crash inside the commit can lose the months
    * being replaced, every date in them, but never the untouched history.
    */
  def upsertInto(spark: SparkSession, incoming: DataFrame, path: String): Unit = {
    import spark.implicits._
    // ingest rejects documents without `dt`, so `year` and `month` are
    // never null; deduplicated per task and then on the driver, which adds
    // no exchange above the batch's dedup window
    val months = incoming.select("year", "month").as[(Int, Int)]
      .mapPartitions(_.toSet.iterator).collect().distinct.sorted.toSeq
    if (months.nonEmpty) {
      val stored = readMonths(spark, path, months, incoming.schema)
      // `year` and `month` are functions of `data_timestamp`, so placing
      // rows by them keeps each key's rows together
      val merged = Dedup.upsert(stored.getOrElse(incoming.limit(0)), incoming,
        naturalKey, versionCol = "extraction_timestamp",
        clusterBy = Some(Dedup.Slots(Seq("year", "month"),
          months.map { case (y, m) => Seq(y, m) })))
      // per-write dynamic mode, not a session-conf toggle that concurrent
      // writers could interleave
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy("year", "month").parquet(path)
    }
  }

  /** The stored month partitions that hold `dates` (`yyyy-MM-dd`), every
    * row of those months, or `None` when the table holds none of them.
    * They are read by explicit `year=…/month=…` path with `basePath`, so
    * the table's other directories are never listed, and with `schema`,
    * the table's schema (the partition columns included), so no job reads
    * a footer to infer it.
    */
  def readDates(spark: SparkSession, path: String, dates: Seq[String],
      schema: StructType): Option[DataFrame] =
    readMonths(spark, path,
      dates.map(LocalDate.parse).map(d => (d.getYear, d.getMonthValue)), schema)

  /** [[readDates]] of the stored partitions of `months` (`year`, `month`). */
  private def readMonths(spark: SparkSession, path: String,
      months: Seq[(Int, Int)], schema: StructType): Option[DataFrame] = {
    val dirs = months.distinct
      .map { case (y, m) => Paths.get(path).resolve(s"year=$y/month=$m") }
      .filter(Files.isDirectory(_))
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schema).option("basePath", path)
      .parquet(dirs.map(_.toString): _*))
  }
}
