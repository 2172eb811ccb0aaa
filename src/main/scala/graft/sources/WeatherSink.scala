package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Durable store for the weather table: date-partitioned parquet.
  *
  * Replaces the reference's PostgreSQL sink (DDL py:76-134, upsert
  * py:392-468). Its four b-tree indexes (region / date / data_timestamp /
  * (region, date), py:116-119) are subsumed by `partitionBy("date")`
  * (partition pruning) plus parquet min/max column statistics with filter
  * pushdown for `region` and `data_timestamp` (SURVEY.md §4) — no custom
  * machinery, and the same plan holds on a 1000-executor cluster.
  *
  * [[upsertInto]] is the table's one write, so every date directory holds
  * exactly one file and no compaction pass is needed.
  */
object WeatherSink {

  val naturalKey: Seq[String] = Seq("region", "data_timestamp")

  /** Keyed upsert into the table (the reference's ON CONFLICT DO UPDATE,
    * py:422-452), scoped to the date partitions the batch touches, and
    * the table's only write: the first load, a batch of new dates and a
    * batch over stored dates take the same plan. The batch's distinct
    * dates are collected to the driver (one for a daily run; skipped
    * when the table does not exist yet), the stored partitions among them
    * are read with [[readDates]] (an empty relation when there are none,
    * which Catalyst prunes from the merge's union), merged with the batch
    * via [[Dedup.upsert]] and written back with per-write dynamic
    * partition overwrite. A daily batch therefore costs its own
    * partitions' IO whatever the history behind it; untouched partitions
    * keep their files.
    *
    * The merge keys its one exchange on `date` alone (`clusterBy`), so
    * each touched date is written by one task as one file, and the
    * window's sort on (`date`, key, version) already orders the rows for
    * the partitioned writer, which then sorts nothing.
    *
    * Commit: Spark writes the touched partitions to a staging directory,
    * then deletes each touched `date=…` directory and renames its new
    * files in. That is not the reference's single transaction with
    * rollback (py:454-468): a crash inside the commit can lose the
    * partitions being replaced, but never the untouched history.
    */
  def upsertInto(spark: SparkSession, incoming: DataFrame, path: String): Unit = {
    val stored =
      if (!Files.exists(Paths.get(path))) None
      else {
        // ingest rejects documents without `dt`, so `date` is never null
        val dates = incoming.select(col("date").cast("string")).distinct()
          .collect().map(_.getString(0)).toSeq
        readDates(spark, path, dates)
      }
    // `date` = to_date(data_timestamp), so clustering on it keys the
    // same rows together
    val merged = Dedup.upsert(stored.getOrElse(incoming.limit(0)), incoming,
      naturalKey, versionCol = "extraction_timestamp", clusterBy = Some("date"))
    // per-write dynamic mode, not a session-conf toggle that concurrent
    // writers could interleave
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(path)
  }

  /** The stored partitions of `dates` (`yyyy-MM-dd`: Spark names a
    * partition directory by the value cast to string), read by explicit
    * `date=…` path with `basePath`, so the table's other directories are
    * never listed. `None` when the table holds none of them.
    */
  def readDates(spark: SparkSession, path: String, dates: Seq[String])
      : Option[DataFrame] = {
    val dirs = dates.distinct.map(d => Paths.get(path).resolve(s"date=$d"))
      .filter(Files.isDirectory(_))
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", path)
      .parquet(dirs.map(_.toString): _*))
  }
}
