package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

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
  */
object WeatherSink {

  val naturalKey: Seq[String] = Seq("region", "data_timestamp")

  /** Plain partitioned write (initial load / full refresh). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("date").parquet(path)

  /** Keyed upsert into the table (the reference's ON CONFLICT DO UPDATE,
    * py:422-452), scoped to the date partitions the batch touches: the
    * batch's distinct dates are collected to the driver (one for a daily
    * run), the stored partitions among them are read with [[readDates]],
    * merged with the batch via [[Dedup.upsert]] and written back with
    * per-write dynamic partition overwrite. A daily batch therefore costs
    * its own partitions' IO whatever the history behind it; untouched
    * partitions keep their files.
    *
    * Commit: Spark writes the touched partitions to a staging directory,
    * then deletes each touched `date=…` directory and renames its new
    * files in. That is not the reference's single transaction with
    * rollback (py:454-468): a crash inside the commit can lose the
    * partitions being replaced, but never the untouched history. A
    * leftover of an interrupted [[compact]] is repaired first.
    */
  def upsertInto(spark: SparkSession, incoming: DataFrame, path: String): Unit = {
    recover(path)
    if (!Files.exists(Paths.get(path))) {
      write(incoming, path)
      return
    }
    // ingest rejects documents without `dt`, so `date` is never null here
    val dates = incoming.select(col("date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    val merged = readDates(spark, path, dates) match {
      case None => incoming
      case Some(stored) => Dedup.upsert(stored, incoming, naturalKey,
        versionCol = "extraction_timestamp")
    }
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

  /** Compact the table's small files: each upsert rewrites its touched
    * partitions as up to `shuffle.partitions` files per date, and a year
    * of daily batches leaves KB-sized files whose open/footer overhead
    * dominates scans at 100 TB. Rewrites the table to ≈ `targetFileBytes`
    * per file (estimated from current on-disk size) into a staging
    * directory and swaps it in with two renames (`<path>` → `.__old__`,
    * `.__staging__` → `<path>`); rows are hash-distributed on the
    * partition column so each date directory compacts toward a single
    * file. A crash between the renames leaves only `.__old__`, which the
    * next [[compact]] or [[upsertInto]] restores.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    recover(path)
    val target = Paths.get(path)
    if (!Files.exists(target)) return
    val walk = Files.walk(target)
    val onDisk =
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close() // the stream holds directory handles
    val nFiles = math.max(1L, (onDisk + targetFileBytes - 1) / targetFileBytes)
    val df = spark.read.parquet(path).repartition(nFiles.toInt, col("date"))
    val (staged, old) = swapPaths(path)
    df.write.mode("overwrite").partitionBy("date").parquet(staged.toString)
    Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** Repair what an interrupted [[compact]] leaves: with `<path>` missing,
    * `.__old__` is the last committed table and moves back; otherwise it
    * is stale. A `.__staging__` is never committed data.
    */
  private def recover(path: String): Unit = {
    val target = Paths.get(path)
    val (staged, old) = swapPaths(path)
    if (!Files.exists(target) && Files.exists(old))
      Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
    deleteRecursively(staged)
  }

  private def swapPaths(path: String): (Path, Path) = {
    val base = path.stripSuffix("/")
    (Paths.get(base + ".__staging__"), Paths.get(base + ".__old__"))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
