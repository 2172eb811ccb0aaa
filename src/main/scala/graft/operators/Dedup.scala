package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic keyed deduplication.
  *
  * pandas `drop_duplicates(subset=...)` keeps the FIRST row in insertion
  * order (daily_weather_etl_kenya.py:302-306); Spark's `dropDuplicates`
  * keeps an arbitrary row per key, which cannot hash-match an oracle. These
  * operators make "first" explicit via a total order (SURVEY.md §7.3).
  *
  * Scale: one hash shuffle on the key columns, per-key sort only (no global
  * sort). With AQE skew handling on, a hot key splits across reducers for
  * everything except the final per-key row_number, which is bounded by the
  * true duplicate count per key — at 100 TB this is the same plan shape
  * Spark uses for any keyed aggregation.
  */
object Dedup {

  /** Keep exactly one row per key: the first under `order`. Appends nothing,
    * preserves the input schema.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** T1: the reference's dedup by natural key `(region, data_timestamp)`
    * keeping the earliest-extracted row (insertion order ≈ extraction
    * order; the reference appends sequentially, py:190).
    */
  def dedupeWeather(df: DataFrame): DataFrame =
    keepFirst(df, Seq("region", "data_timestamp"),
      Seq(col("extraction_timestamp").asc))

  /** S8: last-writer-wins keyed upsert — the reference's
    * `INSERT ... ON CONFLICT (region, data_timestamp) DO UPDATE SET
    * col = EXCLUDED.col` (py:422-452) re-expressed for an immutable
    * columnar store: union the incoming batch with the existing table and
    * keep, per key, the highest-versioned row, preferring the incoming side
    * on a version tie (EXCLUDED wins, as in Postgres).
    *
    * Pure `DataFrame => DataFrame`, so it is oracle-checkable as
    * `ROW_NUMBER() OVER (PARTITION BY key ORDER BY version DESC) = 1`.
    * On a lakehouse table format this would be `MERGE INTO`; on plain
    * parquet the caller overwrites the target partition-wise with the
    * result (write-then-swap, SURVEY.md §7.7).
    *
    * `clusterBy`, columns that are functions of `keys` (so they group no
    * two distinct keys together), re-key the window's one exchange on them
    * alone and lead the window's partition spec: the result leaves
    * hash-clustered on those columns and sorted by them, which is what a
    * writer partitioned by them needs (one file per value, no writer sort).
    */
  def upsert(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tiebreak: Seq[Column] = Nil,
      clusterBy: Seq[String] = Nil): DataFrame = {
    val tagged = existing.withColumn("__graft_src", lit(0))
      .unionByName(incoming.withColumn("__graft_src", lit(1)))
    keepFirst(
      if (clusterBy.isEmpty) tagged else tagged.repartition(clusterBy.map(col): _*),
      clusterBy ++ keys,
      Seq(col(versionCol).desc, col("__graft_src").desc) ++ tiebreak)
      .drop("__graft_src")
  }

  /** CDC-style merge with DELETE support: the incoming batch carries a
    * boolean tombstone column; per key the winner is picked exactly as
    * in [[upsert]] (latest version, incoming wins ties), and keys whose
    * winning row is a tombstone are then DROPPED from the result — the
    * `MERGE ... WHEN MATCHED AND deleted THEN DELETE` pattern on an
    * immutable columnar store. A tombstone only deletes if it is the
    * newest version of its key: a late-arriving delete older than the
    * current row is correctly ignored.
    *
    * Same plan shape as [[upsert]] (one keyed shuffle + per-key
    * window) — the tombstone filter is a post-window predicate, no
    * extra exchange.
    */
  def upsertWithDeletes(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      versionCol: String,
      deletedCol: String,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    require(incoming.columns.contains(deletedCol),
      s"incoming must carry the '$deletedCol' tombstone column")
    // existing must be a MATERIALIZED table (tombstones already applied,
    // as this function's own output is); silently treating a live
    // tombstone column as all-false would resurrect deleted rows
    require(!existing.columns.contains(deletedCol),
      s"existing already has a '$deletedCol' column - apply its " +
        "tombstones first (this function's output is tombstone-free)")
    val tagged = existing
      .withColumn(deletedCol, lit(false))
      .withColumn("__graft_src", lit(0))
      .unionByName(incoming.withColumn("__graft_src", lit(1)))
    keepFirst(tagged, keys,
      Seq(col(versionCol).desc, col("__graft_src").desc) ++ tiebreak)
      .filter(!coalesce(col(deletedCol), lit(false)))
      .drop(deletedCol, "__graft_src")
  }
}
