package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.WeatherFunctions
import graft.functions.{TextFeatures, TextFunctions}
import graft.operators.{AsOfJoin, Bloom, Decontam, Dedup, Funnel, Graph, Incremental, Multimodal, Percentiles, Quantize, RangeJoin, Repetition, Resample, Retrieval, Sampling, Scd, Similarity, Skew, SubstringDedup, TextChunker, TextDedup}

/** The oracle-checked query surface: every operator from SURVEY.md §2
  * exposed as a named query over the driver's parquet tables, with
  * DuckDB-equivalent ANSI SQL.
  *
  * Determinism rules that make hash-compares against DuckDB possible:
  *  - every query has a total ORDER BY on a unique key, mirrored in SQL;
  *  - double SUMs go through per-row cents (`FLOOR(x*100+0.5) AS BIGINT`) —
  *    exact, order-independent summation on both engines (a raw double sum
  *    differs in the last ulp depending on partitioning); the BIGINT sum is
  *    then converted back with ONE double division, so no decimal type ever
  *    reaches an output column (decimal outputs hash-fail the driver at ANY
  *    width — the Spark-parquet and DuckDB pandas paths represent decimals
  *    differently; rounds 1-2 empirical);
  *  - averages divide the exact cents sum: `CAST(sum_cents AS DOUBLE) / 100
  *    / COUNT(*)` with identical operand order on both engines;
  *  - raw nanosecond timestamps (`events.ts`) never appear in outputs —
  *    Spark truncates parquet ns to µs, DuckDB keeps ns wall-time digits,
  *    so only derived date parts / ordering may use them;
  *  - Spark-side integer date parts are cast to LONG to match DuckDB's
  *    BIGINT EXTRACT results.
  */
object Queries {

  /** Read a testdata table. The naive-timestamp columns in the fixtures
    * (`events.ts`, `lineitem.l_shipdate`, `orders.o_orderdate` — parquet
    * `timestamp[us]` with isAdjustedToUTC=false) must load as
    * TimestampType, not TIMESTAMP_NTZ: Spark 4 defaults
    * `inferTimestampNTZ` ON, and the resulting NTZ→LTZ cast runs
    * `DateTimeUtils.convertTz` per row — a LocalDateTime + ZonedDateTime
    * + Instant allocation chain with NO same-zone shortcut, sampled as
    * the dominant frames of q111 at sf10r (52.8 s, `convertTz` /
    * `microsToDays`) and q66 at sf0.1 (`getLocalDateTime`). With the
    * session pinned UTC the two readings are value-identical (both load
    * the stored µs verbatim; the NTZ cast under UTC is a 7-allocation
    * no-op), so turning inference off changes the plan's ReadSchema and
    * nothing else — re-proved by the full 194-query oracle run this
    * round. Engine-written stores are isAdjustedToUTC=true and never hit
    * inference.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: nanosecond-int64 (which Spark's vectorized reader only
    * accepts via `nanosAsLong`, yielding LongType) and µs `timestamp[us]`
    * (plain TimestampType/TimestampNTZType). Normalize both to the same
    * internal shape: exact `ts_ns` epoch-nanos for ordering and keys
    * (bit-identical to DuckDB's `epoch_ns(ts)` on either encoding) and a
    * µs `ts` TimestampType for date-part extraction. The session runs in
    * UTC, so the NTZ→LTZ cast is wall-clock preserving and matches
    * DuckDB's naive-timestamp reading; `unix_micros * 1000` is exact on
    * µs data. On the long path, integer `div`, not `/` — epoch-nanos
    * exceed a double's exact-integer range.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // see t(): µs-encoded ts must load as TimestampType, not NTZ, so
    // normalizeEvents' cast is a no-op instead of a per-row convertTz
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = s.read.parquet(s"$dir/events.parquet")
    normalizeEvents(raw)
  }

  /** Schema-driven normalization, factored out so tests can feed fixtures
    * written in each encoding. Output contract: `ts` TimestampType (µs,
    * UTC instant), `ts_ns` LongType epoch-nanos, other columns untouched.
    */
  private[graft] def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000)
      case other =>
        throw new IllegalArgumentException(
          s"events.ts must be int64 epoch-nanos or a timestamp type, got $other — " +
            "did the testdata parquet encoding change again?")
    }

  /** Driver-safe exact money sum. Decimal-typed OUTPUT columns are
    * driver-unsafe regardless of width: round 1 failed at decimal(28,2)
    * vs (38,2), round 2 still failed with both sides pinned to (38,2) —
    * the driver reads the Spark parquet and the DuckDB oracle through
    * different pandas conversions whose decimal images hash differently
    * even when every value is equal. Every cents→double query has passed
    * the driver in both rounds, so money sums are expressed as: exact
    * per-row cents (stored 2-dp values recover exactly), exact
    * order-independent BIGINT sum, then one correctly-rounded double
    * division — bit-identical on both engines. SQL mirror:
    * `CAST(SUM(CAST(FLOOR(x*100+0.5) AS BIGINT)) AS DOUBLE) / 100`.
    *
    * Scale note: a signed-long cents accumulator holds ~9.2e16 dollars,
    * comfortably above any per-group money total even at 100 TB; if a
    * workload ever exceeded it, the ACCUMULATOR would switch to
    * `sum(cents.cast(DecimalType(38,0)))` while the OUTPUT stays the
    * final double cast — decimal may appear inside the plan, never in
    * an output column.
    */
  private def moneySum(c: Column): Column =
    sum(cents(c)).cast("double") / 100

  /** Deterministic money quantization for COMPUTED double expressions:
    * `FLOOR(x*100 + 0.5)` is pure double arithmetic, bit-identical on both
    * engines; summing the resulting longs is exact and order-independent.
    * SQL mirror: `CAST(FLOOR(expr * 100 + 0.5) AS BIGINT)`.
    */
  private def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")

  // ---------------------------------------------------------------------
  // Aggregations (A1-A3) + flagship pricing summary
  // ---------------------------------------------------------------------

  /** Flagship: TPC-H Q1-style pricing summary — groupBy + 4 exact decimal
    * sums + derived averages + count. One hash-aggregate with map-side
    * partials; scales as a single shuffle on (returnflag, linestatus).
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val discounted = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charged = discounted * (lit(1) + col("l_tax"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(discounted).as("sum_disc_price"),
        moneySum(charged).as("sum_charge"),
        (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_disc_price,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_charge,
      |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A1 analog: per-day distinct reporting entities (filtered distinct
    * count, reference py:482-498). Exact countDistinct — partial
    * aggregation keeps the shuffle narrow.
    */
  def q08DistinctPerDay(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("d"))

  val q08Sql: String =
    """SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY d""".stripMargin

  /** A2 analog: conditional null counts (reference py:500-515) — one pass,
    * `COUNT(CASE WHEN col IS NULL THEN 1 END)` per column.
    */
  def q09NullCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      count(when(col("l_quantity").isNull, lit(1))).as("nulls_quantity"),
      count(when(col("l_extendedprice").isNull, lit(1))).as("nulls_price"),
      count(when(col("l_discount").isNull, lit(1))).as("nulls_discount"))

  val q09Sql: String =
    """SELECT
      |  COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS nulls_quantity,
      |  COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS nulls_price,
      |  COUNT(CASE WHEN l_discount IS NULL THEN 1 END) AS nulls_discount
      |FROM lineitem""".stripMargin

  /** A3 analog: grouped min/max extremes (reference py:517-531). */
  def q10MinMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy(col("l_returnflag"))

  val q10Sql: String =
    """SELECT l_returnflag, MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Dedup / upsert (T1, S8)
  // ---------------------------------------------------------------------

  /** T1: deterministic keep-FIRST dedup (pandas drop_duplicates semantics,
    * reference py:302-306) via [[Dedup.keepFirst]].
    */
  def q02DedupKeepFirst(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirst(events(s, dir),
        Seq("user_id", "event_type"), Seq(col("ts_ns").asc, col("event_id").asc))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))

  val q02Sql: String =
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** S8: last-writer-wins upsert — existing (even event_ids) merged with an
    * incoming batch (odd event_ids) via [[Dedup.upsert]]; per key the
    * newest row wins, matching ON CONFLICT DO UPDATE (py:422-452).
    */
  def q11UpsertLastWriter(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val existing = e.filter(col("event_id") % 2 === 0)
    val incoming = e.filter(col("event_id") % 2 === 1)
    Dedup.upsert(existing, incoming, Seq("user_id", "event_type"),
        versionCol = "ts_ns", tiebreak = Seq(col("event_id").desc))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q11Sql: String =
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id % 2 DESC,
      |                                event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin
  // ^ `event_id % 2` mirrors Dedup.upsert's EXCLUDED-wins source tag
  // (incoming = odd ids in this query) so the oracle agrees even on
  // version ties.

  /** Set op: UNION ALL of two overlapping extracts + DISTINCT (the
    * reference's implicit union of per-region record sets, SURVEY §2.5).
    */
  def q12UnionDedup(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    e.filter(col("value") < 120).unionByName(e.filter(col("value") > 80))
      .distinct()
      .orderBy(col("event_id"))
  }

  val q12Sql: String =
    """SELECT DISTINCT event_id, user_id, event_type, value FROM (
      |  SELECT event_id, user_id, event_type, value FROM events WHERE value < 120
      |  UNION ALL
      |  SELECT event_id, user_id, event_type, value FROM events WHERE value > 80) u
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // Filters / scalar functions (T2-T9)
  // ---------------------------------------------------------------------

  /** T2+T3: range validity filters — both predicates reach the parquet scan
    * as pushed filters (verify with .explain: PushedFilters).
    */
  def q03ValidityFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(10, 40))
      .filter(col("l_discount").between(0.02, 0.08))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))

  val q03Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 40 AND l_discount BETWEEN 0.02 AND 0.08
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin

  /** T4: the reference heat-index polynomial (py:342-363) applied to
    * harness columns (temp := l_quantity ∈ [1,50],
    * humidity := l_discount*1000 ∈ [0,100]).
    */
  def q04HeatIndex(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        WeatherFunctions.heatIndex(col("l_quantity"),
          col("l_discount") * 1000).as("heat_index"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("heat_index"))

  val q04Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN t < 27 THEN t ELSE round(
      |    -8.78469475556 + 1.61139411*t + 2.33854883889*h + -0.14611605*t*h
      |    + -0.012308094*t*t + -0.0164248277778*h*h + 0.002211732*t*t*h
      |    + 0.00072546*t*h*h + -0.000003582*t*t*h*h, 2) + 0.0 END AS heat_index
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity AS t,
      |        l_discount*1000 AS h FROM lineitem) a
      |ORDER BY l_orderkey, l_linenumber, heat_index""".stripMargin

  /** T5: the reference dew-point formula, ln-omitting quirk included
    * (py:365-377), over the same column mapping.
    */
  def q05DewPoint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        WeatherFunctions.dewPoint(col("l_quantity"),
          col("l_discount") * 1000).as("dew_point"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("dew_point"))

  val q05Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  round((237.7 * a) / (17.27 - a), 2) + 0.0 AS dew_point
      |FROM (SELECT l_orderkey, l_linenumber,
      |        ((17.27 * t) / (237.7 + t)) + (h / 100.0) AS a
      |      FROM (SELECT l_orderkey, l_linenumber, l_quantity AS t,
      |              l_discount*1000 AS h FROM lineitem) i) o
      |ORDER BY l_orderkey, l_linenumber, dew_point""".stripMargin

  /** T8: first-match CASE buckets (py:379-390) + group count.
    * rainfall := (l_quantity-1)*1.2 spans all five buckets.
    */
  def q06RainfallCategory(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(WeatherFunctions.rainfallCategory((col("l_quantity") - 1) * 1.2)
        .as("rainfall_category"))
      .groupBy(col("rainfall_category"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("rainfall_category"))

  val q06Sql: String =
    """SELECT rainfall_category, COUNT(*) AS n FROM (
      |  SELECT CASE WHEN r = 0 THEN 'No Rain'
      |              WHEN r < 2.5 THEN 'Light Rain'
      |              WHEN r < 10 THEN 'Moderate Rain'
      |              WHEN r < 50 THEN 'Heavy Rain'
      |              ELSE 'Very Heavy Rain' END AS rainfall_category
      |  FROM (SELECT (l_quantity - 1) * 1.2 AS r FROM lineitem) a) b
      |GROUP BY rainfall_category ORDER BY rainfall_category""".stripMargin

  /** T9: date-part projections (py:321-325). LONG-cast to match DuckDB
    * EXTRACT's BIGINT.
    */
  def q07DateParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("day"),
        hour(col("o_orderdate")).cast("long").as("h"))
      .orderBy(col("o_orderkey"))

  val q07Sql: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
      |  EXTRACT(YEAR FROM o_orderdate) AS y,
      |  EXTRACT(MONTH FROM o_orderdate) AS m,
      |  EXTRACT(DAY FROM o_orderdate) AS day,
      |  EXTRACT(HOUR FROM o_orderdate) AS h
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // Join / sort / top-k parity (SURVEY §2.5: free from Dataset.join, but
  // exposed + oracle-checked so the surface provably exceeds the reference)
  // ---------------------------------------------------------------------

  /** Broadcast dim join (S2 pattern): 25-row nation ⋈ 5-row region.
    * Explicit broadcast() — map-side at any fact-table scale.
    */
  def q13JoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name"))
      .orderBy(col("n_nationkey"))
  }

  val q13Sql: String =
    """SELECT n_nationkey, n_name, r_name AS region_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  /** Fact-fact join + aggregation: shuffle on the join key then hash agg;
    * AQE can turn it into a broadcast join when one side is small at
    * runtime.
    */
  def q14JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    // Shape adjudication (r14, VERDICT r13 item 5): a partial-agg
    // pushdown — pre-aggregating lineitem per l_orderkey below the
    // join, legal because the final grouping key is functionally
    // determined by the join key — was implemented and MEASURED at
    // sf10r (standalone timing, local[16], same host, same data): pushdown
    // min-of-3 11.1 s / 14.4 s across two sessions vs 8.0 s for this
    // plain shape. It lost because the ~15M-group pre-aggregate (hash
    // map built twice: partial + final) costs more than the exchange
    // bytes it saves when the shuffle is node-local; map-side combine
    // only collapses the ~4 colocated lineitems per order, so the
    // exchange shrinks 4× but the added aggregate touches every key.
    // On a network-shuffle cluster the bytes argument may win; the
    // benched truth on this topology is that Catalyst's default plan
    // (shuffle join + 5-group partial agg after it) is the fast one,
    // so that is what the engine declares. The r13 sweep's 71.6 s
    // in-suite row was suite-context memory backlog, not plan shape —
    // re-measured by this round's sweep.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double") / 100).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q14Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Left-semi join (EXISTS). */
  def q15SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q15Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS). */
  def q16AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q16Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Top-k: ORDER BY ... LIMIT compiles to TakeOrderedAndProject — per
    * partition heaps + driver merge, never a global sort.
    */
  def q17TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  val q17Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Window running sum — the window partitions by supplier so the sort is
    * per-key, not global; exact cents (BIGINT) accumulation finished by
    * one double division, like every money sum in this file.
    */
  def q18WindowRunning(s: SparkSession, dir: String): DataFrame = {
    // l_quantity in the sort: (shipdate, okey, lineno) alone is not unique
    // in the harness data, and an ambiguous order makes the running sum
    // engine-dependent at the tie
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        (sum(cents(col("l_quantity"))).over(w).cast("double") / 100)
          .as("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
  }

  val q18Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS running_qty
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin

  /** ROLLUP grouping sets; NULLS FIRST ordering pinned on both engines
    * (Spark ASC defaults nulls-first, DuckDB nulls-last).
    */
  def q19Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q19Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // The full weather pipeline as one oracle-checked query
  // ---------------------------------------------------------------------

  /** The reference's entire transform stage (T1-T9) run end-to-end over
    * weather-shaped records derived deterministically from `events`:
    * region := user_id mod 15, temperature := value mod 55 - 5,
    * humidity := floor(value) mod 101, rainfall := value mod 60.
    * Exercises dedup, validity filters, both scalar formulas, both flags,
    * the CASE buckets and all date parts in a single plan.
    */
  def q20WeatherPipeline(s: SparkSession, dir: String): DataFrame = {
    val raw = events(s, dir).select(
      col("event_id").as("record_id"),
      concat(lit("r"), (col("user_id") % 15).cast("string")).as("region"),
      col("ts").as("data_timestamp"),
      col("ts_ns").as("data_ts_ns"),
      (col("value") % 55.0 - 5.0).as("temperature"),
      (floor(col("value")).cast("long") % 101).cast("long").as("humidity"),
      (col("value") % 60.0).as("rainfall_1h"))
    val deduped = Dedup.keepFirst(raw, Seq("region", "data_ts_ns"),
      Seq(col("record_id").asc))
    val valid = deduped
      .filter(col("temperature").between(-5, 50))
      .filter(col("humidity").between(0, 100))
    valid.select(
      col("record_id"), col("region"), col("temperature"), col("humidity"),
      WeatherFunctions.heatIndex(col("temperature"), col("humidity"))
        .as("heat_index"),
      WeatherFunctions.dewPoint(col("temperature"), col("humidity"))
        .as("dew_point"),
      WeatherFunctions.isFavorableTemp(col("temperature"))
        .as("is_favorable_temp"),
      WeatherFunctions.isHighHumidity(col("humidity")).as("is_high_humidity"),
      WeatherFunctions.rainfallCategory(col("rainfall_1h"))
        .as("rainfall_category"),
      to_date(col("data_timestamp")).as("date"),
      hour(col("data_timestamp")).cast("long").as("hour"),
      month(col("data_timestamp")).cast("long").as("month"),
      year(col("data_timestamp")).cast("long").as("year"))
      .orderBy(col("record_id"))
  }

  val q20Sql: String =
    """SELECT record_id, region, temperature, humidity,
      |  CASE WHEN temperature < 27 THEN temperature ELSE round(
      |    -8.78469475556 + 1.61139411*temperature + 2.33854883889*humidity
      |    + -0.14611605*temperature*humidity + -0.012308094*temperature*temperature
      |    + -0.0164248277778*humidity*humidity
      |    + 0.002211732*temperature*temperature*humidity
      |    + 0.00072546*temperature*humidity*humidity
      |    + -0.000003582*temperature*temperature*humidity*humidity, 2) + 0.0
      |  END AS heat_index,
      |  round((237.7 * (((17.27 * temperature) / (237.7 + temperature))
      |    + (humidity / 100.0)))
      |    / (17.27 - (((17.27 * temperature) / (237.7 + temperature))
      |    + (humidity / 100.0))), 2) + 0.0 AS dew_point,
      |  temperature BETWEEN 18 AND 28 AS is_favorable_temp,
      |  humidity > 70 AS is_high_humidity,
      |  CASE WHEN rainfall_1h = 0 THEN 'No Rain'
      |       WHEN rainfall_1h < 2.5 THEN 'Light Rain'
      |       WHEN rainfall_1h < 10 THEN 'Moderate Rain'
      |       WHEN rainfall_1h < 50 THEN 'Heavy Rain'
      |       ELSE 'Very Heavy Rain' END AS rainfall_category,
      |  CAST(data_timestamp AS DATE) AS date,
      |  EXTRACT(HOUR FROM data_timestamp) AS hour,
      |  EXTRACT(MONTH FROM data_timestamp) AS month,
      |  EXTRACT(YEAR FROM data_timestamp) AS year
      |FROM (
      |  SELECT record_id, region, data_timestamp, temperature, humidity,
      |         rainfall_1h
      |  FROM (
      |    SELECT record_id, region, data_timestamp, extraction_timestamp,
      |      temperature, humidity, rainfall_1h,
      |      ROW_NUMBER() OVER (PARTITION BY region, data_timestamp
      |        ORDER BY extraction_timestamp, record_id) AS rn
      |    FROM (
      |      SELECT event_id AS record_id,
      |        'r' || CAST(user_id % 15 AS VARCHAR) AS region,
      |        ts AS data_timestamp, ts AS extraction_timestamp,
      |        value % 55.0 - 5.0 AS temperature,
      |        CAST(FLOOR(value) AS BIGINT) % 101 AS humidity,
      |        value % 60.0 AS rainfall_1h
      |      FROM events) r) d
      |  WHERE rn = 1
      |    AND temperature BETWEEN -5 AND 50
      |    AND humidity BETWEEN 0 AND 100) v
      |ORDER BY record_id""".stripMargin

  // ---------------------------------------------------------------------
  // Text analysis (LLM-pipeline operators over `documents`)
  // ---------------------------------------------------------------------

  /** Content fingerprint per document (exact-dedup key). */
  def q21DocFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val q21Sql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Token statistics: whitespace and BPE-style pre-tokenizer counts,
    * vocabulary, characters, stopword hits. The BPE segment count uses
    * an RE2-safe regex ([[TextFunctions.bpePattern]]) so both engines
    * count the same matches (verified incl. Unicode letter classes).
    */
  def q22TokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
        TextFunctions.uniqueTokenCount(col("text")).as("n_unique"),
        TextFunctions.tokenChars(col("text")).as("n_chars_tok"),
        TextFunctions.stopwordCount(col("text")).as("n_stop"))
      .orderBy(col("doc_id"))

  val q22Sql: String = {
    val sqlPat = TextFunctions.bpePattern.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(COALESCE(text, ''), '$sqlPat')) AS BIGINT) AS n_bpe,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
       |  CAST(COALESCE(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) AS BIGINT) AS n_chars_tok,
       |  CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','to','and','in','is','on','for','it','with','as','at','by'], x))) AS BIGINT) AS n_stop
       |FROM (SELECT doc_id, text,
       |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |      FROM documents) a
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality score: richness + stopword/length bands (unrounded double —
    * see TextFunctions scaladoc for why no rounding).
    */
  def q23QualityScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality_score"))
      .orderBy(col("doc_id"))

  val q23Sql: String =
    """SELECT doc_id,
      |  (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(u AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) * 0.5
      |  + (CASE WHEN (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(st AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END) * 0.25
      |  + (CASE WHEN (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(ch AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.25
      |  AS quality_score
      |FROM (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS u,
      |        list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS ch,
      |        len(list_filter(toks, x -> list_contains(['the','a','an','of','to','and','in','is','on','for','it','with','as','at','by'], x))) AS st
      |      FROM (SELECT doc_id,
      |              list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |            FROM documents) i) o
      |ORDER BY doc_id""".stripMargin

  /** Language ID: marker-word argmax, deterministic tie order. */
  def q24LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** (marker-score projections, argmax CASE) of the langId oracle —
    * generated from [[TextFunctions.langMarkers]], shared by q24Sql and
    * q146Sql so the two oracles can never disagree about the classifier.
    */
  private lazy val langPredSqlParts: (String, String) = {
    val markers = TextFunctions.langMarkers.map { case (lang, ws) =>
      lang -> ws.map(w => s"'$w'").mkString("[", ",", "]")
    }
    val scores = markers.map { case (lang, arr) =>
      s"len(list_filter(toks, x -> list_contains($arr, x))) AS s_$lang"
    }.mkString(",\n        ")
    val langs = markers.map(_._1)
    val best = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l =>
      s"WHEN $best > 0 AND s_$l = $best THEN '$l'").mkString("\n    ")
    (scores, s"CASE $cases\n    ELSE 'und' END")
  }

  val q24Sql: String = {
    val (scores, caseExpr) = langPredSqlParts
    s"""SELECT doc_id,
       |  $caseExpr AS lang_pred
       |FROM (SELECT doc_id,
       |        $scores
       |      FROM (SELECT doc_id,
       |              list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |            FROM documents) i) o
       |ORDER BY doc_id""".stripMargin
  }

  /** Exact dedup by content fingerprint, deterministic keep-first. */
  def q25ExactDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.exact(t(s, dir, "documents"), "text", Seq(col("doc_id").asc))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val q25Sql: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |      ORDER BY doc_id) AS rn
      |  FROM documents) d
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** MinHash+LSH near-dup over a corpus with planted near-duplicates
    * (each doc unioned with a copy missing its last 2 tokens), ORACLE-
    * CHECKED on the planted subset: the output keeps pairs
    * (d, d+1000000), whose exact shingle Jaccard — and therefore
    * membership above the threshold — IS SQL-expressible (the q27
    * kernel), so DuckDB predicts the full result. Equality then proves
    * LSH recall = 1.0 on every planted pair, not just row counts.
    *
    * 32 bands x 4 rows: per-pair miss probability (1-j^4)^32 is ~5e-6
    * even at the corpus's weakest planted pair (j = 0.75; measured
    * distribution min across sf0.001/0.01/0.1), so the equality check is
    * deterministic in practice while rows-per-band=4 keeps the candidate
    * probability curve steep (random-overlap docs don't flood the join).
    * The 0.7 output threshold (vs the distribution min 0.75) keeps the
    * compared subset inside the near-certain-recall regime even if the
    * corpus generator shifts: a hypothetical j ∈ [0.5, 0.7) planted pair
    * would fall outside the comparison instead of gambling its recall.
    * Cross-doc dup pairs are still found by the same plan; the planted
    * filter only selects the oracle-predictable subset for output.
    */
  def q26MinHashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(mutatedCopy(docs))
    TextDedup.minHashLsh(corpus, "doc_id", "text",
        numHashes = 128, bands = 32, shingleSize = 3, threshold = 0.7)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q26Sql: String =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
      |  CASE WHEN CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |         - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE) > 0
      |    THEN CAST(len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |       / CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |         - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |    ELSE 0.0 END AS jaccard
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |         ELSE list_transform(range(1, len(ta) - 1),
      |                i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END AS sa,
      |    CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
      |         ELSE list_transform(range(1, len(tb) - 1),
      |                i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2]) END AS sb
      |  FROM (
      |    SELECT doc_id, ta, ta[1:GREATEST(len(ta) - 2, 1)] AS tb
      |    FROM (SELECT doc_id,
      |            list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |          FROM documents) i) m) o
      |WHERE CAST(len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |    / NULLIF(CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |      - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE), 0)
      |    >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** Incremental near-dup — [[graft.operators.TextDedup
    * .minHashLshIncremental]]: the mutated copies arrive as a NEW BATCH
    * and are LSH-deduped against the original `documents` snapshot
    * (batch × snapshot band join — never snapshot × snapshot). The
    * planted-pair filter and the exact-Jaccard oracle are q26's,
    * re-labeled for the two-table direction; the oracle certifies that
    * banding recall on the planted mutations is 1 at these parameters
    * AND that the cross-table verification arithmetic is exact.
    */
  def q99IncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val snap = t(s, dir, "documents").select(col("doc_id"), col("text"))
    TextDedup.minHashLshIncremental(
        snap, "doc_id", "text",
        mutatedCopy(snap), "doc_id", "text",
        numHashes = 128, bands = 32, shingleSize = 3, threshold = 0.7)
      .filter(col("snap_id") === col("batch_id") - 1000000L)
      .orderBy(col("batch_id"), col("snap_id"))
  }

  val q99Sql: String =
    """SELECT doc_id + 1000000 AS batch_id, doc_id AS snap_id,
      |  CASE WHEN CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |         - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE) > 0
      |    THEN CAST(len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |       / CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |         - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |    ELSE 0.0 END AS jaccard
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |         ELSE list_transform(range(1, len(ta) - 1),
      |                i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END AS sa,
      |    CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
      |         ELSE list_transform(range(1, len(tb) - 1),
      |                i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2]) END AS sb
      |  FROM (
      |    SELECT doc_id, ta, ta[1:GREATEST(len(ta) - 2, 1)] AS tb
      |    FROM (SELECT doc_id,
      |            list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |          FROM documents) i) m) o
      |WHERE CAST(len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |    / NULLIF(CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |      - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE), 0)
      |    >= 0.7
      |ORDER BY batch_id, snap_id""".stripMargin

  /** Streaming incremental near-dedup — the q90 replay pattern applied
    * to [[q99IncrementalNeardup]]: the mutated copies arrive as a
    * 2-micro-batch STREAM (staged parquet + `Trigger.AvailableNow`),
    * and each `foreachBatch` runs [[graft.operators.TextDedup
    * .minHashLshIncremental]] against the static snapshot, appending
    * accepted pairs. Near-dup checks are join+aggregate trees that
    * Structured Streaming cannot run incrementally, so foreachBatch IS
    * the production shape (micro-batch as a bounded DataFrame); the
    * oracle certifies that micro-batched replay ≡ the one-shot batch
    * result — per-doc signatures and batch×snapshot banding make each
    * batch independent, so the union over micro-batches is exact.
    */
  def q100StreamNeardup(s: SparkSession, dir: String): DataFrame = {
    val snap = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val batchSrc = mutatedCopy(snap)
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q100_state").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val stage = s"$base/stage"
    val pairsPath = s"$base/pairs"
    // The snapshot's LSH index is a BUILD ARTIFACT — the signature
    // store a production pipeline maintains: BUCKETED catalog tables
    // ([[TextDedup.storeLshIndex]]; shingles by __id, bands by
    // (__band, __bandsig)), so the stored side of BOTH per-batch joins
    // has compatible output partitioning and never exchanges — only
    // the day's batch shuffles (LshIndexSpec asserts the plan). r9:
    // the store is keyed by the snapshot's corpus fingerprint and
    // REUSED when it already exists (the q96 quantizer regime: the
    // store exists before the day starts; building it is not part of
    // the daily cost), and it stays PRISTINE — each batch's accepted
    // signatures go to a run-local DELTA index instead of appends into
    // the main store (the pre-r9 appends grew the shared store run
    // over run, the r7 growing-store artifact). Batch 2 still dedups
    // against batch 1 via the delta join; batch × main and batch ×
    // delta results union exactly (disjoint id spaces). The oracle is
    // untouched: a batch×batch pair can never satisfy the planted
    // snap_id = batch_id − 1e6 filter (both ids ≥ 1e6).
    // r12: CONTENT-keyed store name — the fingerprint folds the text
    // payload and the LSH parameters ride the name (TextDedup
    // .lshStoreKey scaladoc has the failure this prevents: an ids-only
    // key adopted an orphaned store built from different text under
    // the same doc ids and the replay returned zero pairs).
    val store = TextDedup.lshStoreKey("graft_q100_store", snap,
      "doc_id", "text", numHashes = 128, bands = 32, shingleSize = 3)
    // The store survives the WRITER's JVM as warehouse directories
    // (in-memory catalog); adopt them when present — the tools/
    // PrebuildStores build step then amortizes across bench/sweep JVMs
    // exactly like the persisted IVF quantizers, and the benched number
    // is steady-state replay.
    if (!TextDedup.adoptLshIndex(s, store, buckets = 8)) {
      graft.StrategyLog.record("q100.lshStore", "build",
        s"store=$store")
      val idx = TextDedup.buildLshIndex(snap, "doc_id", "text",
        numHashes = 128, bands = 32, shingleSize = 3)
      TextDedup.storeLshIndex(idx, store, buckets = 8)
    } else graft.StrategyLog.record("q100.lshStore", "reuse",
      s"store=$store")
    val delta = s"graft_q100_delta_${base.getName.takeRight(8)}"
    var deltaCreated = false
    var batches = 0
    try {
      // r9: ONE stream, two micro-batches (maxFilesPerTrigger = 1 over
      // two staged single-file arrivals) instead of a stream start/stop
      // per arrival — same replay semantics (foreachBatch runs
      // sequentially, so batch 2 still sees batch 1's appended
      // signatures), one checkpoint, one startup.
      (0 until 2).foreach { i =>
        batchSrc.filter(col("doc_id") % 2 === i)
          .coalesce(1).write.mode("append").parquet(stage)
      }
      graft.streaming.Replay.withLocalCheckpoints(s, "graft_q100") { cp =>
        val q = s.readStream.schema(batchSrc.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            val stored = TextDedup.readLshIndex(s, store)
            // r9: the batch's signatures are computed ONCE
            // (localCheckpoint materializes the index frames) and feed
            // the main-store join, the delta join AND the delta append
            // — the pre-r9 loop re-shingled/re-minhashed the batch for
            // the append, a second full pass over the day's text per
            // micro-batch
            val raw = TextDedup.buildLshIndex(b, "doc_id", "text",
              numHashes = 128, bands = 32, shingleSize = 3)
            val batchIdx = TextDedup.LshIndex(
              raw.shingles.localCheckpoint(), raw.bands.localCheckpoint())
            val vsMain = TextDedup.minHashLshIncremental(stored, batchIdx,
              threshold = 0.7)
            // batch × earlier-batches: join the day's accumulated delta
            // index; ids are disjoint from the main store so the UNION
            // of the two results is exact (no pair counted twice)
            val pairs =
              if (deltaCreated)
                vsMain.unionByName(TextDedup.minHashLshIncremental(
                  TextDedup.readLshIndex(s, delta), batchIdx,
                  threshold = 0.7))
              else vsMain
            pairs.filter(col("snap_id") === col("batch_id") - 1000000L)
              .write.mode("append").parquet(pairsPath)
            if (deltaCreated) TextDedup.appendLshIndex(batchIdx, delta)
            else {
              TextDedup.storeLshIndex(batchIdx, delta, buckets = 8)
              deltaCreated = true
            }
            batches += 1
          }
          .start()
        try q.awaitTermination() finally q.stop()
        require(batches == 2,
          s"q100 replay expected 2 micro-batches, saw $batches")
      }
    } finally {
      // the fingerprint-keyed main store is the reusable build
      // artifact and stays; only the run-local delta is dropped
      s.sql(s"DROP TABLE IF EXISTS ${delta}_shingles")
      s.sql(s"DROP TABLE IF EXISTS ${delta}_bands")
    }
    if (batches == 0)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("snap_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("jaccard",
            org.apache.spark.sql.types.DoubleType))))
    else s.read.parquet(pairsPath)
      .orderBy(col("batch_id"), col("snap_id"))
  }

  /** Same prediction as q99: replay must be invisible. */
  val q100Sql: String = q99Sql

  /** Compression-ratio repetitiveness filter
    * ([[graft.functions.TextFunctions.compressionRatio]], native
    * [[graft.expressions.DeflateRatio]]) — the deflate-based
    * degenerate-text detector of web-scale curation stacks, oracle-
    * checked on its thresholded DECISION over planted extremes: even
    * customers get 12× repeated prose (ratio ≲ 0.1), odd customers get
    * 8 md5 hex blocks (4-bit/char entropy, ratio ≳ 0.5); at threshold
    * 0.3 the margin dwarfs any zlib-version drift, so DuckDB predicts
    * every decision byte-free from the parity alone. The raw ratio
    * never reaches an output column (zlib output length is not a
    * cross-engine constant).
    */
  def q101CompressionFilter(s: SparkSession, dir: String): DataFrame = {
    // q102's lesson (r9 sf10): the work here is GENERATED per id (zlib
    // deflate of synthesized text), so it must not inherit the id
    // scan's byte-based split count — the sf10 customer file is one
    // 9 MB row group, i.e. one task. Repartitioning shuffles only the
    // long ids.
    val base = t(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"))
      .repartition(s.sessionState.conf.numShufflePartitions)
    val text = when(col("id") % 2 === 0,
      concat(col("id").cast("string"), lit(" "),
        repeat(lit("the quick brown fox jumps over the lazy dog "), 12)))
      .otherwise(concat_ws(" ", (1 to 8).map(k =>
        md5(concat(col("id").cast("string"), lit(s"#$k")))): _*))
    base.select(col("id"),
        (TextFunctions.compressionRatio(text) < 0.3).as("is_repetitive"))
      .orderBy(col("id"))
  }

  val q101Sql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS id,
      |  c_custkey % 2 = 0 AS is_repetitive
      |FROM customer ORDER BY id""".stripMargin

  /** Perceptual image near-dup retrieval — the query that retires the
    * multimodal feature stub: one distinct synthetic 24×16 image per
    * customer ([[graft.operators.SynthMedia.imagePixel]] — pixels are
    * closed forms of id's residues mod the pairwise-coprime
    * 251·241·239·233, CRT-injective below 3.37e9; the r10 two-residue
    * form repeated at period 60491, below sf10's 1.5M customers), the
    * corpus encoded as BMP and every 10th image RE-ENCODED as PNG
    * (lossless, different container + entropy coder) with ids offset by
    * 1e6. Both sides run the REAL pipeline: pixel decode →
    * [[graft.operators.Multimodal.MediaCodec.imageEmbedding]]
    * (pooled-luminance DCT pHash + color histogram, L2-normalized) →
    * cosine top-1 via the LSH-bucketed path
    * ([[graft.operators.Similarity.lshTopK]]). A lossless re-encode has
    * the bit-identical embedding, so it lands in its twin's bucket in
    * every band BY CONSTRUCTION (hyperplane signs are a pure function
    * of the vector) and scores exactly 1.0 there, while every other
    * (distinct) image scores strictly less — the oracle predicts the
    * full pairing in closed form WITHOUT assuming anything about
    * recall, because the one neighbor that matters cannot be missed.
    * r8: this replaced brute-force scoring after the sf1 run measured
    * the |corpus|×|queries| pair growth at 65% of the whole suite's
    * wall-clock (774 s) — the bucketed join scores ~1/256th of the
    * pairs for identical output.
    */
  def q102ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{Multimodal, Similarity}
    // lambda, not a local def: a def would lift onto this (non-serializable)
    // enclosing object and poison the task closure
    val pix: (Long, Int, Int) => Int =
      (id, x, y) => graft.operators.SynthMedia.imagePixel(id, x, y)
    // repartition BEFORE the per-row synthesis+DCT: the id scan is a
    // single ~40 MB parquet split even at sf10 (1.5M rows), and without
    // the exchange the whole image pipeline — encode, decode, DCT,
    // assignment — inherits that one partition (r9 sf10: jstack showed
    // ONE task burning 570+ s). CPU-bound generated work must not ride
    // the input's byte-based split count.
    val ids = t(s, dir, "customer")
      .select(col("c_custkey").cast("long")).as[Long]
      .repartition(s.sessionState.conf.numShufflePartitions)
    val dim = Multimodal.MediaCodec.imageEmbeddingDim
    val corpus = Multimodal.extractFeatures(
      ids.map(id => Multimodal.MediaRecord(id, "image",
        Multimodal.MediaCodec.bmpEncode(24, 16, (x, y) => pix(id, x, y)),
        "image/bmp", "synth")), dim)
    // every 100th id: the probe set must stay broadcast-small (lshTopK
    // broadcasts the query side into the bucket join)
    val queries = Multimodal.extractFeatures(
      ids.filter(_ % 100 == 0).map(id =>
        Multimodal.MediaRecord(id + 1000000L, "image",
          Multimodal.MediaCodec.pngEncode(24, 16, (x, y) => pix(id, x, y)),
          "image/png", "synth")), dim)
    // r9 (planes → IVF): the r9 autoPlanes derivation held EXPECTED
    // occupancy constant, but the sf10 sweep measured the sign-pattern
    // buckets catastrophically SKEWED on image embeddings (BASELINE.md
    // q102 deep-dive: at sf1 485 of 4096 buckets occupied, max occupancy
    // 8012 vs uniform 37 — pHash+histogram features concentrate in few
    // orthants, and more hyperplanes cannot split a dense orthant), so
    // the bucket join paid ~750 of q102's 682-in-suite seconds at sf10
    // (same record). Generator swapped to the data-ADAPTIVE IVF coarse
    // quantizer: k-means cells track the embedding DISTRIBUTION, nlist
    // = autoNlist ≈ √N, centroids trained once per corpus fingerprint
    // and reused (the q96 store regime); nprobe = 1 rides the
    // NearestCell loop kernel on both sides. Correctness is
    // generator-independent: the lossless re-encode has the
    // bit-identical embedding, lands in its twin's argmax cell under
    // ANY centroids, and scores exactly 1.0 there.
    val idsDf = t(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("media_id"))
    // id-ONLY fingerprint, deliberately: every embedding here is a pure
    // function of its media_id (synthesized pixels → deterministic
    // codec → deterministic features), so id-identity IS
    // payload-identity and the keying scan stays a pruned id read.
    // Real embedding tables fold the vector payload instead (r10
    // ADVICE; see corpusFingerprint's vecCol). The generator VERSION
    // is folded in because id-identity == payload-identity only holds
    // within one generation of SynthMedia (r11 changed payloads under
    // unchanged ids).
    val fp0 = Similarity.corpusFingerprint(idsDf, "media_id")
    val fp = (fp0._1, fp0._2 ^
      graft.operators.SynthMedia.generatorVersion * 0x9E3779B97F4A7C15L)
    val nlist = Similarity.autoNlist(fp._1)
    val centroids = Similarity.trainOrLoadIvfCentroids(corpus,
      "media_id", "embedding", dim, nlist, quantizerStoreDir,
      fingerprint = Some(fp))
    Similarity.ivfTopK(corpus, queries, "media_id", "embedding", k = 1,
        centroids = centroids, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  val q102Sql: String =
    """SELECT CAST(c_custkey + 1000000 AS BIGINT) AS query_id,
      |  CAST(c_custkey AS BIGINT) AS neighbor_id
      |FROM customer WHERE c_custkey % 100 = 0
      |ORDER BY query_id""".stripMargin

  /** PROGRESSIVE JPEG decode, oracle-checked — q92's closed form
    * delivered through a genuine SOF2 multi-scan stream
    * ([[graft.operators.JpegCodec.encodeDcOnlyProgressive]]): a DC
    * first scan at Al=1 (Huffman-coded differential high bits) plus a
    * DC refinement scan (raw low bits), accumulated across scans and
    * reconstructed at EOI. The successive-approximation reassembly
    * `(dc >> 1) << 1 | (dc & 1)` is exact in two's complement, so the
    * q00=8 exactness contract carries over unchanged and DuckDB
    * predicts every pixel statistic without touching a byte — if either
    * progressive DC path (first or refinement) mis-decodes a single
    * bit, the DC chain and the hash break. The AC progressive paths
    * (EOB runs, correction bits) are covered by JpegCodecSpec's
    * ImageIO cross-checks; their output is quantization-noisy by
    * nature, which is exactly what a closed-form oracle cannot host.
    */
  def q103ProgressiveJpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{JpegCodec, Multimodal}
    val recs = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long")).as[Long]
      .map { id =>
        val bytes = JpegCodec.encodeDcOnlyProgressive(24, 16, 3,
          (bx, by, c) =>
            ((id * 11 + bx * 17 + by * 23 + c * 47) % 251 - 125).toInt)
        Multimodal.MediaRecord(id, "image", bytes, "image/jpeg", "synth")
      }
    Multimodal.imageStats(recs).orderBy(col("media_id"))
  }

  val q103Sql: String =
    """WITH base AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
      |), xs AS (
      |  SELECT id, unnest(range(3)) AS bx FROM base
      |), bl AS (
      |  SELECT id, bx, unnest(range(2)) AS by FROM xs
      |), c AS (
      |  SELECT id,
      |    (id*11 + bx*17 + by*23) % 251 - 125 + 128 AS yv,
      |    (id*11 + bx*17 + by*23 + 47) % 251 - 125 AS cb,
      |    (id*11 + bx*17 + by*23 + 94) % 251 - 125 AS cr
      |  FROM bl
      |), rgb AS (
      |  SELECT id,
      |    LEAST(GREATEST(yv + CAST(FLOOR((91881*cr + 32768)/65536.0) AS BIGINT), 0), 255) AS r,
      |    LEAST(GREATEST(yv - CAST(FLOOR((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT), 0), 255) AS g,
      |    LEAST(GREATEST(yv + CAST(FLOOR((116130*cb + 32768)/65536.0) AS BIGINT), 0), 255) AS b
      |  FROM c
      |)
      |SELECT id AS media_id, CAST(384 AS BIGINT) AS n_pixels,
      |  CAST(64 * SUM(r) AS BIGINT) AS sum_r,
      |  CAST(64 * SUM(g) AS BIGINT) AS sum_g,
      |  CAST(64 * SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(299*r + 587*g + 114*b) AS INTEGER) AS lum_min,
      |  CAST(MAX(299*r + 587*g + 114*b) AS INTEGER) AS lum_max
      |FROM rgb GROUP BY id ORDER BY media_id""".stripMargin

  /** Substring-span dedup ([[SubstringDedup.dupSpanReport]]): per-doc
    * duplicated-token-span report over the raw corpus at w=5 — the
    * span-granular modality of Lee et al. 2021 (find the duplicated
    * REGIONS, not just duplicated documents). The oracle rebuilds the
    * identical pipeline from the raw table: same whitespace tokens,
    * same positional 5-token windows (short docs fall back to one
    * whole-text window, mirroring the kernel contract), same PORTABLE
    * md5-60 window hashes (q57's cross-engine validated key), the same
    * count-over-hash-partition occurrence>=2 flag, and the same
    * gaps-and-islands interval merge with span ends clipped at the doc
    * length — so a hash match certifies window generation, the global
    * duplicate count and the span-merge window algebra. Duplicated mass
    * comes from the corpus's natural exact-dup docs (full-coverage
    * spans) plus organically repeated 5-grams; `keep` is an integer
    * compare (dup*2 < n), division-free and portable.
    */
  def q104SubstringDedup(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.dupSpanReport(t(s, dir, "documents"), "doc_id", "text",
        w = 5)
      .orderBy(col("doc_id"))

  val q104Sql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, CAST(len(ta) AS BIGINT) AS n_tokens, i - 1 AS pos,
      |    CAST('0x' || substr(md5(CASE WHEN len(ta) < 5
      |      THEN array_to_string(ta, ' ')
      |      ELSE array_to_string(ta[i:i+4], ' ') END), 1, 15) AS BIGINT) AS h
      |  FROM (SELECT doc_id, ta,
      |          unnest(range(1, GREATEST(len(ta) - 3, 2))) AS i
      |        FROM base) u),
      |cw AS (
      |  SELECT doc_id, n_tokens, pos,
      |    COUNT(*) OVER (PARTITION BY h) >= 2 AS flag
      |  FROM wins),
      |isl AS (
      |  SELECT doc_id, n_tokens, pos, flag,
      |    CASE WHEN flag AND pos > COALESCE(
      |      MAX(CASE WHEN flag THEN pos + 5 END) OVER (PARTITION BY doc_id
      |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -1) THEN 1 ELSE 0 END AS ni
      |  FROM cw),
      |isl2 AS (
      |  SELECT doc_id, n_tokens, pos, flag,
      |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, island, MAX(n_tokens) AS nt,
      |    MIN(CASE WHEN flag THEN pos END) AS s,
      |    LEAST(MAX(CASE WHEN flag THEN pos END) + 5, MAX(n_tokens)) AS e
      |  FROM isl2 GROUP BY doc_id, island)
      |SELECT doc_id, CAST(MAX(nt) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(SUM(CASE WHEN s IS NOT NULL THEN e - s END), 0)
      |    AS BIGINT) AS dup_tokens,
      |  CAST(COUNT(CASE WHEN s IS NOT NULL THEN 1 END) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(MAX(CASE WHEN s IS NOT NULL THEN e - s END), 0)
      |    AS BIGINT) AS max_span,
      |  CAST(COALESCE(SUM(CASE WHEN s IS NOT NULL THEN e - s END), 0) * 2
      |    < MAX(nt) AS BOOLEAN) AS keep
      |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Fixed-point PageRank ([[Graph.pageRank]]) over the undirected
    * customer↔supplier purchase graph (an edge per distinct
    * customer/supplier pair that shares an order line; supplier ids
    * offset so the domains stay disjoint). 5 rounds, damping 85/100.
    * Oracle parity is the q58 pattern: every step is either exact
    * int64 arithmetic (the contribution sums — order-independent) or a
    * correctly-rounded IEEE double op replayed identically by DuckDB
    * (`FLOOR(r/deg)`, `FLOOR(85*m/100)`, `FLOOR(1e12/n)`; operands all
    * < 2^53), so all five unrolled oracle iterations reproduce every
    * rank bit-for-bit — one diverging floor anywhere shifts a rank and
    * breaks the hash.
    */
  def q105PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))
    Graph.pageRank(edges, "src", "dst", iterations = 5, dampingPct = 85)
      .orderBy(col("node"))
  }

  val q105Sql: String = {
    def iter(k: Int): String =
      s"""r$k AS (
         |  SELECT deg.u AS id,
         |    CAST(FLOOR(15 * FLOOR(1000000000000 / nn.n) / 100) AS BIGINT)
         |      + CAST(FLOOR(85 * COALESCE(c.m, 0) / 100) AS BIGINT) AS r
         |  FROM deg CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT s.v AS id, SUM(CAST(FLOOR(r.r / d2.d) AS BIGINT)) AS m
         |    FROM sym s JOIN r${k - 1} r ON r.id = s.u JOIN deg d2 ON d2.u = s.u
         |    GROUP BY s.v) c ON c.id = deg.u)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT o_custkey AS u, l_suppkey + 10000000 AS v
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_custkey <> l_suppkey + 10000000),
       |sym AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (
       |  SELECT u AS id, CAST(FLOOR(1000000000000 / nn.n) AS BIGINT) AS r
       |  FROM deg CROSS JOIN nn),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT id AS node, r AS rank_fp FROM r5 ORDER BY node""".stripMargin
  }

  /** Deterministic shuffle-shard export manifest
    * ([[graft.operators.Layout.shuffleShard]]): the corpus in 8 shards
    * under a reproducible pseudo-random order. The oracle recomputes
    * shard and order from the same salted portable md5-60 hashes and a
    * plain `row_number() OVER (PARTITION BY shard)` — the engine's
    * chunked distributed rank must land the IDENTICAL permutation
    * (pinned by the Σ id·seq checksum, which any single transposition
    * shifts), proving the scale-safe rank equals the naive global one.
    */
  def q106ShuffleShard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Layout
      .shuffleShard(t(s, dir, "documents").select(col("doc_id"),
        col("n_chars")), "doc_id", nShards = 8)
      .groupBy(col("__shard").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id") * col("__seq")).as("perm_checksum"),
        max(when(col("__seq") === 1, col("doc_id"))).as("first_doc"))
      .orderBy(col("shard"))

  val q106Sql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    CAST('0x' || substr(md5('shard-v1:' || CAST(doc_id AS VARCHAR)),
      |      1, 15) AS BIGINT) % 8 AS shard,
      |    CAST('0x' || substr(md5('ord-v1:' || CAST(doc_id AS VARCHAR)),
      |      1, 15) AS BIGINT) AS ord
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_chars, shard,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id)
      |      AS BIGINT) AS seq
      |  FROM h)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(doc_id * seq) AS BIGINT) AS perm_checksum,
      |  MAX(CASE WHEN seq = 1 THEN doc_id END) AS first_doc
      |FROM r GROUP BY shard ORDER BY shard""".stripMargin

  /** Distributed BPE tokenizer training
    * ([[graft.operators.BpeTrainer.trainMerges]]): learn 6 merges from
    * the corpus word histogram. The oracle replays the ENTIRE training
    * loop in SQL — word histogram, char-spaced symbol strings, per-round
    * overlapping pair counts weighted by word frequency, the
    * (freq DESC, pair ASC) argmax, and the triple-REPLACE merge
    * application — all exact integer counting and exact string surgery,
    * so the learned merge table must match row-for-row: one diverging
    * count, tie-break or replace pass anywhere changes a winning pair
    * and breaks the hash.
    */
  def q107BpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer
      .trainMerges(t(s, dir, "documents"), "text", merges = 6, passes = 3)
      .orderBy(col("rank"))

  /** The BPE training CTE chain (w0 → r0 → pc/pg/m/r 1..6), shared by
    * q107 (emit the merge table) and q131 (apply the merge table to
    * encode documents): both oracles must derive the IDENTICAL
    * vocabulary, so the derivation text exists exactly once.
    */
  private val bpeTrainCtes: String = {
    def iter(k: Int): String =
      s"""pc$k AS (
         |  SELECT sy[i] || ' ' || sy[i+1] AS pair, freq
         |  FROM (SELECT string_split(trim(ws), ' ') AS sy, freq FROM r${k - 1}) t,
         |       (SELECT unnest(range(1, (SELECT COALESCE(MAX(
         |          len(string_split(trim(ws), ' '))), 1) FROM r${k - 1}))) AS i)
         |  WHERE i < len(sy)),
         |pg$k AS (
         |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM pc$k GROUP BY pair),
         |m$k AS (SELECT pair, cnt FROM pg$k ORDER BY cnt DESC, pair LIMIT 1),
         |r$k AS (
         |  SELECT REPLACE(REPLACE(REPLACE(ws, x.pp, x.mm), x.pp, x.mm),
         |      x.pp, x.mm) AS ws, freq
         |  FROM r${k - 1} CROSS JOIN (
         |    SELECT ' ' || pair || ' ' AS pp,
         |      ' ' || REPLACE(pair, ' ', '') || ' ' AS mm FROM m$k) x)""".stripMargin
    s"""w0 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
       |          x -> x <> '')) AS w
       |        FROM documents) u
       |  GROUP BY w),
       |r0 AS (
       |  SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
       |    || ' ' AS ws, freq
       |  FROM w0),
       |${(1 to 6).map(iter).mkString(",\n")}""".stripMargin
  }

  // NOTE: composed by concatenating SEPARATELY-stripped pieces — calling
  // stripMargin on a template that interpolates the already-stripped CTE
  // text would eat the first '|' of every SQL '||' concat in it.
  val q107Sql: String =
    s"WITH $bpeTrainCtes\n" +
      """SELECT rank, pair, REPLACE(pair, ' ', '') AS merged, cnt AS pair_freq
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS rank, pair, cnt FROM m1
        |  UNION ALL SELECT 2, pair, cnt FROM m2
        |  UNION ALL SELECT 3, pair, cnt FROM m3
        |  UNION ALL SELECT 4, pair, cnt FROM m4
        |  UNION ALL SELECT 5, pair, cnt FROM m5
        |  UNION ALL SELECT 6, pair, cnt FROM m6)
        |ORDER BY rank""".stripMargin

  /** Unpivot/melt — the inverse reshaping of q42's pivot (`Dataset
    * .unpivot`, Spark's native melt): the four lineitem measures become
    * (measure, value) rows, then exact per-(flag, measure) stats. The
    * oracle mirrors with the portable UNION ALL expansion (semantically
    * what UNPIVOT is), cents-quantized sums per the engine-wide money
    * rule. Scale shape: unpivot is a Generate (rows ×4, no shuffle);
    * the only exchange is the final aggregate's.
    */
  def q108Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        moneySum(col("value")).as("value_sum"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"))
      .orderBy(col("l_returnflag"), col("measure"))

  val q108Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value
      |  FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
      |SELECT l_returnflag, measure, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS value_sum,
      |  MIN(value) AS value_min, MAX(value) AS value_max
      |FROM m GROUP BY l_returnflag, measure
      |ORDER BY l_returnflag, measure""".stripMargin

  /** Animated-GIF codec + frame sampling — the q98 video pattern over
    * [[graft.operators.GifCodec]]: synthesize a REAL LZW-compressed
    * GIF89a per nation (closed-form 64-color palette, closed-form
    * palette indices per (id, frame, x, y)), run the genuine parser end
    * to end (header walk, sub-block reassembly, variable-width LZW
    * decode, canvas compositing) sampling every 2nd frame, and have
    * DuckDB recompute each sampled frame's channel sums and luminance
    * extremes from the same closed forms — byte-free. Encoder and
    * decoder are independent spec implementations (and each is
    * independently cross-checked against ImageIO in GifCodecSpec), so
    * a hash match certifies the LZW bit stream in both directions.
    */
  def q109GifCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{GifCodec, Multimodal}
    val pal = Array.tabulate(64)(i =>
      (((i * 37 + 13) % 256) << 16) | (((i * 59 + 7) % 256) << 8) |
        ((i * 83 + 29) % 256))
    val recs = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long")).as[Long]
      .map { id =>
        val w = (8 + id % 5).toInt
        val h = (6 + id % 3).toInt
        val n = (4 + id % 4).toInt
        val bytes = GifCodec.gifEncode(w, h, pal, n,
          (f, x, y) => ((x * 7 + y * 11 + f * 23 + id * 5) % 64).toInt,
          interlaced = id % 2 == 1)
        Multimodal.MediaRecord(id, "image", bytes, "image/gif", "synth")
      }
    Multimodal.gifFrameStats(recs, every = 2)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  val q109Sql: String =
    """WITH base AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS id,
      |    8 + n_nationkey % 5 AS w, 6 + n_nationkey % 3 AS h,
      |    4 + n_nationkey % 4 AS n
      |  FROM nation
      |), fr AS (
      |  SELECT id, w, h, unnest(range(n)) AS f FROM base
      |), sampled AS (
      |  SELECT id, w, h, f FROM fr WHERE f % 2 = 0
      |), xs AS (
      |  SELECT id, h, f, unnest(range(w)) AS x FROM sampled
      |), px AS (
      |  SELECT id, f, x, unnest(range(h)) AS y FROM xs
      |), ci AS (
      |  SELECT id, f, (x*7 + y*11 + f*23 + id*5) % 64 AS i FROM px
      |), c AS (
      |  SELECT id, f, (i*37 + 13) % 256 AS r, (i*59 + 7) % 256 AS g,
      |    (i*83 + 29) % 256 AS b
      |  FROM ci
      |)
      |SELECT id AS media_id, CAST(f AS BIGINT) AS frame_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
      |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
      |  CAST(SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(299*r + 587*g + 114*b) AS INTEGER) AS lum_min,
      |  CAST(MAX(299*r + 587*g + 114*b) AS INTEGER) AS lum_max
      |FROM c GROUP BY id, f ORDER BY media_id, frame_idx""".stripMargin

  /** Multi-probe LSH ANN ([[Similarity.lshMultiProbeTopK]], Lv et al.
    * 2007): probe the exact bucket plus the two nearest-margin bit-flip
    * buckets. Oracle: every 100th embedding re-enters as an exact-copy
    * query (id+1e6); the copy shares probe 0's bucket BY CONSTRUCTION
    * (the bucket is a pure function of the vector), scores exact cosine
    * 1.0 against its twin while the corpus's natural cosine ceiling is
    * far lower, so top-1 is the twin — or the LOWEST-id twin when the
    * corpus contains bit-identical duplicate vectors, which the SQL's
    * MIN-over-equal-embeddings mirrors. Extra probes can only add
    * candidates that lose to cosine 1.0, so the closed form is
    * probe-count-invariant while the full multi-probe plumbing
    * (argmin-margin plane selection, flip masks, probe explode) runs
    * end to end.
    */
  def q110MultiProbeAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.lshMultiProbeTopK(emb, queries, "vec_id", "embedding",
        k = 1, dim = 64, planes = 8, probes = 3)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  val q110Sql: String =
    """SELECT q.vec_id + 1000000 AS query_id, MIN(c.vec_id) AS neighbor_id
      |FROM embeddings q JOIN embeddings c ON c.embedding = q.embedding
      |WHERE q.vec_id % 100 = 0
      |GROUP BY q.vec_id ORDER BY query_id""".stripMargin

  /** Mergeable sketch store (Apache DataSketches HLL via Spark's
    * `hll_sketch_agg`/`hll_union_agg`): per-day user sketches are
    * MATERIALIZED to parquet, read back, and week windows are answered
    * by sketch UNION — history is never rescanned, which is the entire
    * point of a sketch store at 100 TB (q40's
    * `approx_count_distinct` re-aggregates raw rows per question; this
    * answers any day-composable window from constant-size state).
    * Oracle: the q40 pattern — exact per-week distincts plus an
    * error-band boolean (lgK=14 keeps HLL well inside the 5%+10 band),
    * so the sketch estimate itself (library-specific) never crosses
    * engines.
    */
  def q111SketchStore(s: SparkSession, dir: String): DataFrame = {
    // r15: day/week keys from exact integer arithmetic on epoch-micros
    // instead of to_date/date_trunc. Value-identical under the UTC
    // session (oracle re-proved), but to_date runs microsToDays — a
    // LocalDate/ZonedDateTime allocation chain PER ROW with no UTC fast
    // path — and date_trunc('week') on a date adds a date→ts→trunc→date
    // round-trip; these were the dominant sampled frames of q111's
    // 52.8 s sf10r row (convertTz/microsToDays). Shapes:
    //   dayNum   = floorDiv(us, 86_400e6)    (floor via pmod ≥ 0)
    //   monday(d)= d − ((d+3) mod 7)         (unix day 0 is a Thursday)
    // both pure codegen'd long arithmetic; DIV (IntegralDivide) on an
    // exact multiple, never double division (a 3e17 µs value is above
    // 2^53, so a double round-trip could truncate one day off).
    val base = events(s, dir)
      .select(unix_micros(col("ts")).as("__us"), col("user_id"))
      .select(expr(
        "CAST((__us - pmod(__us, 86400000000)) DIV 86400000000 AS INT)")
        .as("__d"), col("user_id"))
    val days = base
      .select(expr("date_from_unix_date(__d)").as("day"), col("user_id"))
    val store = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q111_store").getPath
    days.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .write.mode("overwrite").parquet(store)
    // per-day rows (≤ a few thousand at any scale): date_trunc here is
    // off the per-row path and stays for readability
    val weekly = s.read.parquet(store)
      .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
    val exact = base
      .groupBy(expr(
        "date_from_unix_date(__d - CAST(pmod(__d + 3, 7) AS INT))")
        .as("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(weekly, Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("__est") - col("exact_users"))
          <= col("exact_users") * 0.05 + 10).as("ok"))
      .orderBy(col("week"))
  }

  val q111Sql: String =
    """SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS ok
      |FROM events GROUP BY 1 ORDER BY week""".stripMargin

  /** Triangle census over the word co-occurrence (bigram) graph
    * ([[Graph.triangleStats]]) — per-word degree, triangle count and
    * local clustering coefficient, the structural-cohesion profile of
    * the corpus's language network (whose vocabulary stays bounded as
    * the corpus grows, so the node set is scale-stable while edges
    * densify). The oracle rebuilds the identical graph (distinct
    * canonical bigram pairs), the identical degree-ordered orientation
    * and the identical wedge-close join in SQL; degrees and triangle
    * counts are exact int64 and `lcc_fp` is one correctly-rounded IEEE
    * double divide + floor, so every row must match bit-for-bit.
    */
  def q112TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(TextFunctions.tokens(col("text")).as("__ta"))
    val bigrams = toks.select(arrays_zip(
        slice(col("__ta"), lit(1), greatest(size(col("__ta")) - 1, lit(0)))
          .as("x"),
        slice(col("__ta"), lit(2), greatest(size(col("__ta")) - 1, lit(0)))
          .as("y")).as("__z"))
      .select(explode_outer(col("__z")).as("__p"))
      .where(col("__p").isNotNull)
      .select(col("__p.x").as("a"), col("__p.y").as("b"))
      .where(col("a") =!= col("b"))
    Graph.triangleStats(bigrams, "a", "b").orderBy(col("node"))
  }

  val q112Sql: String =
    """WITH base AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |bg AS (
      |  SELECT DISTINCT LEAST(ta[i], ta[i+1]) AS u,
      |    GREATEST(ta[i], ta[i+1]) AS v
      |  FROM (SELECT ta, unnest(range(1, len(ta))) AS i FROM base) z
      |  WHERE ta[i] <> ta[i+1]),
      |deg AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT u FROM bg UNION ALL SELECT v FROM bg) s(u) GROUP BY u),
      |o AS (
      |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s,
      |    CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t,
      |    CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dt
      |  FROM (SELECT bg.u, bg.v, d1.d AS du, d2.d AS dv
      |        FROM bg JOIN deg d1 ON d1.u = bg.u
      |        JOIN deg d2 ON d2.u = bg.v) w),
      |tri AS (
      |  SELECT l.s AS x, l.t AS y, r.t AS z
      |  FROM o l JOIN o r ON r.s = l.s
      |    AND (l.dt < r.dt OR (l.dt = r.dt AND l.t < r.t))
      |  JOIN o c ON c.s = l.t AND c.t = r.t),
      |corners AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS tri
      |  FROM (SELECT x AS u FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri) q
      |  GROUP BY u)
      |SELECT deg.u AS node, deg.d AS degree,
      |  COALESCE(corners.tri, 0) AS triangles,
      |  CASE WHEN deg.d >= 2 THEN CAST(FLOOR(1000000.0
      |      * (2.0 * COALESCE(corners.tri, 0))
      |      / CAST(deg.d * (deg.d - 1) AS DOUBLE)) AS BIGINT)
      |    ELSE 0 END AS lcc_fp
      |FROM deg LEFT JOIN corners ON corners.u = deg.u
      |ORDER BY node""".stripMargin

  /** Label-propagation communities ([[Graph.labelPropagation]]) over
    * the q55 planted dup graph — the vote-based companion to q55's
    * connected components. The oracle replays all 4 synchronous rounds
    * (self-vote union, per-(node,label) counts, (count DESC, label ASC)
    * argmax) on the SAME graph CTEs q55 resolves, so one diverging vote
    * or tie-break anywhere shifts a label and breaks the hash; on this
    * sparse graph the 4-round fixpoint equals the component labeling,
    * which pins the algorithm's convergence behavior too.
    */
  def q113LabelProp(s: SparkSession, dir: String): DataFrame = {
    val lp = Graph.labelPropagation(plantedDupEdges(s, dir), "src", "dst",
      rounds = 4)
    plantedDupNodes(s, dir).join(lp, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
      .orderBy(col("node"))
  }

  // lazy: splices dupGraphCtes-style shared CTEs declared further down
  // the object; a strict val would capture null (init order).
  lazy val q113Sql: String = {
    def round(k: Int): String =
      s"""v$k AS (
         |  SELECT id, l FROM r${k - 1}
         |  UNION ALL
         |  SELECT s.v AS id, r.l FROM sym s JOIN r${k - 1} r ON r.id = s.u),
         |c$k AS (SELECT id, l, COUNT(*) AS c FROM v$k GROUP BY id, l),
         |r$k AS (
         |  SELECT id, l FROM (
         |    SELECT id, l, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY c DESC, l ASC) AS rn FROM c$k) w WHERE rn = 1)"""
        .stripMargin
    dupGraphCtes + ",\n" +
      """r0 AS (
        |  SELECT n AS id, n AS l FROM (SELECT DISTINCT u AS n FROM sym) d0),
        |""".stripMargin +
      (1 to 4).map(round).mkString(",\n") + "\n" +
      """SELECT n AS node, COALESCE(r4.l, n) AS label
        |FROM nodes LEFT JOIN r4 ON r4.id = n ORDER BY node""".stripMargin
  }

  /** SCD Type-2 dimension build ([[graft.operators.Scd.type2]]): the
    * events change log collapsed to per-user validity intervals of
    * `event_type` — change rows only, `valid_from`/`valid_to`
    * half-open intervals, 1-based versions, current flag. The oracle
    * replays the identical two-window pipeline (null-safe lag change
    * filter, then lead/row_number over the filtered log) with the same
    * (ts, event_id) tie order, so every interval boundary, version
    * number and currency flag must match exactly — timestamps are
    * microsecond-precision on both engines.
    */
  def q114Scd2(s: SparkSession, dir: String): DataFrame =
    Scd.type2(
        events(s, dir).select(col("user_id"), col("event_type"), col("ts"),
          col("event_id")),
        "user_id", Seq("event_type"), "ts", "event_id")
      .orderBy(col("user_id"), col("version"))

  val q114Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_type, ts, event_id FROM ordered
      |  WHERE prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, ts AS valid_from,
      |  LEAD(ts) OVER w AS valid_to,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |  (LEAD(ts) OVER w) IS NULL AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** Chi-square token selection for classifier-based filtering
    * ([[graft.operators.FeatureSelect.chiSquareTokens]]): top-5
    * language-discriminating tokens per language over the presence
    * contingency table (Yang & Pedersen 1997) — the feature-capping
    * step before training a fastText-style corpus filter. The oracle
    * rebuilds the identical table (distinct-presence counts, window
    * document frequency, class totals) and the identical exact-int64
    * `N*(ad-bc)^2` / `(a+b)(c+d)(a+c)(b+d)` terms; `chi2_fp` is one
    * correctly-rounded double divide + floor, and the (chi2 DESC,
    * token ASC) rank must agree row-for-row.
    */
  def q115Chi2Tokens(s: SparkSession, dir: String): DataFrame =
    graft.operators.FeatureSelect
      .chiSquareTokens(t(s, dir, "documents"), "doc_id", "text", "lang",
        k = 5)
      .select(col("cls").as("lang"), col("rank"), col("token"),
        col("df_in_cls"), col("df"), col("chi2_fp"))
      .orderBy(col("lang"), col("rank"))

  val q115Sql: String =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS t
      |  FROM documents),
      |pres AS (SELECT lang, unnest(t) AS token FROM base),
      |a AS (
      |  SELECT token, lang, CAST(COUNT(*) AS BIGINT) AS a
      |  FROM pres GROUP BY 1, 2),
      |adf AS (
      |  SELECT token, lang, a,
      |    CAST(SUM(a) OVER (PARTITION BY token) AS BIGINT) AS df
      |  FROM a),
      |ncls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nc
      |  FROM base GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
      |cells AS (
      |  SELECT adf.lang, token, a, df, ncls.nc, nn.n,
      |    a AS ca, df - a AS cb, ncls.nc - a AS cc,
      |    nn.n - df - ncls.nc + a AS cd
      |  FROM adf JOIN ncls ON ncls.lang = adf.lang CROSS JOIN nn),
      |scored AS (
      |  SELECT lang, token, a AS df_in_cls, df,
      |    CASE WHEN CAST((ca+cb)*(cc+cd) AS DOUBLE)
      |        * CAST((ca+cc)*(cb+cd) AS DOUBLE) > 0.0
      |      THEN CAST(FLOOR(1000000.0
      |          * (CAST(n AS DOUBLE) * CAST(ca*cd - cb*cc AS DOUBLE)
      |             * CAST(ca*cd - cb*cc AS DOUBLE))
      |          / (CAST((ca+cb)*(cc+cd) AS DOUBLE)
      |             * CAST((ca+cc)*(cb+cd) AS DOUBLE)))
      |        AS BIGINT)
      |      ELSE 0 END AS chi2_fp
      |  FROM cells),
      |ranked AS (
      |  SELECT lang, token, df_in_cls, df, chi2_fp,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY chi2_fp DESC, token ASC) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT lang, rank, token, df_in_cls, df, chi2_fp FROM ranked
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** Theta-sketch set-operation store
    * ([[graft.expressions.ThetaSketchAgg]] family — custom Catalyst
    * TypedImperativeAggregates over Apache DataSketches theta): per-week
    * distinct-user sketches MATERIALIZED to parquet, then week-over-week
    * retention (intersection) and new-user (difference) estimates
    * answered from the stored sketches alone — the set-algebra questions
    * q111's HLL store cannot express, from the same
    * constant-size-per-segment state. Oracle: the q111/q40 pattern —
    * exact pair counts (inner/anti joins on (week, user)) plus
    * error-band booleans; at lgK=14 the sketches stay in exact mode at
    * every test SF, so the bands are wide-margin-true while the whole
    * sketch pipeline (build → store → intersect/difference → estimate)
    * runs end to end.
    */
  def q116ThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val wu = events(s, dir)
      .select(date_trunc("week", col("ts")).cast("date").as("week"),
        col("user_id"))
      .distinct()
    val store = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q116_store").getPath
    wu.groupBy(col("week"))
      .agg(Sketches.thetaSketch(col("user_id"), 14).as("sk"))
      .write.mode("overwrite").parquet(store)
    val sk = s.read.parquet(store)
    val prev = sk.select(col("week"), col("sk").as("__ska"))
    val next = sk.select(date_sub(col("week"), 7).as("week"),
      col("sk").as("__skb"))
    val ests = prev.join(next, Seq("week"))
      .select(col("week"),
        Sketches.thetaEstimate(
          Sketches.thetaIntersect(col("__ska"), col("__skb"))).as("__eb"),
        Sketches.thetaEstimate(
          Sketches.thetaANotB(col("__skb"), col("__ska"))).as("__en"))
    val nextUsers = wu.select(date_sub(col("week"), 7).as("week"),
      col("user_id"))
    val both = wu.join(nextUsers, Seq("week", "user_id"))
      .groupBy(col("week")).agg(count(lit(1)).as("__xb"))
    val newu = nextUsers.join(wu, Seq("week", "user_id"), "left_anti")
      .groupBy(col("week")).agg(count(lit(1)).as("__xn"))
    ests.join(both, Seq("week"), "left").join(newu, Seq("week"), "left")
      .select(col("week"),
        coalesce(col("__xb"), lit(0L)).as("exact_both"),
        coalesce(col("__xn"), lit(0L)).as("exact_new"),
        (abs(col("__eb") - coalesce(col("__xb"), lit(0L)))
          <= coalesce(col("__xb"), lit(0L)) * 0.05 + 10).as("ok_both"),
        (abs(col("__en") - coalesce(col("__xn"), lit(0L)))
          <= coalesce(col("__xn"), lit(0L)) * 0.05 + 10).as("ok_new"))
      .orderBy(col("week"))
  }

  val q116Sql: String =
    """WITH wu AS (
      |  SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
      |    AS week, user_id
      |  FROM events),
      |wk AS (SELECT DISTINCT week FROM wu),
      |pairs AS (SELECT a.week FROM wk a JOIN wk b ON b.week = a.week + 7),
      |bth AS (
      |  SELECT a.week, CAST(COUNT(*) AS BIGINT) AS exact_both
      |  FROM wu a JOIN wu b ON b.user_id = a.user_id
      |    AND b.week = a.week + 7
      |  GROUP BY 1),
      |nw AS (
      |  SELECT p.week, CAST(COUNT(*) AS BIGINT) AS exact_new
      |  FROM pairs p JOIN wu b ON b.week = p.week + 7
      |  LEFT JOIN wu a ON a.user_id = b.user_id AND a.week = p.week
      |  WHERE a.user_id IS NULL GROUP BY 1)
      |SELECT p.week, COALESCE(bth.exact_both, 0) AS exact_both,
      |  COALESCE(nw.exact_new, 0) AS exact_new,
      |  TRUE AS ok_both, TRUE AS ok_new
      |FROM pairs p LEFT JOIN bth ON bth.week = p.week
      |LEFT JOIN nw ON nw.week = p.week
      |ORDER BY p.week""".stripMargin

  /** 2-D skyline ([[graft.operators.Skyline.frontier2D]]): parts on the
    * (minimize size, minimize price) Pareto frontier. The oracle is the
    * DEFINITION — a NOT EXISTS strict-dominance test over all pairs —
    * while the engine runs the scale-safe decomposition (same-x min
    * aggregate, chunked prefix running min, broadcast combine,
    * semi-join back), so a hash match proves the decomposition
    * implements exact dominance semantics including equal-point and
    * same-x tie handling.
    */
  def q117Skyline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline.frontier2D(
        t(s, dir, "part").select(col("p_partkey"), col("p_size"),
          col("p_retailprice")),
        "p_size", "p_retailprice")
      .orderBy(col("p_partkey"))

  val q117Sql: String =
    """SELECT p_partkey, p_size, p_retailprice FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM part q
      |  WHERE q.p_size <= p.p_size AND q.p_retailprice <= p.p_retailprice
      |    AND (q.p_size < p.p_size OR q.p_retailprice < p.p_retailprice))
      |ORDER BY p_partkey""".stripMargin

  /** Incremental connected components ([[Graph.incrementalCC]]): the
    * dup-cluster store update path — first-generation (a,b) edges are
    * resolved to a label snapshot, then the second-generation (b,c)
    * edges arrive as a batch and are folded in WITHOUT re-reading the
    * historical pair stream (touched components looked up, only their
    * members relabeled, untouched labels spliced through). The oracle
    * is q55's full-graph reachability — the incremental result must be
    * indistinguishable from a full recompute, node for node.
    */
  def q118IncrementalCC(s: SparkSession, dir: String): DataFrame = {
    // materialized once: the jaccard tower would otherwise run for each
    // of the two generation filters (and again inside each CC pass)
    val edges = plantedDupEdges(s, dir).localCheckpoint()
    val old = edges.where(col("src") < 1000000L)
    val batch = edges.where(col("src") >= 1000000L)
    val snapshot = plantedDupNodes(s, dir)
      .join(Graph.connectedComponents(old, "src", "dst"), Seq("node"),
        "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
    Graph.incrementalCC(snapshot, "node", "component", batch, "src", "dst")
      .orderBy(col("node"))
  }

  /** Same oracle as q55 by design: incremental == full recompute. */
  lazy val q118Sql: String = q55Sql

  /** Streaming label-store maintenance ([[Graph.updateLabelStore]]):
    * the production loop around q118 — the (a,b)-generation components
    * seed a parquet label store PARTITIONED BY `component % 16`, the
    * (b,c)-generation pairs then arrive as TWO micro-batches
    * (Structured Streaming, AvailableNow), and each batch folds in via
    * incremental CC with a PARTIAL store rewrite: only partitions
    * holding an affected or new component are overwritten (dynamic
    * partition overwrite; LabelStoreSpec pins the untouched partitions'
    * file listing byte-for-byte). Output = per-partition summary of the
    * final store; the oracle rebuilds it from q55's full-graph
    * reachability, so the streamed, incrementally-folded,
    * partially-rewritten store must equal a from-scratch batch resolve.
    */
  def q119StreamCC(s: SparkSession, dir: String): DataFrame = {
    // lazy: materialized once by the snapshot CC's first action, then
    // reused by the two stage writes (r10 — the eager variant paid a
    // dedicated materialization job)
    val edges = plantedDupEdges(s, dir).localCheckpoint(eager = false)
    val old = edges.where(col("src") < 1000000L)
    val batchSrc = edges.where(col("src") >= 1000000L)
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q119").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val storeDir = s"$base/labels"
    val stage = s"$base/stage"
    val snapshot = plantedDupNodes(s, dir)
      .join(Graph.connectedComponents(old, "src", "dst"), Seq("node"),
        "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
    Graph.writeLabelStore(snapshot, "node", "component", storeDir,
      parts = 16)
    // ONE AvailableNow stream delivering the two generation files as
    // TWO micro-batches (maxFilesPerTrigger=1, the q132 replay shape) —
    // r10: the r9 harness restarted a fresh streaming query per batch
    // and paid source listing + WAL + planning twice; the incremental
    // per-batch fold (one updateLabelStore per micro-batch) is
    // unchanged, and batch arrival order is immaterial because CC
    // merges are order-independent (LabelStoreSpec convergence case).
    (0 until 2).foreach { i =>
      batchSrc.filter(col("src") % 2 === i)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    var batches = 0
    graft.streaming.Replay.withLocalCheckpoints(s, "graft_q119") { cp =>
      val q = s.readStream.schema(batchSrc.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          // parts comes from the store's own manifest (r10) — the
          // updater can no longer contradict the writer's layout
          Graph.updateLabelStore(storeDir, b, "src", "dst")
          batches += 1
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    require(batches == 2,
      s"q119 replay expected 2 micro-batches, saw $batches")
    s.read.parquet(storeDir)
      .groupBy(col("__pb").cast("long").as("pb"))
      .agg(count(lit(1)).as("n_nodes"),
        countDistinct(col("component")).as("n_components"),
        sum(col("node")).as("sum_node"),
        sum(col("component")).as("sum_comp"))
      .orderBy(col("pb"))
  }

  /** q55's reachability labeling, summarized per store partition. */
  lazy val q119Sql: String = dupGraphCtes +
    """,
      |lbl AS (SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n)
      |SELECT component % 16 AS pb, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
      |  CAST(SUM(node) AS BIGINT) AS sum_node,
      |  CAST(SUM(component) AS BIGINT) AS sum_comp
      |FROM lbl GROUP BY 1 ORDER BY pb""".stripMargin

  /** Constellation audio matching
    * ([[graft.operators.AudioFingerprint]], Wang ISMIR 2003 shape):
    * per-nation tracks are REAL 16-bit PCM WAVs whose frames each carry
    * one pure integer-bin cosine (frequency schedule a closed form of
    * (id, frame)); clips are frame-aligned cuts (frames 8..19) of the
    * even tracks. The engine runs the genuine DSP path — WAV decode,
    * per-frame direct DFT, argmax peak, lead-window pair hashes,
    * inverted-index join, offset voting — while the oracle NEVER
    * touches bytes: an integer-bin cosine concentrates its spectrum
    * exactly on its bin (margin ~1000× over int16 rounding noise), so
    * the oracle rebuilds the identical peak stream from the tone
    * schedule and replays the identical hash/vote/rank algebra. Every
    * clip must match its source track at offset 8 with the exact vote
    * count.
    */
  def q120AudioMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AudioFingerprint, Multimodal}
    val fsz = 256
    def toneWav(id: Long, startFrame: Int, nFrames: Int): Array[Byte] = {
      val samples = new Array[Short](nFrames * fsz)
      var k = 0
      while (k < nFrames) {
        val bin = (10 + ((id * 7 + (startFrame + k) * 13) % 100)).toInt
        var n = 0
        while (n < fsz) {
          samples(k * fsz + n) =
            math.round(1000.0 * math.cos(2.0 * math.Pi * bin * n / fsz))
              .toShort
          n += 1
        }
        k += 1
      }
      Multimodal.MediaCodec.wavEncode(8000, samples)
    }
    val ids = t(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .as[Long]
    val tracks = ids.map(id => (id, toneWav(id, 0, (24 + id % 8).toInt)))
      .toDF("id", "wav")
    val clips = ids.filter(_ % 2 == 0)
      .map(id => (id + 1000L, toneWav(id, 8, 12)))
      .toDF("id", "wav")
    val th = AudioFingerprint.constellation(
      AudioFingerprint.framePeaks(tracks, "id", "wav", fsz), fsz, maxDt = 3)
    val ch = AudioFingerprint.constellation(
      AudioFingerprint.framePeaks(clips, "id", "wav", fsz), fsz, maxDt = 3)
    AudioFingerprint.matchClips(th, ch)
      .select(col("clip").as("clip_id"), col("track"),
        col("offset").cast("long").as("offset"), col("votes"))
      .orderBy(col("clip_id"))
  }

  val q120Sql: String =
    """WITH tracks AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS id,
      |    24 + n_nationkey % 8 AS nf
      |  FROM nation),
      |tp AS (
      |  SELECT id, CAST(k AS INTEGER) AS frame,
      |    CAST(10 + (id*7 + k*13) % 100 AS INTEGER) AS bin
      |  FROM (SELECT id, unnest(range(nf)) AS k FROM tracks) u),
      |cp AS (
      |  SELECT u.id + 1000 AS id, CAST(u.j AS INTEGER) AS frame,
      |    CAST(10 + (u.id*7 + (u.j+8)*13) % 100 AS INTEGER) AS bin
      |  FROM (SELECT id, unnest(range(12)) AS j FROM tracks
      |        WHERE id % 2 = 0) u),
      |thl AS (
      |  SELECT id, frame, bin,
      |    LEAD(bin, 1) OVER w AS l1, LEAD(bin, 2) OVER w AS l2,
      |    LEAD(bin, 3) OVER w AS l3
      |  FROM tp WINDOW w AS (PARTITION BY id ORDER BY frame)),
      |th AS (
      |  SELECT id, frame, (bin*128 + l1)*4 + 1 AS hash FROM thl
      |  WHERE l1 IS NOT NULL
      |  UNION ALL
      |  SELECT id, frame, (bin*128 + l2)*4 + 2 FROM thl WHERE l2 IS NOT NULL
      |  UNION ALL
      |  SELECT id, frame, (bin*128 + l3)*4 + 3 FROM thl WHERE l3 IS NOT NULL),
      |chl AS (
      |  SELECT id, frame, bin,
      |    LEAD(bin, 1) OVER w AS l1, LEAD(bin, 2) OVER w AS l2,
      |    LEAD(bin, 3) OVER w AS l3
      |  FROM cp WINDOW w AS (PARTITION BY id ORDER BY frame)),
      |ch AS (
      |  SELECT id, frame, (bin*128 + l1)*4 + 1 AS hash FROM chl
      |  WHERE l1 IS NOT NULL
      |  UNION ALL
      |  SELECT id, frame, (bin*128 + l2)*4 + 2 FROM chl WHERE l2 IS NOT NULL
      |  UNION ALL
      |  SELECT id, frame, (bin*128 + l3)*4 + 3 FROM chl WHERE l3 IS NOT NULL),
      |votes AS (
      |  SELECT c.id AS clip, t.id AS track,
      |    CAST(t.frame - c.frame AS BIGINT) AS "offset",
      |    CAST(COUNT(*) AS BIGINT) AS votes
      |  FROM ch c JOIN th t ON t.hash = c.hash
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT clip, track, "offset", votes,
      |    ROW_NUMBER() OVER (PARTITION BY clip
      |      ORDER BY votes DESC, track ASC, "offset" ASC) AS rn
      |  FROM votes)
      |SELECT clip AS clip_id, track, "offset", votes FROM ranked
      |WHERE rn = 1 ORDER BY clip_id""".stripMargin

  /** Source/sink format coverage: the lineitem slice round-trips
    * through ORC, CSV (header + explicit schema + microsecond
    * timestampFormat) and JSON-lines sinks and sources, and each
    * format's read-back must reproduce the parquet originals
    * EXACTLY — proven by per-format fidelity stats (exact cents sums
    * for doubles, summed epoch-micros for timestamps, length sums for
    * strings, exact counts/distincts) that the oracle computes once
    * from the parquet table and expects three times over. Catches the
    * real round-trip hazards: shortest-repr double formatting,
    * sub-second timestamp truncation, header/schema drift.
    */
  def q121FormatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"), col("l_shipdate"))
    // Staging root (r14, VERDICT r13 item 5): the three text/columnar
    // round-trip copies are BULK scratch (~12 GB at sf10r — the one
    // fast-root tenant whose footprint is data-proportional, not
    // KB/MB-scale), so the tmpfs need is derived from the actual input:
    // source parquet bytes × 10 covers CSV+JSON+ORC expansion of this
    // 6-column slice with margin (measured at sf10r: 1.2 GB parquet →
    // ~12 GB staged). When tmpfs can hold that, staging skips the disk
    // write/read component entirely (~18% of the r13 sf10r stall
    // frames were TimeTrackingOutputStream on the disk tmpdir); when it
    // can't, fastDir's per-allocation guard degrades to the disk
    // tmpdir and the run is correct, just slower — and either way the
    // routing is one StrategyLog line in the artifact. The formatter
    // CPU (Jackson/Univocity/Iso8601, ~2/3 of the query) is intrinsic
    // to writing text formats and stays wherever the bytes land.
    val srcBytes = {
      val d = new java.io.File(s"$dir/lineitem.parquet")
      val fs = Option(d.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
      fs.getOrElse(0L).max(1L << 27)
    }
    val base = Scratch.fastDir("graft_q121", needBytes = srcBytes * 10).getPath
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    li.write.mode("overwrite").orc(s"$base/orc")
    li.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", tsFmt).csv(s"$base/csv")
    li.write.mode("overwrite").option("timestampFormat", tsFmt)
      .json(s"$base/json")
    val orc = s.read.schema(li.schema).orc(s"$base/orc")
    val csv = s.read.schema(li.schema).option("header", "true")
      .option("timestampFormat", tsFmt).csv(s"$base/csv")
    val jsn = s.read.schema(li.schema).option("timestampFormat", tsFmt)
      .json(s"$base/json")
    def stats(df: DataFrame, fmt: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          moneySum(col("l_quantity")).as("qty_sum"),
          moneySum(col("l_extendedprice")).as("price_sum"),
          // bit_xor, not sum: Σ epoch-micros overflows int64 past ~5k
          // rows; xor is order-independent, overflow-free and detects
          // any single-row drift
          expr("bit_xor(unix_micros(cast(l_shipdate as timestamp)))")
            .as("ship_us_xor"),
          sum(length(col("l_returnflag"))).as("flag_len_sum"))
        .select(Seq(lit(fmt).as("fmt")) ++
          Seq("n_rows", "n_orders", "qty_sum", "price_sum", "ship_us_xor",
            "flag_len_sum").map(col): _*)
    stats(csv, "csv").unionByName(stats(jsn, "json"))
      .unionByName(stats(orc, "orc"))
      .orderBy(col("fmt"))
  }

  val q121Sql: String =
    """WITH s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(FLOOR(l_quantity*100 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / 100 AS qty_sum,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT))
      |      AS DOUBLE) / 100 AS price_sum,
      |    CAST(BIT_XOR(epoch_us(l_shipdate)) AS BIGINT) AS ship_us_xor,
      |    CAST(SUM(length(l_returnflag)) AS BIGINT) AS flag_len_sum
      |  FROM lineitem)
      |SELECT 'csv' AS fmt, s.* FROM s
      |UNION ALL SELECT 'json', s.* FROM s
      |UNION ALL SELECT 'orc', s.* FROM s
      |ORDER BY fmt""".stripMargin

  /** Mergeable frequent-items sketch store
    * ([[graft.expressions.FreqSketchAgg]] family — Misra-Gries over
    * DataSketches frequencies): per-(day, week) user-count sketches
    * materialized to parquet, weekly heavy-hitter questions answered by
    * sketch MERGE over the store — the counting companion to q116's
    * theta distinct store. Oracle: exact per-week top-3 users by count
    * plus the sketch family's DETERMINISTIC guarantee — lowerBound ≤
    * true count ≤ upperBound holds always, not probabilistically — as a
    * boolean, so the library-specific estimates never cross engines.
    */
  def q122FreqStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val de = events(s, dir).select(to_date(col("ts")).as("day"),
      date_trunc("week", col("ts")).cast("date").as("week"),
      col("user_id"))
    val store = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q122_store").getPath
    de.groupBy(col("day"), col("week"))
      .agg(Sketches.freqSketch(col("user_id"), 64).as("sk"))
      .write.mode("overwrite").parquet(store)
    val weekly = s.read.parquet(store).groupBy(col("week"))
      .agg(Sketches.freqMerge(col("sk"), 64).as("sk"))
    val exact = de.groupBy(col("week"), col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
    val w = Window.partitionBy(col("week"))
      .orderBy(col("exact_n").desc, col("user_id").asc)
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .join(weekly, Seq("week"))
      .select(col("week"), col("rank"), col("user_id"), col("exact_n"),
        (Sketches.freqLowerBound(col("sk"), col("user_id"))
          <= col("exact_n") &&
          Sketches.freqUpperBound(col("sk"), col("user_id"))
            >= col("exact_n")).as("ok"))
      .orderBy(col("week"), col("rank"))
  }

  val q122Sql: String =
    """WITH de AS (
      |  SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
      |    user_id
      |  FROM events),
      |exact AS (
      |  SELECT week, user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      |  FROM de GROUP BY 1, 2),
      |ranked AS (
      |  SELECT week, user_id, exact_n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY week
      |      ORDER BY exact_n DESC, user_id ASC) AS BIGINT) AS rank
      |  FROM exact)
      |SELECT week, rank, user_id, exact_n, TRUE AS ok FROM ranked
      |WHERE rank <= 3 ORDER BY week, rank""".stripMargin

  /** Snapshot diff / CDC derivation ([[graft.operators.Cdc
    * .snapshotDiff]]): version N+1 of orders is planted from version N
    * (keys %97=1 deleted, %100=0 repriced +1.00, %93=2 re-inserted
    * under offset keys) and the diff must recover exactly the planted
    * change set — one full-outer hash join + null-safe struct compare,
    * unchanged rows dropped before any consumer. The oracle builds the
    * same two versions and replays the same join/compare in SQL.
    */
  def q123SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v0 = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_totalprice"), col("o_orderpriority"))
    val survived = v0.where(pmod(col("o_orderkey"), lit(97)) =!= 1)
      .select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(100)) === 0,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice"))
          .as("o_totalprice"),
        col("o_orderpriority"))
    val inserted = v0.where(pmod(col("o_orderkey"), lit(93)) === 2)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_totalprice"), lit("NEW").as("o_orderpriority"))
    val v1 = survived.unionByName(inserted)
    graft.operators.Cdc.snapshotDiff(v0, v1, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderpriority"))
      .orderBy(col("o_orderkey"), col("change"))
  }

  val q123Sql: String =
    """WITH v0 AS (
      |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
      |v1 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
      |      ELSE o_totalprice END AS o_totalprice,
      |    o_orderpriority
      |  FROM v0 WHERE o_orderkey % 97 <> 1
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, 'NEW'
      |  FROM v0 WHERE o_orderkey % 93 = 2),
      |j AS (
      |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |    CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |      WHEN b.o_orderkey IS NULL THEN 'delete'
      |      WHEN a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
      |        AND a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
      |        THEN NULL
      |      ELSE 'update' END AS change,
      |    a.o_totalprice AS old_o_totalprice,
      |    b.o_totalprice AS new_o_totalprice,
      |    a.o_orderpriority AS old_o_orderpriority,
      |    b.o_orderpriority AS new_o_orderpriority
      |  FROM v0 a FULL OUTER JOIN v1 b ON b.o_orderkey = a.o_orderkey)
      |SELECT o_orderkey, change, old_o_totalprice, new_o_totalprice,
      |  old_o_orderpriority, new_o_orderpriority
      |FROM j WHERE change IS NOT NULL
      |ORDER BY o_orderkey, change""".stripMargin

  /** PMI collocations ([[Retrieval.pmiCollocations]], Church & Hanks
    * 1990): top-20 adjacent token pairs by pointwise mutual
    * information at joint count >= 5 — all marginals from the bigram
    * stream itself, so the score is exact int64 counts + ONE
    * correctly-rounded double divide (log-free: log is monotone, the
    * ranking is true PMI's). The oracle rebuilds bigrams, marginals and
    * the fixed-point score and must agree on every ranked row.
    */
  def q124PmiPairs(s: SparkSession, dir: String): DataFrame =
    Retrieval.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
      minCount = 5L, k = 20)

  val q124Sql: String =
    """WITH base AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |bg AS (
      |  SELECT ta[i] AS x, ta[i+1] AS y
      |  FROM (SELECT ta, unnest(range(1, len(ta))) AS i FROM base) z),
      |joint AS (
      |  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bg GROUP BY 1, 2),
      |l AS (SELECT x, CAST(SUM(c_xy) AS BIGINT) AS cl FROM joint GROUP BY 1),
      |r AS (SELECT y, CAST(SUM(c_xy) AS BIGINT) AS cr FROM joint GROUP BY 1),
      |nb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n FROM joint)
      |SELECT joint.x, joint.y, c_xy,
      |  CAST(FLOOR(1000000.0 * CAST(c_xy * nb.n AS DOUBLE)
      |    / CAST(l.cl * r.cr AS DOUBLE)) AS BIGINT) AS pmi_fp
      |FROM joint JOIN l ON l.x = joint.x JOIN r ON r.y = joint.y
      |CROSS JOIN nb
      |WHERE c_xy >= 5
      |ORDER BY pmi_fp DESC, joint.x, joint.y LIMIT 20""".stripMargin

  /** Group-wise OLS ([[graft.operators.Regress.olsByGroup]]): the
    * price-on-quantity line per return flag from one aggregation pass
    * of exact cents-quantized sufficient statistics; slope/intercept
    * are a fixed sequence of correctly-rounded double ops over the
    * int64 sums (cross terms formed in double — n·Sxy overflows int64
    * at ~1e6 rows; int64→double conversion is correctly rounded, so
    * the oracle's identical expression tree lands identical bits).
    */
  def q125GroupOls(s: SparkSession, dir: String): DataFrame =
    graft.operators.Regress.olsByGroup(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")
      .withColumnRenamed("grp", "l_returnflag")
      .orderBy(col("l_returnflag"))

  val q125Sql: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |    CAST(FLOOR(l_quantity*100 + 0.5) AS BIGINT) AS x,
      |    CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |sums AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx
      |  FROM q GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) <> 0.0
      |    THEN CAST(FLOOR(1000000.0 *
      |      ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |       / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))) AS BIGINT)
      |    END AS slope_fp,
      |  CASE WHEN CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) <> 0.0
      |    THEN CAST(FLOOR(1000000.0 *
      |      ((CAST(sy AS DOUBLE)
      |        - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
      |         * CAST(sx AS DOUBLE))
      |       / CAST(n AS DOUBLE))) AS BIGINT)
      |    END AS intercept_fp
      |FROM sums ORDER BY l_returnflag""".stripMargin

  /** Native session windows (`session_window(ts, gap)` — the
    * streaming-capable built-in, not the hand-rolled
    * flatMapGroupsWithState path the streaming specs cover): per-user
    * 30-minute-gap sessions with event counts and cents-exact value
    * sums. The oracle is the classic gaps-and-islands formulation —
    * new session when the gap from the previous event exceeds 30
    * minutes, end = last event + gap — which must agree on every
    * boundary, count and sum.
    */
  def q126SessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("__w"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
      .select(col("user_id"), col("__w.start").as("session_start"),
        col("__w.end").as("session_end"), col("n_events"),
        col("value_sum"))
      .orderBy(col("user_id"), col("session_start"))

  val q126Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |        > INTERVAL 30 MINUTE OR
      |      LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      THEN 1 ELSE 0 END AS ns
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS value_sum
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Point-in-time join against the q114 SCD Type-2 dimension — the
    * consumption side of dimension history: every event joins the
    * version whose half-open validity interval covers its timestamp
    * (equi hash join on the user key; the interval predicate filters
    * within each key's small version set, so no range/nested-loop plan
    * appears). Because the dimension is BUILT from this very event log,
    * the covered version's attribute must equal the event's own type
    * for every single event — the per-user summary pins coverage
    * (exactly one interval per event) and agreement. The oracle
    * rebuilds the dimension with q114's windows and replays the joins.
    */
  def q127PitJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts"),
      col("event_type"), col("event_id"))
    val dim = Scd.type2(ev, "user_id", Seq("event_type"), "ts", "event_id")
      .select(col("user_id").as("__du"), col("event_type").as("__dt"),
        col("valid_from"), col("valid_to"), col("version"))
    val joined = ev.join(dim,
      col("user_id") === col("__du") && col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
    joined.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_joined"),
        countDistinct(col("version")).as("n_versions"),
        sum(when(col("event_type") === col("__dt"), 1L).otherwise(0L))
          .as("n_agree"))
      .orderBy(col("user_id"))
  }

  val q127Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_type, ts, event_id FROM ordered
      |  WHERE prev IS DISTINCT FROM event_type),
      |dim AS (
      |  SELECT user_id, event_type AS dt, ts AS valid_from,
      |    LEAD(ts) OVER w AS valid_to,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
      |  FROM changes
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |j AS (
      |  SELECT e.user_id, e.event_type, d.dt, d.version
      |  FROM events e JOIN dim d ON d.user_id = e.user_id
      |    AND e.ts >= d.valid_from
      |    AND (d.valid_to IS NULL OR e.ts < d.valid_to))
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_joined,
      |  CAST(COUNT(DISTINCT version) AS BIGINT) AS n_versions,
      |  CAST(SUM(CASE WHEN event_type = dt THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_agree
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  /** EXACT set-similarity join via prefix filtering
    * ([[TextDedup.prefixFilterJoin]], the AllPairs/PPJoin family) over
    * the q26 planted corpus (docs + last-2-tokens-dropped copies): ALL
    * pairs with shingle Jaccard >= 0.7, no false negatives — the
    * deterministic counterpart to q26's LSH. The oracle is the
    * DEFINITION: overlap counted by a plain shingle equi-join over all
    * co-occurring size-banded pairs, Jaccard from exact int sizes +
    * one correctly-rounded divide — so a hash match proves the prefix
    * filter dropped no qualifying pair and admitted no extra.
    */
  def q128PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(mutatedCopy(docs))
    TextDedup.prefixFilterJoin(corpus, "doc_id", "text",
        shingleSize = 3, threshold = 0.7)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q128Sql: String =
    """WITH src AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS ta
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    w[1:GREATEST(len(w) - 2, 1)]
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS w
      |        FROM documents) m),
      |sets AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS s
      |  FROM src),
      |ex AS (
      |  SELECT doc_id, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS sh
      |  FROM sets),
      |ov AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    MIN(a.sz) AS la, MIN(b.sz) AS lb,
      |    CAST(COUNT(*) AS BIGINT) AS i
      |  FROM ex a JOIN ex b ON b.sh = a.sh AND a.doc_id < b.doc_id
      |    AND b.sz * 10 >= a.sz * 7 AND a.sz * 10 >= b.sz * 7
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) AS jaccard
      |FROM ov
      |WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** Column encoding profiles ([[graft.operators.Layout
    * .encodingProfile]]): the lakehouse writer's per-column
    * encodability report (exact runs, distinct, int8-delta fraction →
    * rle/delta/dict/plain recommendation) for two lineitem columns
    * under the (orderkey, linenumber, suppkey, quantity) total order —
    * the tiebreak tail makes the order value-deterministic even where
    * (l_orderkey, l_linenumber) repeats, and any remaining ties carry
    * equal profiled values, so the run structure is order-stable. The
    * engine computes it with the q70 chunk decomposition (no global
    * sort); the oracle uses one global window — they must agree on
    * every count.
    */
  def q129EncodingProfile(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val ordCols = Seq("l_orderkey", "l_linenumber", "l_suppkey",
      "l_quantity")
    val li = t(s, dir, "lineitem")
    val a = Layout.encodingProfile(li, ordCols, "l_suppkey")
      .select(Seq(lit("l_suppkey").as("column")) ++
        Seq("n_rows", "n_runs", "n_distinct", "n_small_delta", "encoding")
          .map(col): _*)
    val qc = li.withColumn("__qc",
      floor(col("l_quantity") * 100 + 0.5).cast("long"))
    val b = Layout.encodingProfile(qc, ordCols, "__qc")
      .select(Seq(lit("l_quantity_cents").as("column")) ++
        Seq("n_rows", "n_runs", "n_distinct", "n_small_delta", "encoding")
          .map(col): _*)
    a.unionByName(b).orderBy(col("column"))
  }

  val q129Sql: String =
    """WITH o AS (
      |  SELECT l_suppkey AS sv,
      |    CAST(FLOOR(l_quantity*100 + 0.5) AS BIGINT) AS qv,
      |    LAG(l_suppkey) OVER w AS sp,
      |    LAG(CAST(FLOOR(l_quantity*100 + 0.5) AS BIGINT)) OVER w AS qp
      |  FROM lineitem
      |  WINDOW w AS (ORDER BY l_orderkey, l_linenumber, l_suppkey,
      |    l_quantity)),
      |s AS (
      |  SELECT 'l_suppkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(CASE WHEN sp IS NULL OR sp <> sv THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_runs,
      |    CAST(COUNT(DISTINCT sv) AS BIGINT) AS n_distinct,
      |    CAST(SUM(CASE WHEN sp IS NOT NULL AND ABS(sv - sp) <= 127
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_small_delta
      |  FROM o
      |  UNION ALL
      |  SELECT 'l_quantity_cents', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN qp IS NULL OR qp <> qv THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COUNT(DISTINCT qv) AS BIGINT),
      |    CAST(SUM(CASE WHEN qp IS NOT NULL AND ABS(qv - qp) <= 127
      |      THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM o)
      |SELECT "column", n_rows, n_runs, n_distinct, n_small_delta,
      |  CASE WHEN n_runs * 10 <= n_rows THEN 'rle'
      |    WHEN n_small_delta * 10 >= (n_rows - 1) * 9 THEN 'delta'
      |    WHEN n_distinct * 20 <= n_rows THEN 'dict'
      |    ELSE 'plain' END AS encoding
      |FROM s ORDER BY "column"""".stripMargin

  /** Deterministic Poisson-bootstrap confidence intervals
    * ([[graft.operators.Bootstrap.poissonBootstrapCI]], Chamandy et
    * al. 2012): per-priority order-value mean with a 32-replica
    * rank band — every replica weight inverts the literal Poisson(1)
    * CDF thresholds at a portable md5-60 uniform, every replica mean
    * is exact int64 cents sums + one divide, and the band endpoints
    * are rank-selected with a replica-index tie-break, so the oracle
    * replays the ENTIRE resampling procedure bit-for-bit — no
    * tolerance anywhere.
    */
  def q130BootstrapCI(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bootstrap.poissonBootstrapCI(t(s, dir, "orders"),
        "o_orderpriority", "o_totalprice", "o_orderkey",
        replicas = 32, seed = 42)
      .withColumnRenamed("grp", "o_orderpriority")
      .orderBy(col("o_orderpriority"))

  val q130Sql: String = {
    val ts = graft.operators.Bootstrap.poisson1CdfSql
    val cases = ts.zipWithIndex
      .map { case (t, k) => s"WHEN uu < $t THEN $k" }.mkString(" ")
    s"""WITH base AS (
       |  SELECT o_orderpriority AS grp, o_orderkey AS id,
       |    CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS c
       |  FROM orders),
       |pt AS (
       |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
       |      AS mean
       |  FROM base GROUP BY 1),
       |reps AS (
       |  SELECT grp, id, c, b FROM base
       |  CROSS JOIN (SELECT unnest(range(32)) AS b) t),
       |uu AS (
       |  SELECT grp, b, c,
       |    CAST(CAST('0x' || substr(md5('bs-42:' || CAST(id AS VARCHAR)
       |      || ':' || CAST(b AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
       |      / CAST(1152921504606846976 AS DOUBLE) AS uu
       |  FROM reps),
       |w AS (
       |  SELECT grp, b, c,
       |    CAST(CASE $cases ELSE ${ts.size} END AS BIGINT) AS w
       |  FROM uu),
       |rm AS (
       |  SELECT grp, b,
       |    CAST(SUM(w*c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0 AS m
       |  FROM w GROUP BY 1, 2 HAVING SUM(w) > 0),
       |rk AS (
       |  SELECT grp, b, m,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY m ASC, b ASC)
       |      AS rk,
       |    COUNT(*) OVER (PARTITION BY grp) AS cnt
       |  FROM rm)
       |SELECT pt.grp AS o_orderpriority, pt.n_rows, pt.mean,
       |  MAX(CASE WHEN rk.rk = 2 THEN m END) AS ci_lo,
       |  MAX(CASE WHEN rk.rk = cnt - 1 THEN m END) AS ci_hi
       |FROM rk JOIN pt ON pt.grp = rk.grp
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  }

  /** Companion of q26: a copy of each doc with the last 2 tokens dropped,
    * ids offset by 1,000,000.
    */
  private def mutatedCopy(docs: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1))))
        .as("text"))
  }

  /** Exact n-gram Jaccard between each doc and its mutated copy — the
    * verification kernel of near-dup, oracle-checked end to end.
    *
    * Staged formulation (matches the oracle SQL's structure): tokenize
    * once, slice the token array for the mutated side (no text
    * round-trip join), then shingle-sets, then sizes, then the ratio —
    * each stage's aliases are referenced ≥2 times by the next, so
    * CollapseProject cannot inline the interpreted array lambdas into
    * multiple evaluation sites (the inline [[TextDedup.jaccardShingles]]
    * kernel re-built both shingle arrays per reference: measured 21 s →
    * ~1 s at sf0.1 under full materialization).
    */
  def q27NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__ta"))
    val withB = toks.select(col("doc_id"), col("__ta"),
      slice(col("__ta"), lit(1), greatest(size(col("__ta")) - 2, lit(1)))
        .as("__tb"))
    val sets = withB.select(col("doc_id"),
      array_distinct(TextFunctions.shinglesFromTokens(col("__ta"), 3))
        .as("__sa"),
      array_distinct(TextFunctions.shinglesFromTokens(col("__tb"), 3))
        .as("__sb"))
    val sizes = sets.select(col("doc_id"),
      size(array_intersect(col("__sa"), col("__sb"))).as("__i"),
      size(array_union(col("__sa"), col("__sb"))).as("__u"))
    sizes.select(col("doc_id"),
        when(col("__u") > 0,
          col("__i").cast("double") / col("__u").cast("double"))
          .otherwise(lit(0.0)).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  val q27Sql: String =
    """SELECT doc_id,
      |  CASE WHEN CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |         - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE) > 0
      |    THEN CAST(len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |       / CAST(len(list_distinct(sa)) + len(list_distinct(sb))
      |         - len(list_filter(list_distinct(sa), x -> list_contains(list_distinct(sb), x))) AS DOUBLE)
      |    ELSE 0.0 END AS jaccard
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |         ELSE list_transform(range(1, len(ta) - 1),
      |                i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END AS sa,
      |    CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
      |         ELSE list_transform(range(1, len(tb) - 1),
      |                i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2]) END AS sb
      |  FROM (
      |    SELECT doc_id, ta, ta[1:GREATEST(len(ta) - 2, 1)] AS tb
      |    FROM (SELECT doc_id,
      |            list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |          FROM documents) i) m) o
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Similarity search / embeddings
  // ---------------------------------------------------------------------

  /** Exact ANN baseline: brute-force top-5 neighbors for 5 query vectors
    * by fixed-point dot product (embeddings are L2-normalized → dot =
    * cosine). Fully oracle-checked including scores.
    */
  def q28AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long")
        .as("rank"), col("score_fp"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q28Sql: String =
    """SELECT query_id, neighbor_id, rank, score_fp FROM (
      |  SELECT query_id, neighbor_id, score_fp,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY score_fp DESC, neighbor_id) AS rank
      |  FROM (
      |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |      CAST(list_aggregate(list_transform(list_zip(q.embedding, e.embedding),
      |        p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e9 + 0.5) AS BIGINT)),
      |        'sum') AS BIGINT) AS score_fp
      |    FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
      |    JOIN embeddings e ON e.vec_id <> q.vec_id) s) r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Embedding-cosine near-dup with planted duplicates (scaled copies),
    * ORACLE-CHECKED: a positively-scaled copy has the same hyperplane
    * sign pattern as its source in EVERY band (sign(w·cv) = sign(w·v)
    * for c > 0 up to float rounding of c·v, and cosine ≈ 1 ≫ threshold),
    * so the planted subset of the output is deterministic and DuckDB
    * predicts it exactly: one pair (v, v+1000000) per embedding. The
    * banded-LSH plan (candidate union over 4 independent 12-plane
    * families + bucket-size fail-fast) is exercised end to end; the
    * cosine value itself is engine-local float math and stays out of the
    * hashed output.
    */
  def q29CosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // coalesce(..., []) makes the projected column NON-NULLABLE at the
    // schema level, so the verify join constructs no IsNotNull
    // constraint over it — without this, the inferred isnotnull pushes
    // through the projection and re-evaluates the scale kernel inside
    // the scan's DataFilters (PlanAuditSpec's engine-wide filter sweep
    // pins the property). A null embedding degrades to an empty vector,
    // which buckets nowhere — same fate as null.
    val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      coalesce(
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.ScaleArray(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
            1.5f)),
        typedLit(Array.empty[Float])).as("embedding"))
    Similarity.cosineNearDup(emb.unionByName(scaled), "vec_id", "embedding",
        dim = 64, threshold = 0.99, planes = 12, bands = 4)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q29Sql: String =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
      |FROM embeddings ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------
  // Multimodal plumbing
  // ---------------------------------------------------------------------

  /** Binary media envelope over harness text payloads: byte length from
    * the real decode path (oracle: octet_length of the blob).
    */
  def q30MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromBinaryColumn(
      t(s, dir, "documents"), "doc_id", "text", "image")
    Multimodal.decodeMeta(media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"))
      .orderBy(col("media_id"))
  }

  val q30Sql: String =
    """SELECT doc_id AS media_id, 'image' AS kind,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  /** SimHash near-dup pairs over the planted-near-dup corpus, ORACLE-
    * CHECKED deterministically: the gate query runs the same relational
    * plan (explode → per-bit vote sums → chunk-bucket join → Hamming
    * verify) on the PORTABLE md5-derived token hash
    * ([[TextDedup.md5Hash60]]), which DuckDB reproduces bit-for-bit —
    * so the oracle computes every planted pair's fingerprint and keeps
    * those within Hamming ≤ 3, and pigeonhole bucketing (4 chunks of 15
    * bits) GUARANTEES the engine finds exactly that set: equality is
    * deterministic, no LSH luck involved. xxhash64 remains the
    * operator's fast default (SimHashSpec covers it); the hash source
    * is orthogonal to the plan shape.
    */
  def q31SimHashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(mutatedCopy(docs))
    TextDedup.simHashPairs(corpus, "doc_id", "text", maxDist = 3,
        tokenHash = TextDedup.md5Hash60, bits = 60)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long")
        .as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB mirror of q31: same md5-60 token hash, same ±1 votes per
    * bit, same fingerprint fold; planted pairs joined directly (the
    * oracle needs no LSH — recall at Hamming ≤ 3 is guaranteed engine-
    * side, so the sets must be equal).
    */
  val q31Sql: String = {
    val votes = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n          ")
    val fold = (0 until 60).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH fp AS (
       |  SELECT doc_id, $fold AS sim FROM (
       |    SELECT doc_id,
       |          $votes
       |    FROM (
       |      SELECT doc_id,
       |        CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |      FROM (
       |        SELECT doc_id, unnest(toks) AS tok FROM (
       |          SELECT doc_id,
       |            list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |          FROM documents
       |          UNION ALL
       |          SELECT doc_id + 1000000 AS doc_id,
       |            ta[1:GREATEST(len(ta) - 2, 1)] AS toks
       |          FROM (SELECT doc_id,
       |                  list_filter(string_split(text, ' '), x -> x <> '') AS ta
       |                FROM documents) m) u) e) hh
       |    GROUP BY doc_id) v)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON b.doc_id = a.doc_id + 1000000
       |WHERE bit_count(xor(a.sim, b.sim)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // As-of join / JSON / grouping sets / outer join parity
  // ---------------------------------------------------------------------

  /** Backward as-of join: each event picks the latest order (by date) in
    * its key group — point-in-time enrichment via [[AsOfJoin.backward]].
    * The right side is made unique per (key, time) first so the match is
    * well-defined on both engines (DuckDB's native ASOF JOIN is the
    * oracle).
    */
  def q32AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_id"), (col("user_id") % 5).as("key"), col("ts"))
    val o = t(s, dir, "orders")
      .select((col("o_custkey") % 5).as("key"), col("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
    val oUnique = Dedup.keepFirst(o, Seq("key", "o_orderdate"),
      Seq(col("o_orderkey").desc))
    AsOfJoin.backward(e, oUnique, Seq("key"), "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("event_id"))
  }

  val q32Sql: String =
    """SELECT event_id, o_orderkey, o_totalprice
      |FROM events e ASOF JOIN (
      |  SELECT key, o_orderdate, o_orderkey, o_totalprice FROM (
      |    SELECT o_custkey % 5 AS key, o_orderdate, o_orderkey, o_totalprice,
      |      ROW_NUMBER() OVER (PARTITION BY o_custkey % 5, o_orderdate
      |                         ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) x
      |  WHERE rn = 1) o
      |ON e.user_id % 5 = o.key AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** JSON path extraction from the events payload column. */
  def q33JsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  val q33Sql: String =
    """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** CUBE grouping sets (rollup's sibling; same NULLS FIRST pinning). */
  def q34Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q34Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Full outer join: customers vs per-customer order counts. */
  def q35FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val oagg = t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("__n"))
    c.join(oagg, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"),
        col("c_name"), coalesce(col("__n"), lit(0L)).as("n_orders"))
      .orderBy(col("k"))
  }

  val q35Sql: String =
    """SELECT COALESCE(c_custkey, o_custkey) AS k, c_name,
      |  COALESCE(n, 0) AS n_orders
      |FROM customer FULL OUTER JOIN (
      |  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) o
      |ON c_custkey = o_custkey
      |ORDER BY k""".stripMargin

  /** Grouped top-k: rank within each group via row_number, keep k — the
    * per-key analog of q17's global top-k; shuffle on the group key only.
    */
  def q36TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    t(s, dir, "lineitem")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("l_returnflag"), col("rank"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_returnflag"), col("rank"))
  }

  val q36Sql: String =
    """SELECT l_returnflag, rank, l_orderkey, l_linenumber, l_extendedprice
      |FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
      |  FROM lineitem) x
      |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin

  /** Sessionization: split each user's event stream at >30-minute gaps
    * (lag + cumulative sum over an event-time window), then aggregate per
    * session. Gap math on exact epoch-nanos so both engines cut sessions
    * on identical boundaries.
    */
  def q37Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val gapNs = 30L * 60 * 1000000000L
    events(s, dir)
      .withColumn("__new", when(
        col("ts_ns") - lag(col("ts_ns"), 1).over(byUser) > gapNs
          || lag(col("ts_ns"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q37Sql: String =
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events FROM (
      |  SELECT user_id, event_id,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
      |             PARTITION BY user_id ORDER BY ts, event_id)
      |             > 1800000000000
      |           OR LAG(epoch_ns(ts)) OVER (
      |             PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        THEN 1 ELSE 0 END AS is_new
      |    FROM events) g) x
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition —
    * verified bit-identical).
    */
  def q38Percentiles(s: SparkSession, dir: String): DataFrame =
    // Sort-based exact percentiles ([[Percentiles.exact]]): same values
    // as the `percentile` aggregate, without its per-group value-multiset
    // buffer (rounds 1-3 used the buffer; it is the piece that cannot
    // exist at 100 TB group sizes, and the sort path also measures ~2×
    // faster at sf0.1).
    Percentiles.exact(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", Seq(0.5 -> "50", 0.95 -> "95"))
      .orderBy(col("l_returnflag"))

  val q38Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.95) AS p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The SQL-text surface: the reference's quality checks are SQL strings
    * pushed to Postgres (py:483-531); this runs the same style of SQL
    * through Spark's parser/Catalyst over a temp view — identical text on
    * both engines.
    */
  def q39SqlQuality(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(q39Sql)
  }

  val q39Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_qty,
      |  MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** HLL sketch distinct (approx_count_distinct): the constant-memory
    * cardinality path for 100 TB group-bys. The sketch estimate is
    * engine-specific, so the ORACLE-CHECKED output is the exact count
    * plus an error-band boolean: |approx-exact|/exact ≤ 0.1 with the
    * sketch at rsd 0.02 (5σ margin — deterministic in practice; DuckDB
    * mirrors the bound as literal TRUE). The sketch still runs in the
    * same aggregate as the exact count.
    */
  def q40ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("__approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__approx") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.1).as("approx_ok"))
      .orderBy(col("event_type"))

  val q40Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS approx_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Binned range join: events (point = value mod 100) against supplier
    * intervals [acctbal mod 100, +2] — equi-join on bins, never a nested
    * loop (see [[RangeJoin]]); per-event match counts. The interval side
    * is deliberately sparse (~2% domain coverage each over the small
    * supplier table) so the TRUE match count — which no join algorithm
    * can beat — stays linear in the point count as SF grows.
    */
  def q41RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val points = events(s, dir)
      .select(col("event_id"), (col("value") % 100.0).as("p"))
    val intervals = t(s, dir, "supplier")
      .select(col("s_suppkey"), (col("s_acctbal") % 100.0).as("st"))
      .withColumn("en", col("st") + 2.0)
    RangeJoin.pointInInterval(points, "p", intervals, "st", "en",
        binWidth = 2.0)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_intervals"))
      .orderBy(col("event_id"))
  }

  val q41Sql: String =
    """SELECT event_id, COUNT(*) AS n_intervals
      |FROM (SELECT event_id, value % 100.0 AS p FROM events) e
      |JOIN (SELECT s_suppkey, s_acctbal % 100.0 AS st,
      |        s_acctbal % 100.0 + 2.0 AS en FROM supplier) o
      |  ON e.p >= o.st AND e.p <= o.en
      |GROUP BY event_id ORDER BY event_id""".stripMargin

  /** Pivot: per-returnflag quantity sums spread across linestatus columns
    * (`groupBy().pivot()` with explicit values → static output schema,
    * which is also what scales: no driver-side distinct scan).
    */
  def q42Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(moneySum(col("l_quantity")))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy(col("l_returnflag"))

  val q42Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F'
      |      THEN CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) END) AS DOUBLE) / 100 AS qty_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O'
      |      THEN CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) END) AS DOUBLE) / 100 AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Explode + re-aggregate: corpus-wide token frequencies (word count —
    * the canonical 1→N generator exercise).
    */
  def q43WordCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull) // outer: no size() scan-filter inference
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("tok"))

  val q43Sql: String =
    """SELECT tok, COUNT(*) AS n FROM (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents) u
      |GROUP BY tok ORDER BY tok""".stripMargin

  /** Nested-type aggregation: per-user SORTED event-type list —
    * `collect_list` is unordered across partitions, so the deterministic
    * form is sort_array(collect_list(...)), mirrored by DuckDB's
    * list_sort(list(...)). The list is serialized with array_join because
    * the driver's oracle compare cannot hash array-typed columns (round-1
    * q44 failure: pandas `unhashable type: numpy.ndarray`) — same
    * semantics, scalar representation.
    */
  def q44CollectSorted(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_list(col("event_type"))), ",")
        .as("types"))
      .orderBy(col("user_id"))

  val q44Sql: String =
    """SELECT user_id, array_to_string(list_sort(list(event_type)), ',') AS types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Statistical aggregates with engine-independent results: mean /
    * variance / stddev derived from EXACT fixed-point sums of x and x²
    * (a direct stddev_samp would differ in the last ulp between engines'
    * accumulation schemes).
    */
  def q45Stats(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_discount")
    val sx = sum(floor(x * 1e6 + lit(0.5)).cast("long"))
    val sxx = sum(floor(x * x * 1e12 + lit(0.5)).cast("long"))
    val n = count(lit(1))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sx.as("__sx"), sxx.as("__sxx"), n.as("n"))
      .select(col("l_returnflag"), col("n"),
        (col("__sx").cast("double") / 1e6 / col("n")).as("mean_disc"),
        // n > 1 guard: sample variance is undefined for one row, and an
        // unguarded (n-1) division is a hazard on skewed extracts
        when(col("n") > 1,
          (col("__sxx").cast("double") / 1e12
            - (col("__sx").cast("double") / 1e6)
              * (col("__sx").cast("double") / 1e6) / col("n"))
            / (col("n") - 1)).as("var_disc"))
      .orderBy(col("l_returnflag"))
  }

  val q45Sql: String =
    """SELECT l_returnflag, n,
      |  CAST(sx AS DOUBLE) / 1e6 / n AS mean_disc,
      |  CASE WHEN n > 1 THEN (CAST(sxx AS DOUBLE) / 1e12
      |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6) / n)
      |    / (n - 1) END AS var_disc
      |FROM (
      |  SELECT l_returnflag,
      |    SUM(CAST(FLOOR(l_discount * 1e6 + 0.5) AS BIGINT)) AS sx,
      |    SUM(CAST(FLOOR(l_discount * l_discount * 1e12 + 0.5) AS BIGINT)) AS sxx,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY l_returnflag) a
      |ORDER BY l_returnflag""".stripMargin

  /** Document chunking: 32-token windows with 8-token overlap over every
    * document — the training-data unit-of-work generator
    * ([[TextChunker]]), fully oracle-checked including chunk text.
    */
  def q46Chunking(s: SparkSession, dir: String): DataFrame =
    TextChunker.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_id"))

  val q46Sql: String =
    """SELECT doc_id, chunk_id,
      |  array_to_string(toks[CAST(chunk_id*24 + 1 AS BIGINT)
      |    : CAST(chunk_id*24 + 32 AS BIGINT)], ' ') AS chunk_text,
      |  LEAST(32, n - chunk_id*24) AS chunk_tokens
      |FROM (
      |  SELECT doc_id, toks, n,
      |    unnest(range(0, CASE WHEN n <= 32 THEN 1
      |      ELSE CAST(CEIL(CAST(n - 32 AS DOUBLE) / 24) AS BIGINT) + 1
      |      END)) AS chunk_id
      |  FROM (
      |    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
      |    FROM (SELECT doc_id,
      |            list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |          FROM documents) i) w) c
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Deterministic train/val/test split, ORACLE-CHECKED on its
    * invariants: per language, the split counts must sum back to the
    * corpus count (totality + disjointness — a doc in two splits would
    * overshoot, a dropped doc undershoot), all three splits must be
    * populated, and the train share must sit in a wide uniformity band
    * around the requested 80% (±4σ at the smallest language bucket).
    * DuckDB predicts all three from the raw table; the split assignment
    * itself ([[Sampling.hashSplit]], seeded xxhash64) remains
    * hash-determinism-tested in SamplingSpec.
    */
  def q47HashSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(t(s, dir, "documents"), "doc_id", 80, 10)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        count(when(col("split") === "train", lit(1))).as("__n_train"))
      .select(col("lang"), col("n_docs"), col("n_splits"),
        (col("__n_train").cast("double") / col("n_docs"))
          .between(0.6, 0.95).as("train_frac_ok"))
      .orderBy(col("lang"))

  val q47Sql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(3 AS BIGINT) AS n_splits,
      |  TRUE AS train_frac_ok
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Sequence packing on top of q46's chunks: assign chunks to 256-token
    * context windows and report per-pack fill — chunk → pack is the last
    * hop of the training-data pipeline. Fully oracle-checked.
    *
    * Packing is SHARDED by floor(doc_id/100): each shard packs its own
    * chunk sequence independently, so the window sort is per-shard, not
    * global — this is the plan shape that survives 100× scale (a global
    * ORDER BY window collapses to one partition; round-1 verdict item 4).
    * The (shard, pack_id) pair is the pack key.
    */
  def q48Packing(s: SparkSession, dir: String): DataFrame = {
    val chunks = TextChunker.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
      .withColumn("shard", floor(col("doc_id") / 100))
    TextChunker.pack(chunks,
        Seq(col("doc_id"), col("chunk_id")), "chunk_tokens", maxTokens = 256,
        partitionCols = Seq(col("shard")))
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("n_tokens"))
      .orderBy(col("shard"), col("pack_id"))
  }

  val q48Sql: String =
    """SELECT shard, pack_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(chunk_tokens) AS BIGINT) AS n_tokens
      |FROM (
      |  SELECT shard,
      |    CAST(FLOOR(CAST((SUM(chunk_tokens) OVER (
      |      PARTITION BY shard ORDER BY doc_id, chunk_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - chunk_tokens) AS DOUBLE) / 256) AS BIGINT) AS pack_id,
      |    chunk_tokens
      |  FROM (
      |    SELECT doc_id, chunk_id,
      |      CAST(FLOOR(doc_id / 100) AS BIGINT) AS shard,
      |      LEAST(32, n - chunk_id*24) AS chunk_tokens
      |    FROM (
      |      SELECT doc_id, n,
      |        unnest(range(0, CASE WHEN n <= 32 THEN 1
      |          ELSE CAST(CEIL(CAST(n - 32 AS DOUBLE) / 24) AS BIGINT) + 1
      |          END)) AS chunk_id
      |      FROM (SELECT doc_id,
      |              CAST(len(list_filter(string_split(text, ' '),
      |                x -> x <> '')) AS BIGINT) AS n
      |            FROM documents) i) w) c) p
      |GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin

  /** Corpus scrubbing: PII-style masking over documents with injected
    * emails/URLs/ids (the harness text contains none, so matches are
    * synthesized deterministically from doc_id — the regexes are
    * exercised on every row, oracle-checked on the masked text).
    */
  def q49Scrub(s: SparkSession, dir: String): DataFrame = {
    val dirty = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or https://example.com/d/"), col("doc_id"),
        lit(" ref "), col("doc_id") + 1000000L).as("text"))
    dirty.select(col("doc_id"),
        TextFunctions.scrub(col("text")).as("clean"))
      .orderBy(col("doc_id"))
  }

  val q49Sql: String =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com or https://example.com/d/'
      |      || CAST(doc_id AS VARCHAR) || ' ref '
      |      || CAST(doc_id + 1000000 AS VARCHAR),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    'https?://[^ ]+', '<URL>', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g') AS clean
      |FROM documents ORDER BY doc_id""".stripMargin

  /** End-to-end text→vector→ANN: feature-hash documents into 32-dim
    * embeddings ([[TextFeatures.hashEmbed]]) and find each mutated copy's
    * nearest neighbor — closing the loop from raw text to similarity
    * search with zero external models. ORACLE-CHECKED: the planted
    * copies here are VERBATIM (same text, offset id), so each query's
    * embedding equals its source's exactly, the source's cosine is
    * strictly maximal (the corpus has no two docs with proportional
    * term-count vectors — truncated copies are NOT enough: at sf0.001
    * doc 50 is a near-dup of doc 0 and out-scores the truncated copy's
    * own source), and ties resolve to the smallest neighbor id, which
    * the sources (ids 0-4, the corpus minimum) win. DuckDB therefore
    * predicts the literal (d+1000000, d) pairing. The xxhash64-derived
    * score stays out of the hashed output; near-dup (truncated-copy)
    * retrieval is property-tested in TextFeaturesSpec instead.
    */
  def q50TextAnn(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    val corpus = docs.unionByName(copies)
    val emb = TextFeatures.hashEmbed(corpus, "doc_id", "text", dim = 32)
    Similarity.bruteForceTopK(emb,
        emb.filter(col("doc_id") >= 1000000L && col("doc_id") < 1000005L),
        "doc_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  val q50Sql: String =
    """SELECT doc_id + 1000000 AS query_id, doc_id AS neighbor_id
      |FROM documents WHERE doc_id < 5 ORDER BY query_id""".stripMargin

  /** IVF ANN end-to-end: train a spherical k-means coarse quantizer on
    * the corpus (deterministic hash-sample init, fixed-point exact
    * centroid means), assign inverted lists, probe per query — the
    * data-ADAPTIVE scale path next to LSH's fixed hyperplane cuts.
    * ORACLE-CHECKED via the verbatim-copy invariant (q50's argument,
    * independent of centroid quality): an identical query vector lands
    * in its source's cell by construction, the source's dot score is
    * strictly maximal, ties resolve to the smallest id which the
    * sources (0-4) hold — so DuckDB predicts the (d+1000000, d)
    * pairing exactly, whatever the trained centroids are.
    */
  def q53IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val corpus = emb.unionByName(copies)
    val centroids = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", dim = 64, nlist = 8, iters = 1)
    Similarity.ivfTopK(corpus,
        corpus.filter(col("vec_id") >= 1000000L && col("vec_id") < 1000005L),
        "vec_id", "embedding", k = 1, centroids, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  val q53Sql: String =
    """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin

  /** Heavy-hitter tokens via the frequent-items sketch, ORACLE-CHECKED
    * on the sketch's DETERMINISTIC guarantee: every token whose exact
    * share exceeds 1% must appear in a sketch run at 0.5% support
    * (Karp-Papadimitriou-Shenker admits false positives, never false
    * negatives), so `in_sketch` mirrors as literal TRUE while the exact
    * counts hash-match DuckDB directly. The sketch pass is the
    * constant-memory scale path; the exact groupBy is its ground truth
    * here.
    */
  def q54FreqItems(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull) // outer: no size() scan-filter inference
    graft.operators.Sketches.heavyHittersChecked(toks, "tok",
        minShare = 0.01, support = 0.005)
      .orderBy(col("tok"))
  }

  val q54Sql: String =
    """SELECT tok, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS in_sketch
      |FROM (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents) u
      |GROUP BY tok
      |HAVING COUNT(*) > 0.01 * (
      |  SELECT COUNT(*) FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |    FROM documents) i)
      |ORDER BY tok""".stripMargin

  /** Event-time tumbling windows in BATCH mode — the same `window()`
    * groups the streaming path uses (WeatherStream.qualityByWindow),
    * oracle-checked against date_trunc bucketing.
    */
  def q51TumblingWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("value"))).cast("double") / 100).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy(col("window_start"))

  val q51Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS sum_value
      |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin

  /** Filtered distinct aggregation: per event type, distinct high-value
    * users — `countDistinct(when(...))` ≡ `COUNT(DISTINCT CASE ...)`.
    */
  def q52FilteredDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(when(col("value") > 100, col("user_id")))
          .as("big_spenders"),
        countDistinct(col("user_id")).as("all_users"))
      .orderBy(col("event_type"))

  val q52Sql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT CASE WHEN value > 100 THEN user_id END) AS big_spenders,
      |  COUNT(DISTINCT user_id) AS all_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Dup-cluster resolution: near-dup EDGES → per-document CLUSTER id
    * via distributed connected components ([[Graph.connectedComponents]],
    * alternating large-star/small-star — the O(log n)-round shape that
    * survives 100 TB where driver-side union-find cannot).
    *
    * The graph: two planted generations per doc — B = doc minus its last
    * 2 tokens (id+1e6), C = doc minus its last 4 tokens (id+2e6) — with
    * an edge where exact 3-gram Jaccard ≥ 0.7 (A–B and B–C; A–C is NOT
    * an edge, so labels must propagate TRANSITIVELY through B, which is
    * precisely what CC adds over pairwise dedup). Both engines compute
    * the same deterministic edge set (the q27 kernel); DuckDB resolves
    * components independently via a recursive-CTE min-label closure, so
    * hash equality proves the star-contraction loop labels every node
    * with its true component minimum. Docs whose edges fall below the
    * threshold stay singletons — the oracle must agree on those too.
    */
  def q55DupClusters(s: SparkSession, dir: String): DataFrame =
    dupClusterAssignments(s, dir).orderBy(col("node"))

  /** The two-generation planted corpus as token slices: __ta = doc
    * tokens, __tb = minus last 2, __tc = minus last 4 (ids +1e6/+2e6
    * when materialized as nodes). Shared by q55/q59.
    */
  private def plantedSlices(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__ta"))
      .select(col("doc_id"), col("__ta"),
        slice(col("__ta"), lit(1), greatest(size(col("__ta")) - 2, lit(1)))
          .as("__tb"),
        slice(col("__ta"), lit(1), greatest(size(col("__ta")) - 4, lit(1)))
          .as("__tc"))

  /** Edge list of the planted dup graph (q55/q59/q113): per doc,
    * (id → id+1e6) when jaccard(a,b) >= 0.7 and (id+1e6 → id+2e6) when
    * jaccard(b,c) >= 0.7 over 3-shingle sets of the token slices.
    */
  private[graft] def plantedDupEdges(s: SparkSession, dir: String): DataFrame = {
    val sliced = plantedSlices(s, dir)
    val sets = sliced.select(col("doc_id"),
      array_distinct(TextFunctions.shinglesFromTokens(col("__ta"), 3))
        .as("__sa"),
      array_distinct(TextFunctions.shinglesFromTokens(col("__tb"), 3))
        .as("__sb"),
      array_distinct(TextFunctions.shinglesFromTokens(col("__tc"), 3))
        .as("__sc"))
    val sizes = sets.select(col("doc_id"),
      size(array_intersect(col("__sa"), col("__sb"))).as("__iab"),
      size(array_union(col("__sa"), col("__sb"))).as("__uab"),
      size(array_intersect(col("__sb"), col("__sc"))).as("__ibc"),
      size(array_union(col("__sb"), col("__sc"))).as("__ubc"))
    val jacs = sizes.select(col("doc_id"),
      when(col("__uab") > 0,
        col("__iab").cast("double") / col("__uab").cast("double"))
        .otherwise(lit(0.0)).as("__jab"),
      when(col("__ubc") > 0,
        col("__ibc").cast("double") / col("__ubc").cast("double"))
        .otherwise(lit(0.0)).as("__jbc"))
    // Edge derivation must NOT use where(__jab >= 0.7) over the staged
    // tower: predicate pushdown substitutes aliases into the filter
    // condition UNCONDITIONALLY (unlike CollapseProject it ignores the
    // multi-reference barrier), so the shingle-set expressions duplicate
    // exponentially stage by stage — measured 23 s vs 2.3 s at sf0.1.
    // Emitting nullable edge structs in the projection and exploding
    // puts a Generate between the tower and the null filter, which
    // blocks the pushdown and evaluates the tower once per row for both
    // edge types.
    jacs.select(explode(array(
        when(col("__jab") >= 0.7, struct(
          col("doc_id").as("src"),
          (col("doc_id") + 1000000L).as("dst"))),
        when(col("__jbc") >= 0.7, struct(
          (col("doc_id") + 1000000L).as("src"),
          (col("doc_id") + 2000000L).as("dst"))))).as("__e"))
      .where(col("__e").isNotNull)
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
  }

  /** All 3n node ids of the planted dup graph (base + both copy
    * generations) — shared by q55/q113 so isolated nodes get labels.
    */
  private[graft] def plantedDupNodes(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    ids.select(col("doc_id").as("node"))
      .unionByName(ids.select((col("doc_id") + 1000000L).as("node")))
      .unionByName(ids.select((col("doc_id") + 2000000L).as("node")))
  }

  /** (node, component) for every node of the planted dup graph. */
  private def dupClusterAssignments(s: SparkSession, dir: String): DataFrame = {
    val cc = Graph.connectedComponents(plantedDupEdges(s, dir),
      "src", "dst")
    plantedDupNodes(s, dir).join(cc, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** Shared CTE prefix of q55Sql/q59Sql: the planted dup graph (token
    * slices → shingle sets → Jaccard edges → symmetric closure →
    * recursive min-label reachability). ONE definition so the two
    * oracles can never disagree about the graph they resolve.
    */
  private val dupGraphCtes: String =
    """WITH RECURSIVE base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |sl AS (
      |  SELECT doc_id, ta,
      |    ta[1:GREATEST(len(ta) - 2, 1)] AS tb,
      |    ta[1:GREATEST(len(ta) - 4, 1)] AS tc
      |  FROM base),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS sa,
      |    list_distinct(CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
      |      ELSE list_transform(range(1, len(tb) - 1),
      |             i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2]) END) AS sb,
      |    list_distinct(CASE WHEN len(tc) < 3 THEN [array_to_string(tc, ' ')]
      |      ELSE list_transform(range(1, len(tc) - 1),
      |             i -> tc[i] || ' ' || tc[i+1] || ' ' || tc[i+2]) END) AS sc
      |  FROM sl),
      |jac AS (
      |  SELECT doc_id,
      |    CASE WHEN len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x))) > 0
      |      THEN CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
      |         / CAST(len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
      |      ELSE 0.0 END AS jab,
      |    CASE WHEN len(sb) + len(sc) - len(list_filter(sb, x -> list_contains(sc, x))) > 0
      |      THEN CAST(len(list_filter(sb, x -> list_contains(sc, x))) AS DOUBLE)
      |         / CAST(len(sb) + len(sc) - len(list_filter(sb, x -> list_contains(sc, x))) AS DOUBLE)
      |      ELSE 0.0 END AS jbc
      |  FROM sh),
      |edges AS (
      |  SELECT doc_id AS u, doc_id + 1000000 AS v FROM jac WHERE jab >= 0.7
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS u, doc_id + 2000000 AS v FROM jac WHERE jbc >= 0.7),
      |sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
      |nodes AS (
      |  SELECT doc_id AS n FROM documents
      |  UNION ALL SELECT doc_id + 1000000 FROM documents
      |  UNION ALL SELECT doc_id + 2000000 FROM documents),
      |reach AS (
      |  SELECT n, n AS l FROM nodes
      |  UNION
      |  SELECT s.v AS n, r.l FROM reach r JOIN sym s ON s.u = r.n)""".stripMargin

  val q55Sql: String = dupGraphCtes +
    """
      |SELECT n AS node, MIN(l) AS component FROM reach
      |GROUP BY n ORDER BY node""".stripMargin

  /** BM25-family ranked retrieval ([[Retrieval.bm25TopK]]): every 100th
    * doc's first 4 tokens become a query; top-5 docs per query. The
    * gate query opts into the operator's `rationalIdf` variant (the
    * log-free exponential of RSJ idf — see the operator scaladoc for
    * exactly how its multi-term ranking can differ from true BM25) so
    * every arithmetic step is a correctly-rounded IEEE op that DuckDB
    * reproduces bit-for-bit; per-term contributions are quantized to
    * BIGINT micro-units before summation. The oracle recomputes the
    * ENTIRE ranking independently (postings, df, avgdl, scores, ranks)
    * from the raw table, so equality checks the whole inverted-index
    * pipeline, not a planted subset; RetrievalSpec separately pins the
    * default log-idf path against a driver-side true-BM25 oracle.
    */
  def q56Bm25(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__ta"))
    val queries = base.where(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ",
          slice(col("__ta"), lit(1), least(lit(4), size(col("__ta")))))
          .as("qtext"))
    Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        queries, "qid", "qtext", k = 5, rationalIdf = true)
      .orderBy(col("query_id"), col("rank"))
  }

  val q56Sql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(ta) AS term FROM base) e
      |  GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, len(ta) AS dl FROM base),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(len(ta)) AS DOUBLE) / COUNT(*) AS avgdl
      |  FROM base),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |q AS (
      |  SELECT doc_id AS query_id,
      |    unnest(list_distinct(ta[1:LEAST(4, len(ta))])) AS term
      |  FROM base WHERE doc_id % 100 = 0),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(FLOOR(
      |      (((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |       * ((CAST(tf AS DOUBLE) * (1.2 + 1))
      |          / (CAST(tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))))
      |      * 1000000 + 0.5) AS BIGINT) AS c
      |  FROM q
      |  JOIN tf ON tf.term = q.term
      |  JOIN df ON df.term = q.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats),
      |scores AS (
      |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
      |  FROM contrib GROUP BY query_id, doc_id),
      |ranked AS (
      |  SELECT query_id, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
      |    score_micro
      |  FROM scores)
      |SELECT query_id, doc_id, rank, score_micro FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Eval-set decontamination ([[Decontam.contaminationReport]]): the
    * eval set is the mutated copy (last 2 tokens dropped, id+1e6) of
    * every 50th doc, so contamination is planted by construction; the
    * oracle rebuilds the identical report from the raw table — same
    * 5-gram sets, same PORTABLE md5-60 hashes (q31's cross-engine
    * validated hash), same distinct counts — so hash equality checks
    * the full explode→hash→join→aggregate pipeline including any
    * NATURAL contamination from exact-duplicate docs in the corpus,
    * not just the planted rows.
    */
  def q57Decontam(s: SparkSession, dir: String): DataFrame = {
    val evalCopies = mutatedCopy(
      t(s, dir, "documents").where(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text")))
    Decontam.contaminationReport(
        t(s, dir, "documents"), "doc_id", "text",
        evalCopies, "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  val q57Sql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |ev AS (
      |  SELECT doc_id + 1000000 AS eid, ta[1:GREATEST(len(ta) - 2, 1)] AS tb
      |  FROM base WHERE doc_id % 50 = 0),
      |evh AS (
      |  SELECT DISTINCT eid, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
      |  FROM (
      |    SELECT eid, unnest(CASE WHEN len(tb) < 5 THEN [array_to_string(tb, ' ')]
      |      ELSE list_transform(range(1, len(tb) - 3),
      |             i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2] || ' '
      |               || tb[i+3] || ' ' || tb[i+4]) END) AS sh
      |    FROM ev WHERE len(tb) > 0) u),
      |trh AS (
      |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
      |  FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(ta) < 5 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 3),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2] || ' '
      |               || ta[i+3] || ' ' || ta[i+4]) END) AS sh
      |    FROM base WHERE len(ta) > 0) u)
      |SELECT t.doc_id,
      |  CAST(COUNT(DISTINCT e.eid) AS BIGINT) AS n_eval_docs,
      |  CAST(COUNT(DISTINCT t.h) AS BIGINT) AS n_shared_ngrams
      |FROM trh t JOIN evh e ON t.h = e.h
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Symmetric int8 embedding quantization ([[Quantize.int8Summary]]).
    * Every arithmetic step (float→double cast, max|x|, /127, per-element
    * FLOOR(x/scale + 0.5)) is a correctly-rounded IEEE op in mirrored
    * order, so DuckDB recomputes every quantized element bit-for-bit;
    * the BIGINT aggregates (sum / L1 / max) pin all of them — one
    * diverging element shifts the sums.
    */
  def q58Int8Quant(s: SparkSession, dir: String): DataFrame =
    Quantize.int8Summary(t(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  val q58Sql: String =
    """WITH r AS (
      |  SELECT vec_id, ABS(CAST(x AS DOUBLE)) AS ax, CAST(x AS DOUBLE) AS x
      |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) u),
      |m AS (SELECT vec_id, MAX(ax) / 127.0 AS scale FROM r GROUP BY vec_id),
      |q AS (
      |  SELECT r.vec_id,
      |    m.scale,
      |    CASE WHEN m.scale > 0
      |      THEN CAST(FLOOR(r.x / m.scale + 0.5) AS BIGINT)
      |      ELSE CAST(0 AS BIGINT) END AS qv
      |  FROM r JOIN m ON r.vec_id = m.vec_id)
      |SELECT vec_id, MIN(scale) AS scale,
      |  CAST(SUM(qv) AS BIGINT) AS q_sum,
      |  CAST(SUM(ABS(qv)) AS BIGINT) AS q_l1,
      |  MAX(qv) AS q_max,
      |  COUNT(*) AS dim
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** End-to-end dedup resolution: q55's cluster assignments joined with
    * per-node token counts; each cluster keeps its LONGEST member
    * (ties → smallest id) — "which document survives dedup", the final
    * step a training pipeline actually ships. Window rank per component
    * + cluster size riding the same exchange; oracle mirrors the whole
    * chain (clusters via recursive CTE + the same ranking).
    */
  def q59DedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    // One explode, not a 3-way union: union branches are independent
    // plan copies, so the r6 shape tokenized the full corpus three
    // times (one per generation). A single explode of (node, len)
    // structs derives all three generations from one tokenize pass.
    val sliced = plantedSlices(s, dir)
    val lens = sliced.select(explode(array(
        struct(col("doc_id").as("node"),
          size(col("__ta")).cast("long").as("n_tokens")),
        struct((col("doc_id") + 1000000L).as("node"),
          size(col("__tb")).cast("long").as("n_tokens")),
        struct((col("doc_id") + 2000000L).as("node"),
          size(col("__tc")).cast("long").as("n_tokens"))))
        .as("__gen"))
      .select(col("__gen.node").as("node"),
        col("__gen.n_tokens").as("n_tokens"))
    val assigned = dupClusterAssignments(s, dir).join(lens, Seq("node"))
    val w = Window.partitionBy(col("component"))
    val ranked = assigned.select(col("component"), col("node"),
      col("n_tokens"),
      row_number().over(w.orderBy(col("n_tokens").desc, col("node").asc))
        .as("__rn"),
      count(lit(1)).over(w).as("cluster_size"))
    ranked.where(col("__rn") === 1)
      .select(col("component"), col("node").as("canonical"),
        col("n_tokens"), col("cluster_size"))
      .orderBy(col("component"))
  }

  val q59Sql: String = dupGraphCtes +
    """,
      |comp AS (SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n),
      |lens AS (
      |  SELECT doc_id AS node, len(ta) AS n_tokens FROM sl
      |  UNION ALL SELECT doc_id + 1000000, len(tb) FROM sl
      |  UNION ALL SELECT doc_id + 2000000, len(tc) FROM sl),
      |ranked AS (
      |  SELECT c.component, c.node, ln.n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY c.component
      |      ORDER BY ln.n_tokens DESC, c.node) AS rn,
      |    COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
      |  FROM comp c JOIN lens ln ON ln.node = c.node)
      |SELECT component, node AS canonical,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(cluster_size AS BIGINT) AS cluster_size
      |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin

  /** Per-dimension embedding-column profiling (mean/variance/min/max per
    * coordinate) — the drift/health check a vector pipeline runs before
    * training an IVF quantizer or shipping embeddings to serving. Exact
    * fixed-point moment sums (the q45 pattern: micro-unit and
    * pico-unit BIGINT sums, one double division at the end) keep the
    * aggregates order-independent and bit-identical cross-engine.
    */
  /** (vec_id, dim, __x): embeddings exploded to double-typed element
    * rows — shared by q60/q61.
    */
  private def embeddingRows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("__i", "__xf")))
      .select(col("vec_id"), col("__i").cast("long").as("dim"),
        col("__xf").cast("double").as("__x"))

  /** Per-dimension exact moment sums → (dim, n, mean_x, var_x) with the
    * q45 fixed-point pattern; var is sample variance, null for n ≤ 1.
    */
  private def dimMoments(rows: DataFrame): DataFrame =
    rows.groupBy(col("dim"))
      .agg(
        sum(floor(col("__x") * 1e6 + lit(0.5)).cast("long")).as("__sx"),
        sum(floor(col("__x") * col("__x") * 1e12 + lit(0.5)).cast("long"))
          .as("__sxx"),
        count(lit(1)).as("n"),
        min(col("__x")).as("min_x"),
        max(col("__x")).as("max_x"))
      .select(col("dim"), col("n"),
        (col("__sx").cast("double") / 1e6 / col("n")).as("mean_x"),
        when(col("n") > 1,
          (col("__sxx").cast("double") / 1e12
            - (col("__sx").cast("double") / 1e6)
              * (col("__sx").cast("double") / 1e6) / col("n"))
            / (col("n") - 1)).as("var_x"),
        col("min_x"), col("max_x"))

  def q60EmbeddingStats(s: SparkSession, dir: String): DataFrame =
    dimMoments(embeddingRows(s, dir))
      .select(col("dim"), col("n"), col("mean_x"), col("var_x"),
        col("min_x"), col("max_x"))
      .orderBy(col("dim"))

  val q60Sql: String =
    """SELECT dim, n,
      |  CAST(sx AS DOUBLE) / 1e6 / n AS mean_x,
      |  CASE WHEN n > 1 THEN (CAST(sxx AS DOUBLE) / 1e12
      |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6) / n)
      |    / (n - 1) END AS var_x,
      |  min_x, max_x
      |FROM (
      |  SELECT dim,
      |    SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS sx,
      |    SUM(CAST(FLOOR(x * x * 1e12 + 0.5) AS BIGINT)) AS sxx,
      |    COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x
      |  FROM (
      |    SELECT CAST(i - 1 AS BIGINT) AS dim,
      |      CAST(embedding[i] AS DOUBLE) AS x
      |    FROM (SELECT embedding,
      |            unnest(range(1, len(embedding) + 1)) AS i
      |          FROM embeddings) u) r
      |  GROUP BY dim) a
      |ORDER BY dim""".stripMargin

  /** Per-dimension z-score outlier screen over the embedding corpus:
    * count of |z| > 4 coordinates and the worst |z| per vector — the
    * anomaly filter run before embeddings feed an ANN index or a
    * training batch. Deterministic cross-engine because `sqrt` (unlike
    * `ln`) is an IEEE-754 REQUIRED correctly-rounded operation: every
    * z is identical double arithmetic on both engines. Dim stats ride
    * the q60 fixed-point moments and broadcast-join back onto the
    * element rows (64 rows against the streamed corpus — no second
    * wide shuffle).
    */
  def q61EmbeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    // two consumers (stats side and probe side) — checkpoint so the
    // scan+posexplode runs once, not once per consumer
    val rows = embeddingRows(s, dir).localCheckpoint()
    val st = dimMoments(rows).select(col("dim").as("__sdim"),
      col("mean_x").as("__mean"), col("var_x").as("__var"))
    val z = rows.join(broadcast(st), col("dim") === col("__sdim"))
      .select(col("vec_id"),
        when(col("__var") > 0,
          abs((col("__x") - col("__mean")) / sqrt(col("__var"))))
          .as("__az"))
    z.groupBy(col("vec_id"))
      .agg(count(when(col("__az") > 4.0, lit(1))).as("n_outlier_dims"),
        max(col("__az")).as("max_abs_z"))
      .orderBy(col("vec_id"))
  }

  val q61Sql: String =
    """WITH r AS (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings) u),
      |agg AS (
      |  SELECT dim,
      |    SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS sx,
      |    SUM(CAST(FLOOR(x * x * 1e12 + 0.5) AS BIGINT)) AS sxx,
      |    COUNT(*) AS n
      |  FROM r GROUP BY dim),
      |st AS (
      |  SELECT dim, CAST(sx AS DOUBLE) / 1e6 / n AS mean_x,
      |    CASE WHEN n > 1 THEN (CAST(sxx AS DOUBLE) / 1e12
      |      - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6) / n)
      |      / (n - 1) END AS var_x
      |  FROM agg),
      |z AS (
      |  SELECT r.vec_id,
      |    CASE WHEN st.var_x > 0
      |      THEN ABS((r.x - st.mean_x) / SQRT(st.var_x)) END AS az
      |  FROM r JOIN st ON r.dim = st.dim)
      |SELECT vec_id,
      |  CAST(COUNT(CASE WHEN az > 4.0 THEN 1 END) AS BIGINT) AS n_outlier_dims,
      |  MAX(az) AS max_abs_z
      |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Source-weighted corpus mixing ([[Sampling.weightedMix]]): drop
    * src3 entirely, halve src1, quarter src5, keep 80% of everything
    * else — a training-data mixing recipe whose EXACT kept set the
    * oracle reproduces row for row (portable md5-60 uniform; the
    * xxhash64 samplers in q47 can only be invariant-checked). Seed 42.
    */
  def q62WeightedMix(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedMix(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src1" -> 0.5, "src3" -> 0.0, "src5" -> 0.25),
        seed = 42L, defaultWeight = 0.8)
      .orderBy(col("doc_id"))

  val q62Sql: String =
    """SELECT doc_id, source FROM documents
      |WHERE CAST(CAST('0x' || substr(md5(42 || ':' || doc_id), 1, 15) AS BIGINT) AS DOUBLE)
      |      / 1152921504606846976.0
      |  < CASE source WHEN 'src1' THEN 0.5 WHEN 'src3' THEN 0.0
      |      WHEN 'src5' THEN 0.25 ELSE 0.8 END
      |ORDER BY doc_id""".stripMargin

  /** Skew-salted two-phase aggregation ([[Skew.saltedAgg]]) as an
    * oracle-checked query: the oracle is the PLAIN `GROUP BY` — salting
    * is only correct if it is invisible in the result, and exact cents
    * sums make the equality bit-level (a double sum would vary with the
    * salt-induced accumulation order). The salt spreads each hot key
    * over 8 reducers in phase 1; phase 2 merges `keys × 8` partials.
    */
  def q63SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(t(s, dir, "lineitem"), Seq("l_returnflag"),
        saltBuckets = 8,
        phase1 = Seq(sum(cents(col("l_quantity"))).as("__qc"),
          count(lit(1)).as("__n")),
        phase2 = Seq(sum(col("__qc")).as("__qc"), sum(col("__n")).as("n")))
      .select(col("l_returnflag"),
        (col("__qc").cast("double") / 100).as("sum_qty"), col("n"))
      .orderBy(col("l_returnflag"))

  val q63Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate quantiles — the sketch that replaces q38's exact
    * percentile at 100 TB (exact needs the full value multiset per
    * group; the KLL-style sketch is mergeable, bounded-memory, one
    * pass). Oracle pattern (like q40's HLL): the approx VALUE is
    * sketch-internal, but its rank-error GUARANTEE (≤ 1/accuracy
    * regardless of merge order) is checkable — the query emits the
    * exact quantiles plus booleans asserting each approx value lies
    * within the exact [p−ε, p+ε] quantile envelope (ε = 2/accuracy,
    * double the bound, so the check never flakes on boundary
    * interpolation); DuckDB mirrors the exact values and literal TRUE.
    *
    * Perf history: 12 independent `percentile` aggregates measured
    * 10.9 s at sf0.1; one shared array-probability buffer ≈ 2 s; the
    * current sort-based exact side ([[Percentiles.exact]]) drops the
    * value-multiset buffer entirely. Same interpolation, same values.
    */
  def q64ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_extendedprice")
    val ps = Seq(0.25 -> "25", 0.5 -> "50", 0.95 -> "95")
    val probes = ps.flatMap { case (p, name) => Seq(
      math.max(0.0, p - 0.02) -> s"lo_$name", p -> s"ex_$name",
      math.min(1.0, p + 0.02) -> s"hi_$name") }
    // exact side: sort-based ([[Percentiles.exact]], see q38) — the
    // envelope bounds need exact quantiles but not the multiset buffer
    val exact = Percentiles.exact(t(s, dir, "lineitem"),
      Seq("l_returnflag"), "l_extendedprice", probes)
    val approx = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(x, array(ps.map(p => lit(p._1)): _*), lit(100))
        .as("__ap"))
    val outCols = ps.zipWithIndex.flatMap { case ((_, name), i) =>
      val ap = element_at(col("__ap"), i + 1)
      Seq(col(s"pex_$name").as(s"exact_$name"),
        (ap >= col(s"plo_$name") && ap <= col(s"phi_$name")).as(s"ok_$name"))
    }
    exact.join(approx, "l_returnflag")
      .select(col("l_returnflag") +: outCols: _*)
      .orderBy(col("l_returnflag"))
  }

  val q64Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.25) AS exact_25, TRUE AS ok_25,
      |  quantile_cont(l_extendedprice, 0.5) AS exact_50, TRUE AS ok_50,
      |  quantile_cont(l_extendedprice, 0.95) AS exact_95, TRUE AS ok_95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Gopher-style within-document repetition filter ([[Repetition]]):
    * top-2-gram occupancy + duplicated-5-gram mass per document, fully
    * oracle-checked — every count is an exact long, each fraction is a
    * single correctly-rounded double division, so DuckDB reproduces the
    * entire report including the keep verdicts bit-for-bit.
    */
  def q65Repetition(s: SparkSession, dir: String): DataFrame =
    Repetition.stats(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  val q65Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, 2 AS n,
      |    unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
      |      ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END) AS gram
      |  FROM toks
      |  UNION ALL
      |  SELECT doc_id, 5 AS n,
      |    unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
      |      ELSE list_transform(range(1, len(t) - 3),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]) END) AS gram
      |  FROM toks
      |), occ AS (
      |  SELECT doc_id, n, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, n, gram
      |), per_doc AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN n = 2 THEN c END) AS BIGINT) AS total_2grams,
      |    CAST(COUNT(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS distinct_2grams,
      |    CAST(MAX(CASE WHEN n = 2 THEN c END) AS BIGINT) AS top_2gram_count,
      |    CAST(SUM(CASE WHEN n = 5 THEN c END) AS BIGINT) AS total_5grams,
      |    CAST(COALESCE(SUM(CASE WHEN n = 5 AND c > 1 THEN c END), 0) AS BIGINT) AS dup_5gram_tokens
      |  FROM occ GROUP BY doc_id
      |)
      |SELECT doc_id, total_2grams, distinct_2grams, top_2gram_count,
      |  CAST(top_2gram_count AS DOUBLE) / CAST(total_2grams AS DOUBLE) AS top_2gram_frac,
      |  total_5grams, dup_5gram_tokens,
      |  CAST(dup_5gram_tokens AS DOUBLE) / CAST(total_5grams AS DOUBLE) AS dup_5gram_frac,
      |  (CAST(top_2gram_count AS DOUBLE) / CAST(total_2grams AS DOUBLE)) <= 0.20
      |    AND (CAST(dup_5gram_tokens AS DOUBLE) / CAST(total_5grams AS DOUBLE)) <= 0.30 AS keep
      |FROM per_doc
      |ORDER BY doc_id""".stripMargin

  /** Time-series resample + forward-fill ([[Resample.gridFill]]): hourly
    * grid per event type, gaps carry the last observed hour's value —
    * the regularization step before any windowed feature extraction.
    * Fully oracle-checked: the grid is integer arithmetic, cell sums are
    * exact cents, and the ffill is `last(ignoreNulls)` on both engines.
    */
  def q66Resample(s: SparkSession, dir: String): DataFrame = {
    val stepNs = 3600L * 1000 * 1000 * 1000
    val obs = events(s, dir)
      .select(col("event_type"), Resample.cell("ts_ns", stepNs).as("cell"),
        col("value"))
      .groupBy(col("event_type"), col("cell"))
      .agg(count(lit(1)).as("n_obs"), sum(cents(col("value"))).as("__vc"))
    Resample.gridFill(obs, Seq("event_type"), "cell", Seq("n_obs", "__vc"))
      .select(col("event_type"), col("cell"),
        timestamp_micros(col("cell") * lit(3600L * 1000 * 1000)).as("cell_ts"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        (col("__vc").cast("double") / 100).as("val_sum"),
        (col("__vc_ffill").cast("double") / 100).as("val_ffill"),
        col("is_gap"))
      .orderBy(col("event_type"), col("cell"))
  }

  val q66Sql: String =
    """WITH obs AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS cell,
      |    COUNT(*) AS n_obs,
      |    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS vc
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, MIN(cell) AS lo, MAX(cell) AS hi FROM obs GROUP BY 1
      |), grid AS (
      |  SELECT event_type, unnest(range(lo, hi + 1)) AS cell FROM span
      |)
      |SELECT g.event_type, g.cell,
      |  make_timestamp(g.cell * 3600000000) AS cell_ts,
      |  CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
      |  CAST(o.vc AS DOUBLE) / 100 AS val_sum,
      |  CAST(last_value(o.vc IGNORE NULLS) OVER (
      |      PARTITION BY g.event_type ORDER BY g.cell
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
      |    AS val_ffill,
      |  o.n_obs IS NULL AS is_gap
      |FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.cell = o.cell
      |ORDER BY g.event_type, g.cell""".stripMargin

  /** Bloom-filter semi-join ([[Bloom]]): build the filter from urgent
    * orders, probe every distinct lineitem order key, and report the
    * membership census. The md5-portable hashing means the oracle
    * reproduces the EXACT filter — the false-positive count is
    * deterministic replication, not a tolerance band — and the
    * impossible-false-negatives invariant rides along as a boolean.
    * The word table is ≤ m/32 rows regardless of build-side
    * cardinality — broadcastable by construction; the probe side never
    * shuffles. That is the runtime-filter story at 100 TB: a saturated
    * filter degrades recall of the PRE-filter, never correctness.
    */
  def q67BloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val m = 1 << 20
    val k = 4
    val urgent = t(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("key"))
    val bloom = Bloom.build(urgent, "key", m, k)
    val probed = Bloom.probe(
      t(s, dir, "lineitem").select(col("l_orderkey").as("key")).distinct(),
      "key", bloom, m, k)
    probed
      .join(urgent.withColumnRenamed("key", "__bk"),
        col("key") === col("__bk"), "left")
      .withColumn("actual", col("__bk").isNotNull)
      .agg(
        count(lit(1)).as("n_probe"),
        count(when(col("actual"), 1)).as("n_actual"),
        count(when(col("maybe_member"), 1)).as("n_maybe"),
        count(when(col("maybe_member") && !col("actual"), 1)).as("n_false_pos"),
        (count(when(col("actual") && !col("maybe_member"), 1)) === 0)
          .as("no_false_negatives"))
      .withColumn("fp_rate", col("n_false_pos").cast("double")
        / (col("n_probe") - col("n_actual")).cast("double"))
  }

  val q67Sql: String =
    """WITH bkeys AS (
      |  SELECT o_orderkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
      |), bits AS (
      |  SELECT pos // 32 AS word_idx,
      |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
      |  FROM (
      |    SELECT CAST('0x' || substr(md5(i || ':' || key), 1, 15) AS BIGINT) % 1048576 AS pos
      |    FROM bkeys, unnest([0, 1, 2, 3]) t(i))
      |  GROUP BY 1
      |), probe AS (
      |  SELECT DISTINCT l_orderkey AS key FROM lineitem
      |), ph AS (
      |  SELECT key,
      |    CAST('0x' || substr(md5(i || ':' || key), 1, 15) AS BIGINT) % 1048576 AS pos
      |  FROM probe, unnest([0, 1, 2, 3]) t(i)
      |), hits AS (
      |  SELECT ph.key,
      |    bool_and(COALESCE(
      |      (b.word & (CAST(1 AS BIGINT) << CAST(ph.pos % 32 AS INTEGER))) != 0,
      |      FALSE)) AS maybe
      |  FROM ph LEFT JOIN bits b ON ph.pos // 32 = b.word_idx
      |  GROUP BY ph.key
      |), truth AS (
      |  SELECT h.key, h.maybe, (o.key IS NOT NULL) AS actual
      |  FROM hits h LEFT JOIN bkeys o ON h.key = o.key
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
      |  CAST(COUNT(CASE WHEN actual THEN 1 END) AS BIGINT) AS n_actual,
      |  CAST(COUNT(CASE WHEN maybe THEN 1 END) AS BIGINT) AS n_maybe,
      |  CAST(COUNT(CASE WHEN maybe AND NOT actual THEN 1 END) AS BIGINT) AS n_false_pos,
      |  COUNT(CASE WHEN actual AND NOT maybe THEN 1 END) = 0 AS no_false_negatives,
      |  CAST(COUNT(CASE WHEN maybe AND NOT actual THEN 1 END) AS DOUBLE)
      |    / CAST(COUNT(*) - COUNT(CASE WHEN actual THEN 1 END) AS DOUBLE) AS fp_rate
      |FROM truth""".stripMargin

  /** Exact Pearson correlation / covariance per group — q45's exact-
    * moment pattern extended to CROSS moments: per-row integer cents
    * products (each fits a long), decimal(38,0) accumulators (the
    * price-squared sum is ~7e18 at sf0.1 — past both long range and
    * a double's 2^53 exact-integer range), and the classic
    * n·Sxy − Sx·Sy closed form evaluated exactly in 38-digit integer
    * arithmetic before ONE correctly-rounded conversion to double.
    *
    * Oracle subtlety (measured, rounds 1-3): DuckDB's HUGEINT→DOUBLE
    * cast is NOT correctly rounded (~1.4% of random >2^53 values are
    * 1 ulp off; fuzzed 3000 values), while Spark's Decimal→double goes
    * through BigDecimal.doubleValue which IS. The oracle therefore
    * splits each exact integer as hi·2^36 + lo — both parts convert
    * exactly, the one addition rounds once — making the SQL side
    * correctly rounded too. Spark's plain decimal cast needs no split.
    */
  def q68Correlation(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val xq = cents(col("l_quantity"))
    val yc = cents(col("l_extendedprice"))
    val d = (c: Column) => c.cast(dec)
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), xq.as("__x"), yc.as("__y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("__x"))).as("__sx"), sum(d(col("__y"))).as("__sy"),
        sum(d(col("__x") * col("__x"))).as("__sxx"),
        sum(d(col("__y") * col("__y"))).as("__syy"),
        sum(d(col("__x") * col("__y"))).as("__sxy"))
      .withColumn("__a", d(col("n")) * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__b", d(col("n")) * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__c", d(col("n")) * col("__syy") - col("__sy") * col("__sy"))
      .select(col("l_returnflag"), col("n"),
        (col("__sx").cast("double") / 100 / col("n")).as("mean_qty"),
        (col("__sy").cast("double") / 100 / col("n")).as("mean_price"),
        // cents² scaling cancels in r; cov is rescaled to dollar² units
        (col("__a").cast("double") / 10000 / col("n") / col("n")).as("cov_pop"),
        (col("__a").cast("double")
          / (sqrt(col("__b").cast("double")) * sqrt(col("__c").cast("double"))))
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val q68Sql: String = {
    // correctly-rounded HUGEINT→DOUBLE: exact hi·2^36 + lo split (see q68 scaladoc)
    def dbl(v: String): String =
      s"(CASE WHEN $v < 0 THEN -1.0 ELSE 1.0 END * " +
        s"(CAST(ABS($v) // 68719476736 AS DOUBLE) * 68719476736 + " +
        s"CAST(ABS($v) % 68719476736 AS DOUBLE)))"
    s"""WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
      |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
      |    SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
      |      * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
      |    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
      |      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
      |    SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
      |      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
      |  FROM lineitem GROUP BY l_returnflag
      |), f AS (
      |  SELECT l_returnflag, n, sx, sy,
      |    n * sxy - sx * sy AS a,
      |    n * sxx - sx * sx AS b,
      |    n * syy - sy * sy AS c
      |  FROM m
      |)
      |SELECT l_returnflag, n,
      |  ${dbl("sx")} / 100 / n AS mean_qty,
      |  ${dbl("sy")} / 100 / n AS mean_price,
      |  ${dbl("a")} / 10000 / n / n AS cov_pop,
      |  ${dbl("a")} / (SQRT(${dbl("b")}) * SQRT(${dbl("c")})) AS corr_qty_price
      |FROM f ORDER BY l_returnflag""".stripMargin
  }

  /** Sliding (hopping) event-time windows — q51's tumbling `window()`
    * with a slide shorter than the width, so every event lands in
    * width/slide windows. Spark's Generate expands the window set per
    * row (narrow), then one keyed aggregate; the oracle mirrors the
    * expansion arithmetic directly.
    */
  def q69SlidingWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("val_sum"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("val_sum"))
      .orderBy(col("w_start"), col("event_type"))

  val q69Sql: String =
    """SELECT make_timestamp((epoch_ns(ts) // 3600000000000 - i) * 3600000000)
      |    AS w_start,
      |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS val_sum
      |FROM events, unnest([0, 1]) t(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Decile bucketing (`ntile`) — the quantile-assignment window the
    * SQL standard defines by row counts, so it is exactly portable
    * given a total tie-break order. Output is the per-decile summary
    * (count + exact bounds + exact sum), the shape a feature-binning
    * pipeline materializes.
    *
    * SCALE-SAFE plan (r8): a literal `ntile(10) over (partition by
    * o_orderpriority ...)` funnels the whole table through 5 window
    * partitions — 5 single-task sorts each holding ~20% of a 100 TB
    * table. ntile's row-split semantics only need each row's exact RANK
    * within its priority, and global rank distributes (the TeraSort
    * shape):
    *  1. rows bucket into ORDER-ALIGNED chunks by a min/max-scaled
    *     VALUE bucket of the leading sort key (every row in chunk c
    *     sorts before every row in chunk c+1; ties share a chunk) —
    *     a pure row function, so every consumer computes the same
    *     chunk id by construction (r10: the previous
    *     `spark_partition_id()` over a sampled `repartitionByRange`
    *     could disagree between the two consumers whenever AQE planned
    *     them as separate exchanges — exchange reuse is an
    *     optimization, not a guarantee — and the (pid, key) join then
    *     silently dropped rows; q106 surfaced the class at sf0.1);
    *  2. a window per (chunk, priority) computes LOCAL row numbers —
    *     ≈ n/P rows per sort task, never n/5;
    *  3. per-(chunk, priority) row counts (= max local rank, reusing
    *     the window's partitioning — no extra exchange) prefix-sum into
    *     chunk OFFSETS on a P×5-row side table, whose own windows are
    *     trivially small;
    *  4. offsets broadcast back: global rank = offset + local rank, and
    *     ntile's exact split — the first n%10 tiles get ⌈n/10⌉ rows,
    *     the rest ⌊n/10⌋, assigned in rank order — becomes integer
    *     arithmetic on (rank, n). Bit-parity with DuckDB's ntile
    *     (oracle-checked), including the tie-break by o_orderkey which
    *     rides the chunk bucket.
    * The o_orderpriority-only windows that remain run over the P×5
    * chunk-count table, not the corpus — PlanAuditSpec pins
    * corpus-side windows to the (chunk, priority) partitioning.
    */
  def q70Ntile(s: SparkSession, dir: String): DataFrame = {
    val nChunks = s.conf.get("spark.sql.shuffle.partitions").toInt
    // VALUE-DERIVED chunk id (r10; the q106 fix class): the ranked rows
    // and the offset table are two consumers of the chunked frame, and
    // a spark_partition_id() over a sampled repartitionByRange can
    // disagree between them whenever AQE plans the consumers as
    // separate exchanges (reuse is an optimization, not a guarantee) —
    // the (pid, key) join then silently drops rows. A min/max-scaled
    // bucket of the leading sort key is a pure row function (identical
    // on every consumer by construction), monotone in the sort order
    // (chunks stay contiguous, ties share a bucket), and costs one
    // bounded 1-row aggregate for the bounds.
    val base = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    val b = base.agg(
      min(cents).as("mn"), max(cents).as("mx")).head()
    // empty / all-null input: degrade to a single chunk rather than NPE
    // at plan-build time (the Skyline.scala guard pattern)
    val (mn, mx) =
      if (b.isNullAt(0)) (0L, 0L) else (b.getLong(0), b.getLong(1))
    val span = math.max(1L, mx - mn + 1L)
    // IEEE double floor is deterministic, monotone in cents, and ANY
    // chunking yields the identical final ranks — only determinism and
    // monotonicity matter here
    val chunked = base.withColumn("__chunk",
      least(lit(nChunks - 1L),
        floor((cents - lit(mn)) * lit(nChunks.toLong) / lit(span))
          .cast("long")))
    val wLocal = Window.partitionBy(col("__chunk"), col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val ranked = chunked
      .withColumn("__lr", row_number().over(wLocal).cast("long"))
    val chunkCounts = ranked
      .groupBy(col("__chunk"), col("o_orderpriority"))
      .agg(max(col("__lr")).as("__c"))
    val wOff = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("__chunk"))
    val offs = chunkCounts
      .withColumn("__off", sum(col("__c")).over(wOff) - col("__c"))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col("o_orderpriority"))))
      .select(col("__chunk"), col("o_orderpriority"), col("__off"),
        col("__n"))
    // ntile(10) from (rank, n): tile size b = n DIV 10, the first
    // rem = n % 10 tiles take one extra row. All-long integer DIV —
    // exact at any scale.
    val decile = expr(
      """CASE WHEN __r <= (__n % 10) * ((__n DIV 10) + 1)
        |  THEN (__r - 1) DIV ((__n DIV 10) + 1) + 1
        |  ELSE (__n % 10)
        |    + (__r - (__n % 10) * ((__n DIV 10) + 1) - 1) DIV (__n DIV 10)
        |    + 1 END""".stripMargin)
    ranked.join(broadcast(offs), Seq("__chunk", "o_orderpriority"))
      .withColumn("__r", col("__off") + col("__lr"))
      // LONG to match DuckDB's BIGINT ntile (file-header determinism rule)
      .withColumn("decile", decile.cast("long"))
      .groupBy(col("o_orderpriority"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        moneySum(col("o_totalprice")).as("price_sum"))
      .orderBy(col("o_orderpriority"), col("decile"))
  }

  val q70Sql: String =
    """SELECT o_orderpriority, decile, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS price_sum
      |FROM (
      |  SELECT o_orderpriority, o_totalprice,
      |    ntile(10) OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Fixed-size per-stratum sampling ([[Sampling.stratumTopK]]): exactly
    * 20 documents per source, ranked by the portable md5-60 uniform —
    * the "k examples from every source" sampler whose EXACT kept set and
    * ranks the oracle reproduces (reservoir sampling can't be
    * cross-engine-checked; this can, and is also reproducible under any
    * partitioning). WindowGroupLimit keeps per-stratum sort state O(k).
    */
  def q71StratumSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratumTopK(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", k = 20, seed = 7L)
      .orderBy(col("source"), col("sample_rank"))

  val q71Sql: String =
    """SELECT doc_id, source, sample_rank FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY CAST('0x' || substr(md5(7 || ':' || doc_id), 1, 15) AS BIGINT),
      |        doc_id) AS BIGINT) AS sample_rank
      |  FROM documents)
      |WHERE sample_rank <= 20
      |ORDER BY source, sample_rank""".stripMargin

  /** Moving 24-hour aggregate via a RANGE window frame over hourly
    * cells — the time-based frame (`RANGE 23 PRECEDING`) rather than
    * q18's row-based running frame, so missing hours shrink the frame
    * instead of silently widening it to 24 observed rows. Exact cents
    * keep the sliding sum bit-stable under any evaluation order.
    */
  def q72MovingWindow(s: SparkSession, dir: String): DataFrame = {
    val stepNs = 3600L * 1000 * 1000 * 1000
    val obs = events(s, dir)
      .select(col("event_type"), Resample.cell("ts_ns", stepNs).as("cell"),
        col("value"))
      .groupBy(col("event_type"), col("cell"))
      .agg(count(lit(1)).as("n_obs"), sum(cents(col("value"))).as("__vc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cell"))
      .rangeBetween(-23, Window.currentRow)
    obs.select(col("event_type"), col("cell"),
        (col("__vc").cast("double") / 100).as("val_sum"),
        (sum(col("__vc")).over(w).cast("double") / 100).as("mov24_sum"),
        sum(col("n_obs")).over(w).as("mov24_n"))
      .orderBy(col("event_type"), col("cell"))
  }

  val q72Sql: String =
    """WITH obs AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS cell,
      |    COUNT(*) AS n_obs,
      |    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS vc
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type, cell,
      |  CAST(vc AS DOUBLE) / 100 AS val_sum,
      |  CAST(SUM(vc) OVER w AS DOUBLE) / 100 AS mov24_sum,
      |  CAST(SUM(n_obs) OVER w AS BIGINT) AS mov24_n
      |FROM obs
      |WINDOW w AS (PARTITION BY event_type ORDER BY cell
      |  RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, cell""".stripMargin

  /** Set operations INTERSECT / EXCEPT (distinct semantics) — which
    * customers ordered urgently in both halves of the data's date range,
    * or only in the first. Spark rewrites both to joins (semi/anti over
    * distinct), mirroring how they'd be spelled by hand; tagged rows
    * union into one oracle-checked output.
    */
  def q73SetOps(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
    val early = orders.where(year(col("o_orderdate")) <= 1997)
      .select(col("o_custkey").as("custkey"))
    val late = orders.where(year(col("o_orderdate")) >= 1998)
      .select(col("o_custkey").as("custkey"))
    early.intersect(late).withColumn("tag", lit("both"))
      .unionAll(early.except(late).withColumn("tag", lit("early_only")))
      .orderBy(col("custkey"), col("tag"))
  }

  val q73Sql: String =
    """WITH early AS (
      |  SELECT o_custkey AS custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) <= 1997
      |), late AS (
      |  SELECT o_custkey AS custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) >= 1998
      |)
      |SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM early INTERSECT SELECT custkey FROM late)
      |UNION ALL
      |SELECT custkey, 'early_only' AS tag FROM (SELECT custkey FROM early EXCEPT SELECT custkey FROM late)
      |ORDER BY custkey, tag""".stripMargin

  /** Levenshtein edit distance as a near-dup verification kernel —
    * the character-level counterpart to q27's token-level Jaccard.
    * Each doc's 80-char prefix is compared to its successor's
    * (`lead` window): the O(len²) DP is the reason character-level
    * verify runs on short prefixes/candidate pairs only, never
    * all-pairs — exactly how this kernel slots in after LSH blocking.
    * Both engines implement the textbook unit-cost DP, so the distances
    * are exactly portable. Pairing is per-source (`lead` inside a
    * PARTITIONED window — a global-order window would serialize onto
    * one task at scale, the q48 lesson from round 1).
    */
  def q74EditDistance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), substring(col("text"), 1, 80).as("__p"))
      .withColumn("__np", lead(col("__p"), 1).over(w))
      .withColumn("__nid", lead(col("doc_id"), 1).over(w))
      .where(col("__np").isNotNull)
      .select(col("doc_id"), col("source"), col("__nid").as("next_doc_id"),
        levenshtein(col("__p"), col("__np")).cast("long").as("edit_dist"),
        (lit(1.0) - levenshtein(col("__p"), col("__np")).cast("double")
          / greatest(length(col("__p")), length(col("__np"))).cast("double"))
          .as("prefix_sim"))
      .orderBy(col("doc_id"))
  }

  val q74Sql: String =
    """WITH p AS (
      |  SELECT doc_id, source, substr(text, 1, 80) AS pre,
      |    lead(substr(text, 1, 80)) OVER (PARTITION BY source ORDER BY doc_id) AS npre,
      |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nid
      |  FROM documents
      |)
      |SELECT doc_id, source, nid AS next_doc_id,
      |  CAST(levenshtein(pre, npre) AS BIGINT) AS edit_dist,
      |  1.0 - CAST(levenshtein(pre, npre) AS DOUBLE)
      |    / CAST(GREATEST(len(pre), len(npre)) AS DOUBLE) AS prefix_sim
      |FROM p WHERE npre IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** Incremental aggregate maintenance ([[Incremental.merge]]): the
    * per-priority order aggregate is maintained from a base batch
    * (≤ 1999) merged with a late delta batch (≥ 2000) — only partial
    * states meet, the base is never rescanned. The oracle is the full
    * recompute over the whole table: incremental maintenance is correct
    * exactly when the merge is indistinguishable from it (exact cents
    * make the equality bit-level; min/max merge losslessly).
    */
  def q75IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("__pc"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    val base = partial(orders.where(year(col("o_orderdate")) <= 1999))
    val delta = partial(orders.where(year(col("o_orderdate")) >= 2000))
    Incremental.merge(base, delta, Seq("o_orderpriority"), Seq(
        "n" -> (sum(_)), "__pc" -> (sum(_)),
        "min_price" -> (min(_)), "max_price" -> (max(_))))
      .select(col("o_orderpriority"), col("n"),
        (col("__pc").cast("double") / 100).as("price_sum"),
        col("min_price"), col("max_price"),
        (col("__pc").cast("double") / 100 / col("n")).as("avg_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q75Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    AS price_sum,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
      |    / COUNT(*) AS avg_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Ordered funnel ([[Funnel.firstCompletion]]): per user, the greedy
    * earliest view → click → purchase chain with strict inter-step
    * ordering. Anchors are µs epochs (BIGINT on both engines): DuckDB's
    * parquet reader truncates the ns file to µs TIMESTAMP, so the chain
    * must be built at µs precision on BOTH sides or strict inter-step
    * comparisons could disagree on ns-adjacent events; the oracle
    * rebuilds the chain with correlated min-joins.
    */
  def q76Funnel(s: SparkSession, dir: String): DataFrame =
    Funnel.firstCompletion(
      events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
      "user_id", "ts_us", Seq(
        col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase"))
      .orderBy(col("user_id"))

  val q76Sql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS step_1_ts FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS step_2_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.step_1_ts
      |  GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS step_3_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.step_2_ts
      |  GROUP BY 1
      |)
      |SELECT v.user_id, v.step_1_ts, c.step_2_ts, p.step_3_ts,
      |  CAST(CASE WHEN c.step_2_ts IS NULL THEN 1
      |    WHEN p.step_3_ts IS NULL THEN 2 ELSE 3 END AS BIGINT)
      |    AS steps_completed,
      |  p.step_3_ts IS NOT NULL AS completed
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |  LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Winnowing passage-overlap detection ([[TextDedup.winnowFingerprints]],
    * MOSS / Schleimer et al. SIGMOD 2003): k-gram hashes → per-doc
    * sliding-window minima → distinct fingerprints → pairs sharing ≥ 5
    * after dropping corpus-common fingerprints. The substring-overlap
    * dedup class MinHash (whole-doc resemblance) and SimHash (token
    * multiset) cannot express — it localizes copied passages. Portable
    * md5-60 hashing makes the ENTIRE fingerprint selection
    * deterministic, so the oracle re-derives every pair and containment
    * fraction independently.
    */
  def q77Winnow(s: SparkSession, dir: String): DataFrame =
    TextDedup.winnowPairs(
        TextDedup.winnowFingerprints(t(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 8),
        "doc_id", minShared = 5, maxDocFreq = 10)
      .orderBy(col("id_a"), col("id_b"))

  val q77Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
      |    SELECT doc_id, unnest(
      |      CASE WHEN len(t) < 5 THEN [{'pos': 1, 'gram': array_to_string(t, ' ')}]
      |        ELSE list_transform(range(1, len(t) - 3), i -> {'pos': i,
      |          'gram': t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]})
      |      END) AS u
      |    FROM toks)
      |), h AS (
      |  SELECT doc_id, pos,
      |    CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS hv
      |  FROM g
      |), wm AS (
      |  SELECT doc_id, MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      |  FROM h
      |), fps AS (
      |  SELECT DISTINCT doc_id, fp FROM wm
      |), rare AS (
      |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 10
      |), kept AS (
      |  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY 1
      |), pairs AS (
      |  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS shared
      |  FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5
      |)
      |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
      |  CAST(shared AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
      |FROM pairs JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |ORDER BY id_a, id_b""".stripMargin

  /** Per-document keyword extraction ([[Retrieval.tfidfKeywords]]):
    * top-3 tokens by rational tf-idf `tf·(N−df+1)/df` — the corpus
    * labeling / cluster-naming primitive next to q56's retrieval.
    * Log-free scoring (q56's rationalIdf argument) keeps every score
    * one correctly-rounded double division over exact integers, so the
    * oracle recomputes the full ranking independently. Ranking matches
    * log tf-idf at fixed tf; across different tf values the rational
    * form over-weights rare terms (see [[Retrieval.tfidfKeywords]]) —
    * the portable-determinism trade documented there.
    */
  def q78Keywords(s: SparkSession, dir: String): DataFrame =
    Retrieval.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  val q78Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, tok AS token, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(t) AS tok FROM toks) u
      |  GROUP BY 1, 2
      |), df AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n FROM toks
      |), scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    CAST(tf.tf * (n.n - df.df + 1) AS DOUBLE) / CAST(df.df AS DOUBLE)
      |      AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, token, tf, df, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token)
      |      AS rank
      |  FROM scored
      |)
      |SELECT doc_id, rank, token, tf, df, score FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Z-order layout clustering ([[Layout.zClusterStats]]): customers
    * keyed by (nation, account-balance band) are Morton-interleaved and
    * cut into 16 equal z-ranges ("files"); the report shows each
    * range's span on BOTH dimensions — the file-skipping evidence a
    * z-clustered 100 TB table stands on. Pure integer bit algebra; the
    * oracle evaluates the SAME unrolled shift/mask expression
    * ([[Layout.zValueSql]]). The balance band `floor((bal+1000)/64)`
    * divides by a power of two — exact in IEEE doubles.
    */
  def q79ZOrder(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_nationkey").cast("long").as("nat"),
      least(greatest(floor((col("c_acctbal") + 1000) / 64).cast("long"),
        lit(0L)), lit(255L)).as("bal"))
    graft.operators.Layout.zClusterStats(c, "nat", "bal",
      bits = 8, logBuckets = 4)
  }

  val q79Sql: String = {
    val z = graft.operators.Layout.zValueSql("nat", "bal", 8)
    s"""WITH c AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
       |    LEAST(GREATEST(CAST(FLOOR((c_acctbal + 1000) / 64) AS BIGINT), 0),
       |      255) AS bal
       |  FROM customer
       |), z AS (
       |  SELECT nat, bal, ($z) AS zv FROM c
       |)
       |SELECT (zv >> 12) AS bucket, COUNT(*) AS n,
       |  MIN(zv) AS z_min, MAX(zv) AS z_max,
       |  MIN(nat) AS a_min, MAX(nat) AS a_max,
       |  MIN(bal) AS b_min, MAX(bal) AS b_max
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Key-skew diagnostic ([[Skew.skewReport]]): the 20 heaviest event
    * users with exact ppm share and ×1000 skew factor vs the mean key —
    * the report you read before choosing q63's salt bucket count. All
    * integer division; bit-portable by construction.
    */
  def q80SkewReport(s: SparkSession, dir: String): DataFrame =
    Skew.skewReport(events(s, dir), "user_id", topK = 20)

  val q80Sql: String =
    """WITH k AS (
      |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM k
      |)
      |SELECT user_id, n,
      |  (n * 1000000) // total AS share_ppm,
      |  (n * n_keys * 1000) // total AS skew_x1000
      |FROM k CROSS JOIN t
      |ORDER BY n DESC, user_id LIMIT 20""".stripMargin

  /** Robust outlier screen ([[Robust.madSummary]]): per-event-type
    * median/MAD fences at 3×MAD — the 50%-breakdown complement to
    * q61's mean/stddev z-scores (outliers cannot move the fence that
    * hunts them). Exact sort-based medians (q38's interpolation, which
    * DuckDB's quantile_cont matches bit-for-bit), IEEE subtract/abs/
    * multiply only — no libm — so the oracle reproduces every verdict.
    */
  def q81MadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.madSummary(events(s, dir), "event_type",
      "value", k = 3.0)

  val q81Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS median
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), dev AS (
      |  SELECT e.event_type, ABS(e.value - m.median) AS dev, m.median
      |  FROM events e JOIN med m USING (event_type)
      |  WHERE e.value IS NOT NULL
      |), mad AS (
      |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |  FROM dev GROUP BY 1
      |)
      |SELECT d.event_type, COUNT(*) AS n,
      |  MIN(d.median) AS median, MIN(m.mad) AS mad,
      |  COUNT(CASE WHEN d.dev > 3.0 * m.mad THEN 1 END) AS n_outliers,
      |  MAX(d.dev) AS worst_dev
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cohort retention ([[Cohort.retention]]): users grouped by
    * first-activity date, retained-user counts at day offsets 1 and 7.
    * min-date cohorts + DISTINCT (user, day) + exact datediff — pure
    * integer/date semantics, nothing engine-divergent.
    */
  def q82Cohort(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cohort.retention(events(s, dir), "user_id", "ts",
      Seq(1, 7))

  val q82Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
      |), firsts AS (
      |  SELECT u, MIN(day) AS cohort_day FROM days GROUP BY 1
      |)
      |SELECT f.cohort_day,
      |  COUNT(CASE WHEN date_diff('day', f.cohort_day, d.day) = 0
      |    THEN 1 END) AS cohort_size,
      |  COUNT(CASE WHEN date_diff('day', f.cohort_day, d.day) = 1
      |    THEN 1 END) AS d1,
      |  COUNT(CASE WHEN date_diff('day', f.cohort_day, d.day) = 7
      |    THEN 1 END) AS d7
      |FROM days d JOIN firsts f USING (u)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental snapshot dedup ([[TextDedup.incrementalExact]]): a
    * synthetic "today's crawl" — re-crawled exact copies (+10000),
    * genuinely fresh docs (+20000), and within-batch duplicates of the
    * fresh docs (+30000) — deduped against the existing corpus through
    * a Bloom pre-filter + exact anti-join. Survivors must be exactly
    * the +20000 fresh set: the oracle is the PLAIN anti-join + window
    * (Bloom must be result-invisible, q63's salting argument), so any
    * false negative in the filter fails the gate.
    */
  def q83IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val batch = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
      .unionByName(docs.where(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
    TextDedup.incrementalExact(batch, docs, "text",
        Seq(col("doc_id").asc), mBits = 4096, k = 4)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val q83Sql: String =
    """WITH corpus_fp AS (
      |  SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |  FROM documents
      |), batch AS (
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000, 'fresh ' || text FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT doc_id + 30000, 'fresh ' || text FROM documents WHERE doc_id % 10 = 1
      |), bfp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |  FROM batch
      |), fresh AS (
      |  SELECT b.doc_id, b.fp FROM bfp b LEFT JOIN corpus_fp c USING (fp)
      |  WHERE c.fp IS NULL
      |)
      |SELECT doc_id FROM (
      |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM fresh) f
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Winsorized statistics ([[Robust.winsorizedStats]]): per-event-type
    * p05/p95 clipping, exact fences (q38 interpolation), exact cents
    * mean of the clipped values — tail-robust summaries that keep every
    * row. Completes the robust-stats pair with q81's MAD screen.
    */
  def q84Winsorized(s: SparkSession, dir: String): DataFrame =
    graft.operators.Robust.winsorizedStats(events(s, dir), "event_type",
      "value", pLo = 0.05, pHi = 0.95)

  val q84Sql: String =
    """WITH fences AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.05) AS fence_lo,
      |    quantile_cont(value, 0.95) AS fence_hi
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), clipped AS (
      |  SELECT e.event_type,
      |    LEAST(GREATEST(e.value, f.fence_lo), f.fence_hi) AS clip,
      |    e.value, f.fence_lo, f.fence_hi
      |  FROM events e JOIN fences f USING (event_type)
      |  WHERE e.value IS NOT NULL
      |)
      |SELECT event_type, COUNT(*) AS n,
      |  MIN(fence_lo) AS fence_lo, MIN(fence_hi) AS fence_hi,
      |  CAST(SUM(CAST(FLOOR(clip * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100 / COUNT(*) AS clipped_mean,
      |  COUNT(CASE WHEN clip <> value THEN 1 END) AS n_clipped
      |FROM clipped GROUP BY 1 ORDER BY 1""".stripMargin

  /** Table-stats profiling ([[Profile.columnStats]]): the ANALYZE
    * analog — per (partition-group, column): counts, nulls, exact NDV,
    * min/max, exact quartiles. The mergeable-HLL NDV runs beside the
    * exact one and is gated as an error-band boolean (q40's pattern:
    * the sketch value itself is not engine-portable; its accuracy
    * claim is). Group-keyed throughout, so profiling parallelizes with
    * the table.
    */
  def q85TableProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.columnStats(t(s, dir, "lineitem"),
        "l_returnflag", Seq("l_discount", "l_quantity"))
      .withColumn("ndv_ok",
        abs(col("ndv_approx") - col("ndv_exact")).cast("double") /
          col("ndv_exact").cast("double") <= lit(0.1))
      .drop("ndv_approx")
      .withColumnRenamed("column", "col_name")
      .orderBy(col("l_returnflag"), col("col_name"))

  val q85Sql: String = {
    def one(c: String) =
      s"""SELECT l_returnflag, '$c' AS col_name, COUNT(*) AS n,
         |  COUNT(CASE WHEN $c IS NULL THEN 1 END) AS n_null,
         |  COUNT(DISTINCT $c) AS ndv_exact,
         |  CAST(MIN($c) AS DOUBLE) AS min, CAST(MAX($c) AS DOUBLE) AS max,
         |  quantile_cont($c, 0.25) AS p25, quantile_cont($c, 0.5) AS p50,
         |  quantile_cont($c, 0.75) AS p75,
         |  TRUE AS ndv_ok
         |FROM lineitem GROUP BY 1""".stripMargin
    s"""${one("l_discount")}
       |UNION ALL
       |${one("l_quantity")}
       |ORDER BY l_returnflag, col_name""".stripMargin
  }

  /** Trailing 7-day active users ([[Cohort.trailingActive]]):
    * count(DISTINCT) does not decompose over window frames, so the
    * operator explodes each activity day to the `w` report days it
    * feeds (bounded 1→7 generator, all equi-joins) instead of a
    * nested-loop range join. Exact integers end to end.
    */
  def q86ActiveUsers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cohort.trailingActive(events(s, dir), "user_id",
      "ts", windowDays = 7)

  val q86Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
      |), grid AS (
      |  SELECT DISTINCT day FROM days
      |), expanded AS (
      |  SELECT u, day + CAST(o.k AS INTEGER) AS rday
      |  FROM days CROSS JOIN (SELECT unnest(range(0, 7)) AS k) o
      |)
      |SELECT g.day, COUNT(DISTINCT e.u) AS active_users
      |FROM expanded e JOIN grid g ON e.rday = g.day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Audio codec oracle ([[graft.operators.Multimodal.MediaCodec]]):
    * synthesize a REAL mono 16-bit PCM WAV per customer — sample j of
    * asset id is `(id·31 + j·17) mod 2001 − 1000`, a pure integer
    * closed form — then run the genuine byte-level decode
    * ([[graft.operators.Multimodal.audioStats]]: RIFF walk, fmt/data
    * chunk parse, sign-extended sample loop). The oracle recomputes
    * n/peak/sum-of-squares from the SAME closed form without touching
    * bytes, so a bug in EITHER the encoder or the decoder (or a
    * mismatch between them) breaks the hash. This closes the r3 gap
    * "no oracle-checked query over a real binary column".
    */
  def q87AudioCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val recs = t(s, dir, "customer")
      .select(col("c_custkey").cast("long")).as[Long]
      .map { id =>
        val n = (40 + id % 60).toInt
        val samples = Array.tabulate(n)(j =>
          ((id * 31 + j * 17) % 2001 - 1000).toShort)
        Multimodal.MediaRecord(id, "audio",
          Multimodal.MediaCodec.wavEncode(8000, samples), "audio/wav",
          "synth")
      }
    Multimodal.audioStats(recs).orderBy(col("media_id"))
  }

  val q87Sql: String =
    """WITH base AS (
      |  SELECT c_custkey AS id, 40 + c_custkey % 60 AS n FROM customer
      |), expl AS (
      |  SELECT id, n, unnest(range(n)) AS j FROM base
      |), s AS (
      |  SELECT id, n, (id*31 + j*17) % 2001 - 1000 AS v FROM expl
      |)
      |SELECT id AS media_id, CAST(MIN(n) AS BIGINT) AS n_samples,
      |  CAST(MAX(ABS(v)) AS INTEGER) AS peak_abs,
      |  CAST(SUM(v*v) AS BIGINT) AS sum_sq
      |FROM s GROUP BY id ORDER BY media_id""".stripMargin

  /** Image codec oracle — q87's pixel counterpart: synthesize a REAL
    * 24-bit BMP per nation (pixel (x,y) channels are integer closed
    * forms of (id, x, y)), run the genuine decode
    * ([[graft.operators.Multimodal.imageStats]]: header validation,
    * bottom-up row order, BGR byte walk, per-mille luminance), and have
    * the oracle recompute the channel sums and luminance extremes from
    * the same closed forms — byte-free. Encoder and decoder are
    * independently written against the spec, so agreement here is
    * evidence of both.
    */
  def q91ImageCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val recs = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long")).as[Long]
      .map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val bytes = Multimodal.MediaCodec.bmpEncode(w, h, (x, y) => {
          val r = ((id + x * 7 + y * 13) % 256).toInt
          val g = ((id * 3 + x * 5 + y * 11) % 256).toInt
          val b = ((id * 7 + x * 3 + y * 17) % 256).toInt
          (r << 16) | (g << 8) | b
        })
        Multimodal.MediaRecord(id, "image", bytes, "image/bmp", "synth")
      }
    Multimodal.imageStats(recs).orderBy(col("media_id"))
  }

  val q91Sql: String =
    """WITH base AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS id,
      |    4 + n_nationkey % 5 AS w, 3 + n_nationkey % 4 AS h
      |  FROM nation
      |), xs AS (
      |  SELECT id, h, unnest(range(w)) AS x FROM base
      |), px AS (
      |  SELECT id, x, unnest(range(h)) AS y FROM xs
      |), c AS (
      |  SELECT id, (id + x*7 + y*13) % 256 AS r,
      |    (id*3 + x*5 + y*11) % 256 AS g,
      |    (id*7 + x*3 + y*17) % 256 AS b
      |  FROM px
      |)
      |SELECT id AS media_id, CAST(COUNT(*) AS BIGINT) AS n_pixels,
      |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
      |  CAST(SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(299*r + 587*g + 114*b) AS INTEGER) AS lum_min,
      |  CAST(MAX(299*r + 587*g + 114*b) AS INTEGER) AS lum_max
      |FROM c GROUP BY id ORDER BY media_id""".stripMargin

  /** JPEG codec round-trip, oracle-checked — the q87/q91 pattern
    * applied to the last retired media stub ([[graft.operators
    * .JpegCodec]]). JPEG is lossy, which normally rules out a
    * closed-form oracle; DC-only streams restore exactness: with
    * q00 = 8, every decoded sample of a block is EXACTLY
    * `dc + 128` (see the decoder's determinism contract), and the
    * fixed-point YCbCr→RGB conversion is integer-reproducible in SQL
    * (`x >> 16` = FLOOR(x/65536), clamp via LEAST/GREATEST). So the
    * REAL entropy decoder — marker walk, canonical Huffman, DC
    * prediction, dequant, IDCT, color convert — runs end to end and
    * DuckDB predicts each of the 25 images' pixel statistics without
    * touching a byte. Any disagreement between encoder and decoder (or
    * either and the spec) breaks the hash. Dimensions stay multiples
    * of 8 so the oracle sums whole blocks; the crop path is covered by
    * JpegCodecSpec instead.
    */
  def q92JpegCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{JpegCodec, Multimodal}
    val recs = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long")).as[Long]
      .map { id =>
        val bytes = JpegCodec.encodeDcOnly(24, 16, 3,
          (bx, by, c) =>
            ((id * 7 + bx * 13 + by * 29 + c * 41) % 251 - 125).toInt)
        Multimodal.MediaRecord(id, "image", bytes, "image/jpeg", "synth")
      }
    Multimodal.imageStats(recs).orderBy(col("media_id"))
  }

  val q92Sql: String =
    """WITH base AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
      |), xs AS (
      |  SELECT id, unnest(range(3)) AS bx FROM base
      |), bl AS (
      |  SELECT id, bx, unnest(range(2)) AS by FROM xs
      |), c AS (
      |  SELECT id,
      |    (id*7 + bx*13 + by*29) % 251 - 125 + 128 AS yv,
      |    (id*7 + bx*13 + by*29 + 41) % 251 - 125 AS cb,
      |    (id*7 + bx*13 + by*29 + 82) % 251 - 125 AS cr
      |  FROM bl
      |), rgb AS (
      |  SELECT id,
      |    LEAST(GREATEST(yv + CAST(FLOOR((91881*cr + 32768)/65536.0) AS BIGINT), 0), 255) AS r,
      |    LEAST(GREATEST(yv - CAST(FLOOR((22554*cb + 46802*cr + 32768)/65536.0) AS BIGINT), 0), 255) AS g,
      |    LEAST(GREATEST(yv + CAST(FLOOR((116130*cb + 32768)/65536.0) AS BIGINT), 0), 255) AS b
      |  FROM c
      |)
      |SELECT id AS media_id, CAST(384 AS BIGINT) AS n_pixels,
      |  CAST(64 * SUM(r) AS BIGINT) AS sum_r,
      |  CAST(64 * SUM(g) AS BIGINT) AS sum_g,
      |  CAST(64 * SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(299*r + 587*g + 114*b) AS INTEGER) AS lum_min,
      |  CAST(MAX(299*r + 587*g + 114*b) AS INTEGER) AS lum_max
      |FROM rgb GROUP BY id ORDER BY media_id""".stripMargin

  /** Skew-resilient salted JOIN ([[Skew.saltedJoin]]): events⋈type-dim
    * on `event_type` — 5 distinct values over the whole fact table, the
    * join-side analog of q63's aggregation skew. Each hot key spreads
    * over 8 (key, salt) reducers; the dim replicates ×8. Salting is
    * result-invisible by construction (every fact row matches exactly
    * the replica carrying its salt), so the oracle is the PLAIN join —
    * the same oracle pattern as q63/q83: the scale mechanism must not
    * change the answer. Money sums in exact cents (BIGINT) finished by
    * one double division.
    */
  def q88SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val dim = e.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("long"))
    graft.operators.Skew.saltedJoin(e, dim, Seq("event_type"),
        saltBuckets = 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value")) * col("type_weight")).as("__wc"))
      .select(col("event_type"), col("n"),
        (col("__wc").cast("double") / 100).as("weighted_value"))
      .orderBy(col("event_type"))
  }

  val q88Sql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type,
      |    CAST(LENGTH(event_type) AS BIGINT) AS w
      |  FROM events
      |)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) * d.w)
      |    AS DOUBLE) / 100 AS weighted_value
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bucketed ZERO-EXCHANGE join ([[graft.sources.Bucketing]]): both
    * sides written bucketed+sorted on the join key, then joined — the
    * planner sees compatible output partitioning and elides BOTH
    * exchanges (PlanAuditSpec asserts the join subtree is
    * Exchange-free). This is the storage-level shuffle answer at
    * 100 TB: pay the shuffle once at write time, never again per join.
    * The write itself happens inside the query so the oracle gate
    * covers the full path (write → catalog read → join); the oracle is
    * the PLAIN join of the same inputs — bucketing must be
    * result-invisible.
    */
  def q89BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Bucketing
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val ord = t(s, dir, "orders")
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    Bucketing.writeBucketed(cust, "g89_customer", "c_custkey", 8)
    Bucketing.writeBucketed(ord, "g89_orders", "c_custkey", 8)
    Bucketing.bucketedJoin(s, "g89_customer", "g89_orders", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  val q89Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 100 AS sum_price
      |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** STREAMING CDC upsert, oracle-checked ([[graft.streaming]] made
    * query-shaped): the events subset replays as three ordered
    * micro-batches through a parquet FILE SOURCE; `foreachBatch` merges
    * each batch into a parquet state table with the SAME batch LWW
    * merge the reference's `ON CONFLICT DO UPDATE` maps to
    * ([[Dedup.upsert]] — write-then-swap on alternating paths, the
    * plain-parquet stand-in for a lakehouse MERGE). Chained per-batch
    * upserts resolve version ties to the LATEST batch (incoming wins,
    * transitively), so the whole replay collapses to one window over
    * the union — which is exactly the oracle: streaming must be
    * result-invisible next to the batch semantics (q11's pattern,
    * lifted to micro-batches).
    *
    * Replay determinism without driver materialization (the r5 shape
    * `collect()`ed each batch through the driver into a MemoryStream):
    * batch i's rows are STAGED as parquet by a distributed write, then
    * drained by one `Trigger.AvailableNow` start/stop cycle — files are
    * fully committed before the cycle starts, so a batch can never be
    * picked up partially, and the shared checkpoint makes each cycle
    * see exactly the files staged since the previous one. No row ever
    * passes through the driver; a production source (directory watch /
    * Kafka) changes only the staging step.
    */
  def q90StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val src = events(s, dir).filter(col("user_id") < 50)
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"))
    // Per-run unique state dir: a fixed path raced when two harness
    // processes (e.g. Verify + an ad-hoc Dev run) ran q90 at once —
    // one clobbered the other's ping-pong state mid-replay. deleteOnExit
    // is best-effort cleanup at JVM shutdown (the returned DataFrame
    // still reads the files lazily, so deleting eagerly here would
    // break the caller's subsequent action).
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q90_state").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val paths = Seq(s"$base/s0", s"$base/s1")
    val stage = s"$base/stage"
    var step = 0
    graft.streaming.Replay.withLocalCheckpoints(s, "graft_q90") { cp =>
      (0 until 3).foreach { i =>
        src.filter(col("event_id") % 3 === i)
          .write.mode("append").parquet(stage)
        val q = s.readStream.schema(src.schema).parquet(stage)
          .writeStream.outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            // ping-pong state paths: parquet can't be overwritten while
            // the plan still reads it, so batch i reads state i−1's path
            // and writes the other — the write-then-swap from SURVEY §7.7
            val existing =
              if (step == 0)
                s.createDataFrame(
                  s.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
              else s.read.parquet(paths((step + 1) % 2))
            graft.operators.Dedup.upsert(existing, b,
                Seq("user_id", "event_type"), "ts_ns",
                Seq(col("event_id").desc))
              .write.mode("overwrite").parquet(paths(step % 2))
            step += 1
          }
          .start()
        try q.awaitTermination() finally q.stop()
        // one staged batch == one micro-batch: the files were committed
        // before the cycle started and no per-trigger file limit is set,
        // so a drained cycle advances the merge chain exactly once —
        // anything else would silently change tie-breaking semantics
        require(step == i + 1,
          s"q90 replay expected ${i + 1} merged batches, saw $step")
      }
    }
    // Zero-batch guard: if no micro-batch ever committed (empty source),
    // neither ping-pong path exists — the contract is an empty result,
    // not a missing-path failure.
    val out =
      if (step == 0)
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          src.toDF().schema)
      else s.read.parquet(paths((step + 1) % 2))
    out
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q90Sql: String =
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id % 3 DESC,
      |                                event_id DESC) AS rn
      |  FROM events WHERE user_id < 50) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin
  // ^ `event_id % 3` mirrors the batch index: chained upserts prefer the
  // newest batch on version ties, then event_id desc within a batch.

  /** Corpus-frequency boilerplate profile ([[Boilerplate.profile]]):
    * the n-gram generalization of C4/RefinedWeb repeated-line
    * filtering. A trigram shingle is boilerplate when it appears in
    * ≥ 10% of all documents; per doc: distinct-shingle count,
    * boilerplate-hit count, boilerplate fraction.
    *
    * Oracle parity: the shingle formulation is the SAME
    * `list_transform(range...)` CASE as q27's, df/totals are exact
    * integer counts, and `boiler_frac` divides two small exact
    * integers in both engines — bit-identical doubles. Plan: df is the
    * only wide shuffle (partial-aggregated); the boilerplate set
    * broadcasts back, so the raw exploded stream never crosses the
    * network (scale rationale at [[Boilerplate]]).
    */
  def q93Boilerplate(s: SparkSession, dir: String): DataFrame =
    operators.Boilerplate.profile(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  val q93Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |         ELSE list_transform(range(1, len(ta) - 1),
      |                i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS sa
      |  FROM toks),
      |ex AS (SELECT doc_id, unnest(sa) AS g FROM sh),
      |df AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
      |boiler AS (
      |  SELECT g FROM df
      |  CROSS JOIN (SELECT COUNT(*) AS n FROM documents) t
      |  WHERE CAST(df AS DOUBLE) >= CAST(n AS DOUBLE) * 0.10),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n_boiler
      |  FROM ex JOIN boiler USING (g) GROUP BY doc_id)
      |SELECT s.doc_id, CAST(len(s.sa) AS BIGINT) AS n_shingles,
      |  COALESCE(h.n_boiler, 0) AS n_boiler,
      |  CASE WHEN len(s.sa) > 0
      |    THEN CAST(COALESCE(h.n_boiler, 0) AS DOUBLE)
      |       / CAST(len(s.sa) AS DOUBLE)
      |    ELSE 0.0 END AS boiler_frac
      |FROM sh s LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Self-trained bigram-LM fluency score ([[LanguageModel
    * .bigramFluency]]) — CCNet-style perplexity filtering re-expressed
    * hash-stably: per-bigram MLE probabilities in fixed point
    * (`floor(1e9·P + 0.5)`, the q28 score_fp pattern) so the per-doc
    * sums are integer and addition-order-independent, and the mean
    * probability stands in for log-space perplexity (ln/exp are not
    * bit-identical across JVM and C runtimes — same ordering signal,
    * exact cross-engine equality).
    */
  def q94BigramLm(s: SparkSession, dir: String): DataFrame =
    operators.LanguageModel.bigramFluency(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  val q94Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(ta) < 2 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta)),
      |             i -> ta[i] || ' ' || ta[i+1]) END) AS g
      |  FROM toks),
      |pd AS (SELECT doc_id, g, COUNT(*) AS occ FROM bg GROUP BY doc_id, g),
      |c2 AS (SELECT g, CAST(SUM(occ) AS BIGINT) AS c2 FROM pd GROUP BY g),
      |c1 AS (
      |  SELECT string_split(g, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
      |  FROM c2 GROUP BY 1),
      |p AS (
      |  SELECT pd.doc_id, pd.occ,
      |    CAST(FLOOR(CAST(c2.c2 AS DOUBLE) * 1e9
      |      / CAST(c1.c1 AS DOUBLE) + 0.5) AS BIGINT) AS p_fp
      |  FROM pd
      |  JOIN c2 USING (g)
      |  JOIN c1 ON c1.w1 = string_split(pd.g, ' ')[1])
      |SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(occ * p_fp) AS BIGINT) AS score_fp,
      |  CAST(SUM(occ * p_fp) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE)
      |    / 1e9 AS avg_p
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Hybrid retrieval with Reciprocal Rank Fusion
    * ([[Retrieval.rrfFuse]]): query-by-example over every 100th id —
    * the lexical list is q56's BM25 (first-4-token query text,
    * rational idf, top-10), the vector list is q28's exact fixed-point
    * dot top-10 over the embeddings table — fused by rank only
    * (`floor(1e9/(60+rank))` per list, integer sums), top-5 per query.
    * Query ids beyond the embedding table's range fuse from the
    * lexical list alone — the documented single-list degradation.
    * The oracle recomputes BOTH retrieval pipelines and the fusion
    * from the raw tables, so hash equality covers the full hybrid
    * stack, not a planted subset.
    */
  def q95HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val base = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__ta"))
    val queries = base.where(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ",
          slice(col("__ta"), lit(1), least(lit(4), size(col("__ta")))))
          .as("qtext"))
    val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 10, rationalIdf = true)
      .select(col("query_id"), col("doc_id"), col("rank").cast("long")
        .as("rank"))
    // r11: adaptiveTopK, not unconditional brute force — every oracle
    // SF (≤ 4096 embeddings) stays bit-identical exact; above, the
    // |corpus|·|queries| pair stream goes IVF (the q133/q139 close-out
    // pattern: sf10r has 200k embeddings × 2k queries = 4e8 pairs)
    val vec = Similarity.adaptiveTopK(emb,
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, dim = 64, quantizerStoreDir)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("rank"))
    Retrieval.rrfFuse(Seq(lex, vec), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val q95Sql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(ta) AS term FROM base) e
      |  GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, len(ta) AS dl FROM base),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(len(ta)) AS DOUBLE) / COUNT(*) AS avgdl
      |  FROM base),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |q AS (
      |  SELECT doc_id AS query_id,
      |    unnest(list_distinct(ta[1:LEAST(4, len(ta))])) AS term
      |  FROM base WHERE doc_id % 100 = 0),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(FLOOR(
      |      (((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |       * ((CAST(tf AS DOUBLE) * (1.2 + 1))
      |          / (CAST(tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))))
      |      * 1000000 + 0.5) AS BIGINT) AS c
      |  FROM q
      |  JOIN tf ON tf.term = q.term
      |  JOIN df ON df.term = q.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats),
      |lexscores AS (
      |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
      |  FROM contrib GROUP BY query_id, doc_id),
      |lexranked AS (
      |  SELECT query_id, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_micro DESC, doc_id) AS rank
      |  FROM lexscores),
      |vecscores AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
      |    CAST(list_aggregate(list_transform(list_zip(q.embedding, e.embedding),
      |      p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e9 + 0.5) AS BIGINT)),
      |      'sum') AS BIGINT) AS score_fp
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 100 = 0) q
      |  JOIN embeddings e ON e.vec_id <> q.vec_id),
      |vecranked AS (
      |  SELECT query_id, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_fp DESC, doc_id) AS rank
      |  FROM vecscores),
      |rrf AS (
      |  SELECT query_id, doc_id,
      |    CAST(FLOOR(1e9 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS c
      |  FROM lexranked WHERE rank <= 10
      |  UNION ALL
      |  SELECT query_id, doc_id,
      |    CAST(FLOOR(1e9 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS c
      |  FROM vecranked WHERE rank <= 10),
      |fused AS (
      |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_fp,
      |    CAST(COUNT(*) AS BIGINT) AS n_lists
      |  FROM rrf GROUP BY query_id, doc_id)
      |SELECT query_id, rank, doc_id, rrf_fp, n_lists FROM (
      |  SELECT query_id, doc_id, rrf_fp, n_lists,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rank
      |  FROM fused) r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** SemDeDup ([[Similarity.semDedup]]): semantic dedup by embedding
    * clusters, oracle-checked via the q29/q53 planted-copy invariant.
    * The corpus is every embedding plus a 0.5×-scaled copy (id +1e6):
    * scaling by a POWER OF TWO is exact in IEEE float, so every
    * centroid dot product of the copy is exactly half its source's —
    * identical argmax, same cell, whatever the trained centroids — and
    * the copy's cosine to its source sits within ulps of 1. With the
    * corpus max natural cosine ≈ 0.6 (measured at all SFs), τ = 0.999
    * admits exactly the planted pairs; output restricted to planted
    * drops (the q29 pattern) keeps the oracle closed-form while the
    * REAL pipeline — k-means training, cell assignment, within-cell
    * pair pruning — runs end to end.
    */
  def q96SemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val scaled = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.expressions.ScaleArray(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
          0.5f)).as("embedding"))
    val corpus = emb.unionByName(scaled)
    // r9: nlist is DERIVED (autoNlist ≈ √N) and the trained quantizer is
    // PERSISTED per corpus fingerprint — the train-once-reuse regime.
    // r8 had measured adaptive nlist as a net loss (10.3 s vs 1.46 s at
    // sf0.1) because this query retrained Lloyd every run; with the
    // store, training happens once per corpus generation and the
    // recurring cost is assignment + the √N-bounded pair stage, so a
    // 10×/100× corpus needs no constant edits (the r8 verdict's one
    // remaining scale-killer). The oracle is nlist-independent either
    // way (the planted power-of-two copy shares its source's argmax
    // cell under ANY centroids).
    Similarity.semDedupAuto(corpus, "vec_id", "embedding",
        dim = 64, tau = 0.999, storeDir = quantizerStoreDir)
      .filter(col("dropped_id") >= 1000000L)
      .orderBy(col("dropped_id"))
  }

  /** Stable cross-run quantizer-store root: IVF centroids are keyed by
    * (params, corpus fingerprint) inside, so staleness is impossible —
    * a corpus change simply misses and retrains.
    */
  private def quantizerStoreDir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_qstore"

  val q96Sql: String =
    """SELECT vec_id + 1000000 AS dropped_id, vec_id AS kept_id
      |FROM embeddings ORDER BY dropped_id""".stripMargin

  /** Corpus-curation capstone: the C4/RefinedWeb-style multi-signal
    * document filter, composing three independently-verified quality
    * signals — heuristic quality score (q23), corpus-frequency
    * boilerplate fraction (q93, df ≥ 1% here so the signal is live on
    * this corpus), and bigram-LM fluency (q94) — into one survivors
    * table. Every signal is bit-identical across engines (each is
    * hash-verified standalone), so the threshold conjunction is
    * deterministic too. Scale shape: the three signal branches are
    * independent (they parallelize as separate stage DAGs over the
    * same scan) and meet in two doc-id joins over one-row-per-doc
    * outputs — the cheap part; the curation decision itself adds no
    * new shuffle beyond the signals' own.
    */
  def q97Curation(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // Generate barrier (explode of a 1-element struct array): the final
    // WHERE references quality_score, and predicate pushdown substitutes
    // aliases into filters UNCONDITIONALLY — without the barrier the
    // token_profile kernel lands in the scan's Filter AND the output
    // projection, evaluating twice per row (the dupClusterAssignments
    // lesson; PlanAuditSpec's engine-wide filter sweep pins it). The
    // boiler/fluency branches end in aggregates, which already block
    // pushdown.
    val quality = docs.select(col("doc_id"),
        explode(array(struct(
          TextFunctions.qualityScore(col("text")).as("q")))).as("__qs"))
      .select(col("doc_id"), col("__qs.q").as("quality_score"))
    val boiler = operators.Boilerplate.profile(docs, minDfFrac = 0.01)
      .select(col("doc_id"), col("boiler_frac"))
    val fluency = operators.LanguageModel.bigramFluency(docs)
      .select(col("doc_id"), col("avg_p"))
    quality.join(boiler, Seq("doc_id")).join(fluency, Seq("doc_id"))
      .where(col("quality_score") >= 0.55 && col("boiler_frac") < 0.05
        && col("avg_p") >= 0.034)
      .orderBy(col("doc_id"))
  }

  val q97Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |quality AS (
      |  SELECT doc_id,
      |    (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(u AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) * 0.5
      |    + (CASE WHEN (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(st AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END) * 0.25
      |    + (CASE WHEN (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(ch AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.25
      |    AS quality_score
      |  FROM (SELECT doc_id, len(ta) AS n, len(list_distinct(ta)) AS u,
      |          list_aggregate(list_transform(ta, x -> length(x)), 'sum') AS ch,
      |          len(list_filter(ta, x -> list_contains(['the','a','an','of','to','and','in','is','on','for','it','with','as','at','by'], x))) AS st
      |        FROM toks) o),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |         ELSE list_transform(range(1, len(ta) - 1),
      |                i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS sa
      |  FROM toks),
      |ex AS (SELECT doc_id, unnest(sa) AS g FROM sh),
      |dfc AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
      |bset AS (
      |  SELECT g FROM dfc
      |  CROSS JOIN (SELECT COUNT(*) AS nd FROM documents) t
      |  WHERE CAST(df AS DOUBLE) >= CAST(nd AS DOUBLE) * 0.01),
      |bhits AS (
      |  SELECT doc_id, COUNT(*) AS nb
      |  FROM ex JOIN bset USING (g) GROUP BY doc_id),
      |boiler AS (
      |  SELECT s.doc_id,
      |    CASE WHEN len(s.sa) > 0
      |      THEN CAST(COALESCE(h.nb, 0) AS DOUBLE) / CAST(len(s.sa) AS DOUBLE)
      |      ELSE 0.0 END AS boiler_frac
      |  FROM sh s LEFT JOIN bhits h USING (doc_id)),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(ta) < 2 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta)),
      |             i -> ta[i] || ' ' || ta[i+1]) END) AS g
      |  FROM toks),
      |pd AS (SELECT doc_id, g, COUNT(*) AS occ FROM bg GROUP BY doc_id, g),
      |c2 AS (SELECT g, CAST(SUM(occ) AS BIGINT) AS c2 FROM pd GROUP BY g),
      |c1 AS (
      |  SELECT string_split(g, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
      |  FROM c2 GROUP BY 1),
      |p AS (
      |  SELECT pd.doc_id, pd.occ,
      |    CAST(FLOOR(CAST(c2.c2 AS DOUBLE) * 1e9
      |      / CAST(c1.c1 AS DOUBLE) + 0.5) AS BIGINT) AS p_fp
      |  FROM pd
      |  JOIN c2 USING (g)
      |  JOIN c1 ON c1.w1 = string_split(pd.g, ' ')[1]),
      |fluency AS (
      |  SELECT doc_id,
      |    CAST(SUM(occ * p_fp) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE)
      |      / 1e9 AS avg_p
      |  FROM p GROUP BY doc_id)
      |SELECT q.doc_id, q.quality_score, b.boiler_frac, f.avg_p
      |FROM quality q
      |JOIN boiler b USING (doc_id)
      |JOIN fluency f USING (doc_id)
      |WHERE q.quality_score >= 0.55 AND b.boiler_frac < 0.05
      |  AND f.avg_p >= 0.034
      |ORDER BY doc_id""".stripMargin

  /** Video codec + frame-sampling oracle — the q87/q91/q92 pattern
    * applied to [[graft.operators.AviCodec]]: synthesize a REAL
    * RIFF/AVI container per nation (uncompressed 24-bit DIB frames,
    * channels closed-form in (id, frame, x, y)), run the genuine
    * parser end-to-end (header walk, movi chunk scan, bottom-up padded
    * row decode) sampling every 2nd frame, and have DuckDB recompute
    * each sampled frame's channel sums and luminance extremes from the
    * same closed forms — byte-free. Encoder and parser are independent
    * spec implementations, so a hash match certifies both plus the
    * sampling arithmetic.
    */
  def q98VideoCodec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AviCodec, Multimodal}
    val recs = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long")).as[Long]
      .map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val n = (6 + id % 5).toInt
        val bytes = AviCodec.aviEncode(w, h, 40000, n, (f, x, y) => {
          val r = ((id + f * 19 + x * 7 + y * 13) % 256).toInt
          val g = ((id * 3 + f * 23 + x * 5 + y * 11) % 256).toInt
          val b = ((id * 7 + f * 29 + x * 3 + y * 17) % 256).toInt
          (r << 16) | (g << 8) | b
        })
        Multimodal.MediaRecord(id, "video", bytes, "video/x-msvideo",
          "synth")
      }
    Multimodal.videoFrameStats(recs, every = 2)
      .withColumn("frame_idx", col("frame_idx").cast("long"))
      .withColumn("lum_min", col("lum_min").cast("int"))
      .withColumn("lum_max", col("lum_max").cast("int"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  val q98Sql: String =
    """WITH base AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS id,
      |    4 + n_nationkey % 5 AS w, 3 + n_nationkey % 4 AS h,
      |    6 + n_nationkey % 5 AS n
      |  FROM nation
      |), fr AS (
      |  SELECT id, w, h, unnest(range(n)) AS f FROM base
      |), sampled AS (
      |  SELECT id, w, h, f FROM fr WHERE f % 2 = 0
      |), xs AS (
      |  SELECT id, h, f, unnest(range(w)) AS x FROM sampled
      |), px AS (
      |  SELECT id, f, x, unnest(range(h)) AS y FROM xs
      |), c AS (
      |  SELECT id, f, (id + f*19 + x*7 + y*13) % 256 AS r,
      |    (id*3 + f*23 + x*5 + y*11) % 256 AS g,
      |    (id*7 + f*29 + x*3 + y*17) % 256 AS b
      |  FROM px
      |)
      |SELECT id AS media_id, CAST(f AS BIGINT) AS frame_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
      |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
      |  CAST(SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(299*r + 587*g + 114*b) AS INTEGER) AS lum_min,
      |  CAST(MAX(299*r + 587*g + 114*b) AS INTEGER) AS lum_max
      |FROM c GROUP BY id, f ORDER BY media_id, frame_idx""".stripMargin

  /** Tokenizer APPLICATION at scale ([[graft.operators.BpeTrainer
    * .bpeTokenCount]]): learn the q107 vocabulary (6 merges) from the
    * full corpus, then encode a document subset and emit each doc's
    * BPE token count — the number every packing/budgeting step
    * downstream actually consumes. The merge table is a 6-row bounded
    * driver collect (a vocabulary is small by definition; same class
    * as the IVF centroid collects), baked into a flat codegen'd
    * replace tower, so encoding is ONE pass over the subset with no
    * joins. The oracle re-derives the identical vocabulary via the
    * shared [[bpeTrainCtes]] and replays the per-word replace chain —
    * any divergence in training OR application flips a count.
    * Empty-token docs are pinned to 0 via LEFT JOIN + COALESCE on both
    * sides. 100 TB shape: training reads the word HISTOGRAM (vocab-
    * sized after the first aggregate), encoding is embarrassingly
    * parallel scan work.
    */
  def q131BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val mergeList = graft.operators.BpeTrainer
      .trainMerges(docs, "text", merges = 6, passes = 3)
      .orderBy(col("rank")).collect() // 6 rows: the learned vocabulary
      .map { r =>
        val p = r.getString(1).split(" ", 2)
        (p(0), p(1))
      }.toSeq
    graft.operators.BpeTrainer
      .bpeTokenCount(docs.filter(col("doc_id") % 10 === 0), "doc_id",
        "text", mergeList, passes = 3)
      .orderBy(col("doc_id"))
  }

  val q131Sql: String = {
    def enc(k: Int): String =
      s"""x$k AS (
         |  SELECT ' ' || pair || ' ' AS pp,
         |    ' ' || REPLACE(pair, ' ', '') || ' ' AS mm FROM m$k),
         |e$k AS (
         |  SELECT doc_id, REPLACE(REPLACE(REPLACE(ws, x.pp, x.mm),
         |      x.pp, x.mm), x.pp, x.mm) AS ws
         |  FROM e${k - 1} CROSS JOIN x$k x)""".stripMargin
    // separately-stripped pieces, same reason as q107Sql
    s"WITH $bpeTrainCtes,\n" +
      """dsub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |dw AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS w
        |  FROM dsub),
        |e0 AS (
        |  SELECT doc_id, ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
        |    || ' ' AS ws
        |  FROM dw),
        |""".stripMargin +
      (1 to 6).map(enc).mkString(",\n") + ",\n" +
      """cnt AS (
        |  SELECT doc_id, CAST(SUM(len(string_split(trim(ws), ' '))) AS BIGINT)
        |    AS n
        |  FROM e6 GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(c.n, 0) AS n_bpe_tokens
        |FROM dsub d LEFT JOIN cnt c USING (doc_id)
        |ORDER BY doc_id""".stripMargin
  }

  /** Streaming stateful dedup (`dropDuplicates` over a keyed stream):
    * the events feed replayed as 3 single-file micro-batches through
    * ONE AvailableNow stream; the dedup state store guarantees each
    * (user_id, event_type) key is emitted EXACTLY ONCE across the whole
    * replay no matter how arrivals split. Keys are projected before the
    * dedup so the surviving row is the key itself — first-arrival
    * row CONTENT would be partition-order-dependent, the key set is
    * not. The oracle is the batch DISTINCT over the same feed: the
    * streaming machinery must be result-invisible. State is unbounded
    * by design for the replay (exact); the production path bounds it
    * with `withWatermark` + `dropDuplicatesWithinWatermark`, which
    * trades exactness for bounded state and cannot be oracle-hashed
    * (late arrivals re-emit).
    */
  def q132StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val src = events(s, dir).filter(col("user_id") < 200)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q132").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val stage = s"$base/stage"
    val outP = s"$base/out"
    (0 until 3).foreach { i =>
      src.filter(col("event_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    var batches = 0
    graft.streaming.Replay.withLocalCheckpoints(s, "graft_q132") { cp =>
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outP)
          batches += 1
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    require(batches == 3,
      s"q132 replay expected 3 micro-batches, saw $batches")
    s.read.parquet(outP)
      .orderBy(col("user_id"), col("event_type"))
  }

  val q132Sql: String =
    """SELECT DISTINCT user_id, event_type
      |FROM events WHERE user_id < 200
      |ORDER BY user_id, event_type""".stripMargin

  /** kNN majority-vote labeling over embeddings — the semi-supervised
    * labeling step of a curation pipeline: every 20th vector is the
    * "unlabeled" query set, classified by its 5 nearest labeled
    * neighbors (fixed-point dot scores), majority vote with (votes
    * DESC, best rank, label) tie-break so the prediction is total-order
    * deterministic.
    *
    * r10: candidate generation is [[Similarity.adaptiveTopK]] — exact
    * brute force at/below 4096 corpus rows (every oracle SF: sf0.001/
    * 0.01/0.1 have ≤ 2k embeddings, so CORRECTNESS rows stay
    * hash-identical to the exact-kNN DuckDB oracle), the data-adaptive
    * IVF generator above it (the r9 sf1 sweep measured this query's
    * brute |Q|·|C| join at 101× for 10× data — the suite's last
    * quadratic). The vote stage is generator-agnostic and runs
    * VERBATIM on either arm's (query_id, neighbor_id, rank) output.
    */
  def q133KnnLabel(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") % 20 === 0)
    val corpus = emb.filter(col("vec_id") % 20 =!= 0)
    val top = Similarity.adaptiveTopK(corpus, queries, "vec_id",
      "embedding", k = 5, dim = 64, storeDir = quantizerStoreDir)
    val lab = corpus.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = top.join(lab, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("__best"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__best").asc, col("label").asc)
    votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("label").cast("long").as("pred_label"),
        col("votes"))
      .orderBy(col("query_id"))
  }

  val q133Sql: String =
    """WITH top AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |                         ORDER BY score_fp DESC, neighbor_id) AS rank
      |    FROM (
      |      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |        CAST(list_aggregate(list_transform(
      |          list_zip(q.embedding, e.embedding),
      |          p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
      |            * 1e9 + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS score_fp
      |      FROM (SELECT * FROM embeddings WHERE vec_id % 20 = 0) q
      |      JOIN embeddings e ON e.vec_id % 20 <> 0) s) r
      |  WHERE rank <= 5),
      |v AS (
      |  SELECT t.query_id, e.label, CAST(COUNT(*) AS BIGINT) AS votes,
      |    MIN(t.rank) AS best_rank
      |  FROM top t JOIN embeddings e ON e.vec_id = t.neighbor_id
      |  GROUP BY 1, 2)
      |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes FROM (
      |  SELECT query_id, label, votes,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY votes DESC, best_rank, label) AS rn
      |  FROM v) z
      |WHERE rn = 1 ORDER BY query_id""".stripMargin

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): documents are
    * scored by how target-like their hashed bigram features are. The
    * feature space is word bigrams hashed to 16384 buckets with the
    * portable md5-60 hash; the target distribution is the lang='en'
    * slice. Per-instance odds in exact parts-per-million —
    * `en_cnt * 1e6 div all_cnt`, all-BIGINT so engine and oracle agree
    * bit-for-bit (the classic log-likelihood-ratio form needs ln,
    * whose libm rounding is not portable) — summed per document.
    * 100 TB shape: ONE corpus pass builds both count columns of the
    * bucket table (conditional sum, no second scan), the 16384-row
    * stats table broadcasts, and scoring is a map-side join + one
    * aggregate; nothing scales with corpus² anywhere.
    */
  def q134ImportanceOdds(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bi = docs.select(col("doc_id"), col("lang"),
        explode_outer(TextFunctions.shinglesFromTokens(
          TextFunctions.tokens(col("text")), 2)).as("bg"))
      .where(col("bg").isNotNull && col("bg").like("% %"))
    val feat = bi.withColumn("b",
      pmod(TextDedup.md5Hash60(col("bg")), lit(16384L)))
    val stats = feat.groupBy(col("b"))
      .agg(count(lit(1)).as("all_cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("en_cnt"))
    feat.filter(col("doc_id") < 1000)
      .join(broadcast(stats), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_features"),
        sum(expr("en_cnt * 1000000 div all_cnt")).as("odds_score"))
      .orderBy(col("doc_id"))
  }

  val q134Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, lang, ta[i] || ' ' || ta[i+1] AS bg
      |  FROM toks, (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(ta)), 1)
      |    FROM toks))) AS i)
      |  WHERE i < len(ta)),
      |f AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT) % 16384 AS b
      |  FROM bg),
      |st AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS all_cnt,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS en_cnt
      |  FROM f GROUP BY b)
      |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
      |  CAST(SUM(st.en_cnt * 1000000 // st.all_cnt) AS BIGINT) AS odds_score
      |FROM f JOIN st USING (b) WHERE f.doc_id < 1000
      |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  /** Gopher-style rule-based quality gate (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * §A1.1 heuristics re-expressed over this corpus): per document, five
    * independent pass/fail rules — word count in [30, 100000], mean word
    * length in [3, 10], ≥ 2 stopword hits, ≥ half the words unique, and
    * no single token covering > 20% of the document — plus the combined
    * `keep`. Every rule is an INTEGER cross-multiplied comparison
    * (`3n ≤ chars ≤ 10n`, `5·max_tok ≤ n`), never a double ratio, so
    * engine and oracle agree bit-for-bit with no float rounding story.
    * 100 TB shape: one explode → (doc, token) count → per-doc aggregate;
    * both aggregations are hash aggregates with map-side partials and
    * nothing is ever collected or joined corpus×corpus.
    */
  /** Per-doc rule flags of the Gopher gate — the shared core of q135
    * (per-doc report) and q143 (per-source attrition funnel). Output:
    * doc_id, n_words, the five 0/1 rule columns, keep.
    */
  private def gopherFlags(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val perTok = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val stats = perTok.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_words"),
      count(lit(1)).as("n_unique"),
      sum(length(col("tok")).cast("long") * col("c")).as("n_chars"),
      sum(when(col("tok").isInCollection(TextFunctions.stopwordsEn),
        col("c")).otherwise(0L)).as("n_stop"),
      max(col("c")).as("max_tok"))
    // Left join from the doc spine so an all-whitespace doc still gets a
    // row (all rules fail on NULL stats → 0, mirrored in the oracle).
    docs.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        when(col("n_words") >= 30 && col("n_words") <= 100000, 1L)
          .otherwise(0L).as("r_word_count"),
        when(col("n_chars") >= col("n_words") * 3
          && col("n_chars") <= col("n_words") * 10, 1L)
          .otherwise(0L).as("r_mean_word_len"),
        when(col("n_stop") >= 2, 1L).otherwise(0L).as("r_stopwords"),
        when(col("n_unique") * 2 >= col("n_words"), 1L)
          .otherwise(0L).as("r_unique_frac"),
        when(col("max_tok") * 5 <= col("n_words"), 1L)
          .otherwise(0L).as("r_top_token"))
      .withColumn("keep",
        col("r_word_count") * col("r_mean_word_len") * col("r_stopwords")
          * col("r_unique_frac") * col("r_top_token"))
  }

  def q135GopherRules(s: SparkSession, dir: String): DataFrame =
    gopherFlags(s, dir).orderBy(col("doc_id"))

  /** Shared CTE prefix of q135Sql/q143Sql: per-doc Gopher rule flags.
    * ONE definition so the per-doc report and the per-source funnel can
    * never disagree about the rules they evaluate.
    */
  private val gopherCtes: String = {
    val stop = TextFunctions.stopwordsEn.map(w => s"'$w'")
      .mkString("[", ",", "]")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ta
       |  FROM documents),
       |tc AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(ta) AS tok FROM toks) u
       |  GROUP BY doc_id, tok),
       |st AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    CAST(COUNT(*) AS BIGINT) AS n_unique,
       |    CAST(SUM(length(tok) * c) AS BIGINT) AS n_chars,
       |    CAST(SUM(CASE WHEN list_contains($stop, tok)
       |      THEN c ELSE 0 END) AS BIGINT) AS n_stop,
       |    CAST(MAX(c) AS BIGINT) AS max_tok
       |  FROM tc GROUP BY doc_id),
       |fl AS (
       |  SELECT d.doc_id, COALESCE(st.n_words, 0) AS n_words,
       |    CAST(CASE WHEN st.n_words >= 30 AND st.n_words <= 100000
       |      THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
       |    CAST(CASE WHEN st.n_chars >= st.n_words * 3
       |      AND st.n_chars <= st.n_words * 10
       |      THEN 1 ELSE 0 END AS BIGINT) AS r_mean_word_len,
       |    CAST(CASE WHEN st.n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT)
       |      AS r_stopwords,
       |    CAST(CASE WHEN st.n_unique * 2 >= st.n_words
       |      THEN 1 ELSE 0 END AS BIGINT) AS r_unique_frac,
       |    CAST(CASE WHEN st.max_tok * 5 <= st.n_words
       |      THEN 1 ELSE 0 END AS BIGINT) AS r_top_token,
       |    CAST(CASE WHEN st.n_words >= 30 AND st.n_words <= 100000
       |        AND st.n_chars >= st.n_words * 3
       |        AND st.n_chars <= st.n_words * 10
       |        AND st.n_stop >= 2 AND st.n_unique * 2 >= st.n_words
       |        AND st.max_tok * 5 <= st.n_words
       |      THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id)""".stripMargin
  }

  val q135Sql: String = gopherCtes +
    """
      |SELECT doc_id, n_words, r_word_count, r_mean_word_len, r_stopwords,
      |  r_unique_frac, r_top_token, keep
      |FROM fl ORDER BY doc_id""".stripMargin

  /** Fuzzy decontamination — the near-duplicate companion to q57's exact
    * n-gram leak check: every corpus document is scored against a small
    * "benchmark" set (`doc_id % 97 == 0`, standing in for an eval suite)
    * by 3-shingle Jaccard, and the best-matching benchmark doc is
    * reported when similarity clears 1% (exact parts-per-million:
    * `i·1e6 div (na+nb−i)`, all BIGINT). The engine path is an inverted
    * shingle index: explode both sides, equi-join on the shingle,
    * count shared shingles per pair — EXACT (a pair with intersection 0
    * can never clear the threshold, so only co-occurring pairs matter),
    * unlike LSH which trades recall. 100 TB shape: eval suites are tiny
    * by nature, so the benchmark side always broadcasts and the corpus
    * is a single streaming pass; nothing is quadratic in the corpus.
    */
  def q136FuzzyDecontam(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents").select(col("doc_id"),
      array_distinct(TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(col("text")), 3)).as("sh"))
    // explode_OUTER + post-Generate null filter: a plain explode would
    // let InferFiltersFromGenerate push size(shingle_array(...)) > 0
    // into the scan filter and run the shingle tower twice per row
    // (PlanAuditSpec's engine-wide sweep pins this).
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), size(col("sh")).as("nb"),
        explode_outer(col("sh")).as("g"))
      .where(col("g").isNotNull)
    val corpus = sh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("sh")).as("na"),
        explode_outer(col("sh")).as("g"))
      .where(col("g").isNotNull)
    val inter = corpus.join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"), col("bench_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
      .withColumn("jac_ppm", expr("i * 1000000 div (na + nb - i)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jac_ppm").desc, col("bench_id").asc)
    inter.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("jac_ppm") >= 10000)
      .select(col("doc_id"), col("bench_id"), col("jac_ppm"))
      .orderBy(col("doc_id"))
  }

  val q136Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS sh
      |  FROM toks),
      |pair AS (
      |  SELECT c.doc_id, b.doc_id AS bench_id,
      |    CAST(len(list_filter(c.sh, x -> list_contains(b.sh, x)))
      |      AS BIGINT) AS i,
      |    CAST(len(c.sh) AS BIGINT) AS na, CAST(len(b.sh) AS BIGINT) AS nb
      |  FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) c
      |  CROSS JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b),
      |sc AS (
      |  SELECT doc_id, bench_id, i * 1000000 // (na + nb - i) AS jac_ppm
      |  FROM pair WHERE i > 0),
      |best AS (
      |  SELECT doc_id, bench_id, jac_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY jac_ppm DESC, bench_id) AS rn
      |  FROM sc)
      |SELECT doc_id, bench_id, CAST(jac_ppm AS BIGINT) AS jac_ppm
      |FROM best WHERE rn = 1 AND jac_ppm >= 10000
      |ORDER BY doc_id""".stripMargin

  /** Temperature-scaled domain mixture (the multi-corpus sampling recipe
    * of multilingual/multi-source LM training, e.g. alpha-smoothed
    * mixing in XLM-R): per `source`, weight ∝ tokens^0.5, then a budget
    * of 100000 samples allocated by the largest-remainder method. Every
    * step is EXACT integer arithmetic: the square root is an integer
    * sqrt of `tokens·1e6` (double `sqrt` then a ±1 correction against
    * the exact square, so libm rounding differences between engines
    * cannot move the floor), shares are `B·w div W` with the leftover
    * distributed by (remainder DESC, source) rank. 100 TB shape: the
    * per-source aggregate is one map-side-combined pass; the window
    * runs over one row per SOURCE (dozens, not rows), so the
    * unpartitioned window is a non-issue by construction.
    */
  def q137MixtureAlloc(s: SparkSession, dir: String): DataFrame = {
    val perSrc = t(s, dir, "documents")
      .select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
    val scaled = perSrc.withColumn("__x", col("tokens") * 1000000L)
      .withColumn("__v0",
        floor(sqrt(col("__x").cast("double"))).cast("long"))
      .withColumn("weight",
        when((col("__v0") + 1) * (col("__v0") + 1) <= col("__x"),
          col("__v0") + 1)
          .when(col("__v0") * col("__v0") > col("__x"), col("__v0") - 1)
          .otherwise(col("__v0")))
    val wAll = Window.partitionBy()
    val wRank = Window.partitionBy()
      .orderBy(col("__rem").desc, col("source").asc)
    scaled
      .withColumn("__tw", sum(col("weight")).over(wAll))
      .withColumn("__alloc0", expr("100000 * weight div __tw"))
      .withColumn("__rem", expr("(100000 * weight) % __tw"))
      .withColumn("__leftover", lit(100000L) - sum(col("__alloc0")).over(wAll))
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .select(col("source"), col("tokens"), col("weight"),
        (col("__alloc0") + when(col("__rk") <= col("__leftover"), 1L)
          .otherwise(0L)).as("alloc"))
      .orderBy(col("source"))
  }

  val q137Sql: String =
    """WITH ps AS (
      |  SELECT source, CAST(SUM(len(list_filter(string_split(text, ' '),
      |    x -> x <> ''))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |w0 AS (
      |  SELECT source, tokens, tokens * 1000000 AS x,
      |    CAST(FLOOR(SQRT(CAST(tokens * 1000000 AS DOUBLE))) AS BIGINT)
      |      AS v0
      |  FROM ps),
      |w1 AS (
      |  SELECT source, tokens,
      |    CASE WHEN (v0 + 1) * (v0 + 1) <= x THEN v0 + 1
      |         WHEN v0 * v0 > x THEN v0 - 1 ELSE v0 END AS weight
      |  FROM w0),
      |a AS (
      |  SELECT source, tokens, weight,
      |    CAST(SUM(weight) OVER () AS BIGINT) AS tw
      |  FROM w1),
      |b AS (
      |  SELECT source, tokens, weight,
      |    100000 * weight // tw AS alloc0,
      |    (100000 * weight) % tw AS rem
      |  FROM a),
      |c AS (
      |  SELECT source, tokens, weight, alloc0, rem,
      |    100000 - CAST(SUM(alloc0) OVER () AS BIGINT) AS leftover,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM b)
      |SELECT source, tokens, CAST(weight AS BIGINT) AS weight,
      |  CAST(alloc0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS alloc
      |FROM c ORDER BY source""".stripMargin

  /** Token-distribution drift between two corpus halves (`doc_id % 2` —
    * standing in for "last month's crawl vs this month's"): per-token
    * frequency in exact parts-per-million on each side, ranked by
    * absolute ppm shift — the total-variation-style drift report a
    * pipeline runs before retraining a tokenizer or re-weighting a
    * mixture (the ln-free analog of a KL/PSI monitor, kept all-BIGINT
    * so both engines agree exactly). 100 TB shape: one explode → one
    * vocab-keyed hash aggregate computes both sides' counts in the same
    * pass (conditional sums — the corpus is never scanned twice); the
    * grand totals reuse that aggregate's exchange (ReusedExchange) and
    * broadcast back as a single row; top-50 is a TakeOrdered, never a
    * full sort.
    */
  def q138TokenDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select((col("doc_id") % 2).as("h"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
    val cnt = tok.groupBy(col("tok")).agg(
      sum(when(col("h") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("h") === 1, 1L).otherwise(0L)).as("c1"))
    val totals = cnt.agg(sum(col("c0")).as("t0"), sum(col("c1")).as("t1"))
    cnt.crossJoin(broadcast(totals))
      .withColumn("ppm0", expr("c0 * 1000000 div t0"))
      .withColumn("ppm1", expr("c1 * 1000000 div t1"))
      .withColumn("drift_ppm", abs(col("ppm0") - col("ppm1")))
      .select(col("tok"), col("c0"), col("c1"), col("ppm0"), col("ppm1"),
        col("drift_ppm"))
      .orderBy(col("drift_ppm").desc, col("tok").asc)
      .limit(50)
  }

  val q138Sql: String =
    """WITH tok AS (
      |  SELECT doc_id % 2 AS h, unnest(list_filter(string_split(text, ' '),
      |    x -> x <> '')) AS tok
      |  FROM documents),
      |cnt AS (
      |  SELECT tok,
      |    CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM tok GROUP BY tok),
      |tot AS (
      |  SELECT CAST(SUM(c0) AS BIGINT) AS t0,
      |    CAST(SUM(c1) AS BIGINT) AS t1
      |  FROM cnt)
      |SELECT tok, c0, c1,
      |  c0 * 1000000 // t0 AS ppm0,
      |  c1 * 1000000 // t1 AS ppm1,
      |  ABS(c0 * 1000000 // t0 - c1 * 1000000 // t1) AS drift_ppm
      |FROM cnt CROSS JOIN tot
      |ORDER BY drift_ppm DESC, tok LIMIT 50""".stripMargin

  /** Hard-negative mining for contrastive training: for each query
    * vector (every 20th id), the 3 most similar corpus vectors with a
    * DIFFERENT label — the "looks close, means different" pairs a
    * retrieval/embedding fine-tune wants as negatives. Scores are the
    * engine's portable fixed-point dot ([[Similarity.dotFixed]], 1e-9
    * units, BIGINT) so ordering is bit-identical across engines; ties
    * break on neighbor id.
    *
    * r10 scale-adaptive generation (the q133 pattern): at/below 4096
    * corpus rows — every oracle SF — the exact all-different-label-pairs
    * plan runs (query side broadcasts, corpus streams map-side, the
    * only shuffle is the top-k window) and CORRECTNESS rows stay
    * hash-identical. Above it, [[Similarity.ivfTopK]] generates a WIDE
    * label-blind candidate set (64 per query — labels are not an IVF
    * key, so the mismatch filter needs headroom under it), then the
    * label-mismatch filter + fixed-point re-rank runs VERBATIM on the
    * candidates. The r9 sf1 sweep measured the brute plan at 108× for
    * 10× data — with the IVF arm, candidate volume per query is
    * nprobe·N/√N = O(√N).
    */
  def q139HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("__qlab"),
        col("embedding").as("__qv"))
    val c = emb.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("label").as("__nlab"),
        col("embedding").as("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("neighbor_id").asc)
    val fp = Similarity.corpusFingerprint(
      emb.filter(col("vec_id") % 20 =!= 0), "vec_id",
      vecCol = Some("embedding"))
    val scored =
      if (fp._1 <= 4096L)
        c.join(broadcast(q), col("__nlab") =!= col("__qlab"))
          .withColumn("score_fp",
            Similarity.dotFixed(col("__qv"), col("__cv")))
      else {
        val corpus = emb.filter(col("vec_id") % 20 =!= 0)
        val nlist = Similarity.autoNlist(fp._1)
        val centroids = Similarity.trainOrLoadIvfCentroids(corpus,
          "vec_id", "embedding", dim = 64, nlist, quantizerStoreDir,
          fingerprint = Some(fp))
        Similarity.ivfTopK(corpus, emb.filter(col("vec_id") % 20 === 0),
            "vec_id", "embedding", k = 64, centroids,
            nprobe = math.min(4, nlist))
          .select(col("query_id"), col("neighbor_id"), col("score_fp"))
          .join(c.select(col("neighbor_id"), col("__nlab")),
            Seq("neighbor_id"))
          .join(broadcast(q.select(col("query_id"), col("__qlab"))),
            Seq("query_id"))
          .where(col("__nlab") =!= col("__qlab"))
      }
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score_fp"), col("__nlab").cast("long").as("neg_label"))
      .orderBy(col("query_id"), col("rank"))
  }

  val q139Sql: String =
    """SELECT query_id, neighbor_id, rank, score_fp, neg_label FROM (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_fp DESC, neighbor_id) AS rank,
      |    score_fp, neg_label
      |  FROM (
      |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |      CAST(e.label AS BIGINT) AS neg_label,
      |      CAST(list_aggregate(list_transform(
      |        list_zip(q.embedding, e.embedding),
      |        p -> CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
      |          * 1e9 + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS score_fp
      |    FROM (SELECT * FROM embeddings WHERE vec_id % 20 = 0) q
      |    JOIN embeddings e
      |      ON e.vec_id % 20 <> 0 AND e.label <> q.label) s) r
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Pairwise vocabulary overlap between sources — the cross-domain
    * contamination / redundancy matrix a mixture designer reads before
    * setting weights (two sources sharing 90% of their vocabulary are
    * not two independent domains). Exact distinct-token Jaccard per
    * unordered source pair, in integer ppm. 100 TB shape: the join is
    * vocab×vocab keyed on the TOKEN (vocabulary is sublinear in corpus
    * bytes), never docs×docs; per-source vocab sizes broadcast back
    * onto the 190-row pair table; the distinct + both aggregates are
    * ordinary hash aggregates.
    */
  def q140SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val vt = t(s, dir, "documents")
      .select(col("source"),
        explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .distinct()
    val sizes = vt.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val ov = vt.as("a").join(vt.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("overlap"))
    ov.join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n", "vocab_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n", "vocab_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("vocab_a"), col("vocab_b"),
        col("overlap"),
        expr("overlap * 1000000 div (vocab_a + vocab_b - overlap)")
          .as("jac_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q140Sql: String =
    """WITH vt AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '),
      |      x -> x <> '')) AS tok
      |    FROM documents) u),
      |sz AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM vt
      |  GROUP BY source),
      |ov AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS overlap
      |  FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, za.n AS vocab_a, zb.n AS vocab_b, overlap,
      |  overlap * 1000000 // (za.n + zb.n - overlap) AS jac_ppm
      |FROM ov JOIN sz za ON za.source = src_a
      |        JOIN sz zb ON zb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** Power-of-2 bucket boundaries shared by q141's engine and oracle —
    * ONE list so the CASE towers cannot drift. 2^17 > the Gopher word
    * cap, so the top bucket is unreachable-by-construction headroom.
    */
  private val lengthBuckets: Seq[Long] = (0 to 17).map(1L << _)

  /** Context-length curve: token-count histogram in power-of-2 buckets
    * with cumulative docs/tokens — the report that picks max_seq_len
    * (what % of documents/tokens fit in 512? 2048?). The bucket is a
    * generated descending CASE tower over INTEGER comparisons (never
    * floor(log2(n)) — libm log2 at exact powers of two is the classic
    * cross-engine off-by-one), emitted from [[lengthBuckets]] on both
    * sides. 100 TB shape: one narrow pass → ≤19-group aggregate; the
    * cumulative window runs over bucket rows, not data rows.
    */
  def q141LengthCurve(s: SparkSession, dir: String): DataFrame = {
    val n = size(TextFunctions.tokens(col("text"))).cast("long")
    // Ascending fold nests earlier (smaller) thresholds INSIDE later
    // ones, so the outermost test is the largest bucket — the same
    // first-match-wins order as the oracle's descending CASE tower.
    val bucket = lengthBuckets.foldLeft(lit(0L)) {
      case (els, b) => when(n >= b, lit(b)).otherwise(els)
    }
    val w = Window.partitionBy().orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(bucket.as("bucket"), n.as("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .orderBy(col("bucket"))
  }

  val q141Sql: String = {
    val cases = lengthBuckets.reverse
      .map(b => s"WHEN n >= $b THEN $b").mkString("\n      ")
    s"""WITH ln AS (
       |  SELECT CAST(len(list_filter(string_split(text, ' '),
       |    x -> x <> '')) AS BIGINT) AS n
       |  FROM documents),
       |bk AS (
       |  SELECT CAST(CASE
       |      $cases
       |      ELSE 0 END AS BIGINT) AS bucket, n
       |  FROM ln),
       |h AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n) AS BIGINT) AS tokens
       |  FROM bk GROUP BY bucket)
       |SELECT bucket, n_docs, tokens,
       |  CAST(SUM(n_docs) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
       |  CAST(SUM(tokens) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |FROM h ORDER BY bucket""".stripMargin
  }

  /** N-gram novelty / memorization-risk profile: per document, the
    * fraction (exact ppm) of its DISTINCT 3-shingles that occur in no
    * other document — the docs whose content the model can only learn
    * by memorizing them, and the first thing to check before judging a
    * "novel generation". 100 TB shape: document frequency is one hash
    * aggregate on the shingle key; the join back is shingle-keyed
    * (vocab-sized build side per partition, never docs×docs); the
    * per-doc rollup is a second hash aggregate. No driver collects.
    */
  def q142NovelNgrams(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(array_distinct(TextFunctions.shinglesFromTokens(
          TextFunctions.tokens(col("text")), 3))).as("g"))
      .where(col("g").isNotNull)
    val df = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_cnt"))
      .withColumn("novel_ppm", expr("novel_cnt * 1000000 div n_shingles"))
      .orderBy(col("doc_id"))
  }

  val q142Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END)) AS g
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
      |          x -> x <> '') AS ta
      |        FROM documents) i),
      |df AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY g),
      |agg AS (
      |  SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |    CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS novel_cnt
      |  FROM sh JOIN df USING (g) GROUP BY sh.doc_id)
      |SELECT doc_id, n_shingles, novel_cnt,
      |  novel_cnt * 1000000 // n_shingles AS novel_ppm
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Per-source attrition funnel through the Gopher gate (q135's flags,
    * applied as a sequential pipeline): how many documents each source
    * contributes, and how many survive after each successive rule —
    * the report that tells you WHICH filter is eating WHICH domain
    * before you ship a curation config. Shares [[gopherFlags]] (and the
    * oracle shares [[gopherCtes]]) with q135, so report and funnel can
    * never disagree. The funnel counts are sums of cumulative flag
    * PRODUCTS — pure integer algebra on the flag columns, one extra
    * 20-group aggregate on top of the q135 plan.
    */
  def q143FilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val fl = gopherFlags(s, dir)
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    fl.join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("r_word_count")).as("pass_wc"),
        sum(col("r_word_count") * col("r_mean_word_len")).as("pass_mwl"),
        sum(col("r_word_count") * col("r_mean_word_len")
          * col("r_stopwords")).as("pass_stop"),
        sum(col("r_word_count") * col("r_mean_word_len")
          * col("r_stopwords") * col("r_unique_frac")).as("pass_uniq"),
        sum(col("keep")).as("kept"))
      .orderBy(col("source"))
  }

  val q143Sql: String = gopherCtes +
    """
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(r_word_count) AS BIGINT) AS pass_wc,
      |  CAST(SUM(r_word_count * r_mean_word_len) AS BIGINT) AS pass_mwl,
      |  CAST(SUM(r_word_count * r_mean_word_len * r_stopwords) AS BIGINT)
      |    AS pass_stop,
      |  CAST(SUM(r_word_count * r_mean_word_len * r_stopwords
      |    * r_unique_frac) AS BIGINT) AS pass_uniq,
      |  CAST(SUM(keep) AS BIGINT) AS kept
      |FROM fl JOIN documents d ON fl.doc_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Count-based repetition weighting (the SoftDeDup idea: down-WEIGHT
    * exact duplicates instead of dropping them — the loss then sees each
    * unique content unit with equal total mass): docs cluster by the
    * q21/q25 normalized content fingerprint; every member gets
    * `1e6 div cluster_size` ppm weight and the cluster's min-id member
    * is marked canonical. Complements q25 (which keeps one and drops
    * the rest) — same key, opposite retention policy. 100 TB shape:
    * ONE shuffle on the fingerprint; both cluster stats come from the
    * same window partition, fingerprint keys are uniform md5 so the
    * shuffle cannot skew.
    */
  def q144SoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("__min_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"),
        when(col("doc_id") === col("__min_id"), 1L).otherwise(0L)
          .as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  val q144Sql: String =
    """SELECT doc_id, cluster_size,
      |  1000000 // cluster_size AS weight_ppm,
      |  CAST(CASE WHEN doc_id = min_id THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_canonical
      |FROM (
      |  SELECT doc_id,
      |    CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS cluster_size,
      |    MIN(doc_id) OVER (PARTITION BY fp) AS min_id
      |  FROM (SELECT doc_id,
      |          md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |        FROM documents) f) c
      |ORDER BY doc_id""".stripMargin

  /** Per-source corpus diversity profile: total tokens, vocabulary
    * size, singleton vocabulary (hapax legomena — the classic "is this
    * source generated/templated?" tell), and the single most frequent
    * token with its exact ppm share. Head-concentration stays in BIGINT
    * at ANY corpus size (max_count·1e6 ≤ 9.2e18 needs count ≤ 9.2e12 —
    * fine per-source; no T² terms like a Simpson index would need).
    * 100 TB shape: one (source, token) hash aggregate; the argmax is a
    * WindowGroupLimit-able rank over the VOCAB table (not the corpus);
    * the final join is per-source rows only.
    */
  def q145SourceProfile(s: SparkSession, dir: String): DataFrame = {
    val perTok = t(s, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val prof = perTok.groupBy(col("source")).agg(
      sum(col("c")).as("tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("singletons"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("tok").asc)
    val top = perTok.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("source"), col("tok").as("top_token"),
        col("c").as("__topc"))
    prof.join(top, Seq("source"))
      .select(col("source"), col("tokens"), col("vocab"), col("singletons"),
        col("top_token"),
        expr("__topc * 1000000 div tokens").as("top_ppm"))
      .orderBy(col("source"))
  }

  val q145Sql: String =
    """WITH tc AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(list_filter(string_split(text, ' '),
      |          x -> x <> '')) AS tok
      |        FROM documents) u
      |  GROUP BY source, tok),
      |prof AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS singletons
      |  FROM tc GROUP BY source),
      |top AS (
      |  SELECT source, tok AS top_token, c FROM (
      |    SELECT source, tok, c, ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY c DESC, tok) AS rn
      |    FROM tc) r
      |  WHERE rn = 1)
      |SELECT p.source, p.tokens, p.vocab, p.singletons, t.top_token,
      |  t.c * 1000000 // p.tokens AS top_ppm
      |FROM prof p JOIN top t ON p.source = t.source
      |ORDER BY p.source""".stripMargin

  /** Language-label noise audit: confusion matrix of the stored `lang`
    * label against the engine's marker-argmax language ID (q24's
    * classifier — [[TextFunctions.langId]]; the oracle shares q24's
    * generated CASE via [[langPredSqlParts]]). Each (label, prediction)
    * cell carries its count and exact ppm share of the label row — the
    * report that decides whether a source's labels can be trusted
    * before lang-conditioned sampling (q137) uses them. 100 TB shape:
    * per-row kernel → 25-cell hash aggregate; the row totals are a
    * window over the CELL table, not the corpus.
    */
  def q146LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "documents")
      .select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
    cells.withColumn("__row_total", sum(col("n")).over(w))
      .select(col("lang"), col("lang_pred"), col("n"),
        expr("n * 1000000 div __row_total").as("row_ppm"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  val q146Sql: String = {
    val (scores, caseExpr) = langPredSqlParts
    s"""WITH pred AS (
       |  SELECT lang,
       |    $caseExpr AS lang_pred
       |  FROM (SELECT lang,
       |          $scores
       |        FROM (SELECT lang,
       |                list_filter(string_split(text, ' '), x -> x <> '')
       |                  AS toks
       |              FROM documents) i) o),
       |cells AS (
       |  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pred GROUP BY lang, lang_pred)
       |SELECT lang, lang_pred, n,
       |  n * 1000000 // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT)
       |    AS row_ppm
       |FROM cells ORDER BY lang, lang_pred""".stripMargin
  }

  /** Boilerplate-header detection: groups of documents sharing an
    * IDENTICAL 16-token prefix while differing in full content — the
    * shared-template / scraped-banner families that full-text dedup
    * (q25/q144) cannot see and per-line boilerplate (q93) only sees
    * line-wise. Key is md5 of the joined prefix tokens, so the group
    * shuffle is uniform. A group qualifies when it has ≥ 2 docs AND ≥ 2
    * distinct full-text fingerprints (all-identical docs are q144's
    * business, not a template family). 100 TB shape: one narrow map →
    * one hash aggregate on the prefix hash; COUNT(DISTINCT fp) expands
    * to a two-level aggregate, still map-side-partial on the first.
    */
  def q147PrefixDup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(array_join(slice(TextFunctions.tokens(col("text")),
          1, 16), " ")).as("prefix_key"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .groupBy(col("prefix_key"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_texts"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2 && col("n_texts") >= 2)
      .orderBy(col("prefix_key"))

  val q147Sql: String =
    """SELECT prefix_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_texts,
      |  MIN(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id,
      |    md5(array_to_string(list_filter(string_split(text, ' '),
      |      x -> x <> '')[1:16], ' ')) AS prefix_key,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |  FROM documents) p
      |GROUP BY prefix_key
      |HAVING COUNT(*) >= 2 AND COUNT(DISTINCT fp) >= 2
      |ORDER BY prefix_key""".stripMargin

  /** Power-of-4 document-count boundaries of q148's growth curve —
    * shared by engine and oracle CASE towers.
    */
  private val growthBoundaries: Seq[Long] =
    (0 to 10).map(k => math.pow(4, k).toLong)

  /** Vocabulary growth (Heaps-law) curve: how many NEW distinct tokens
    * the corpus introduces within its first 1, 4, 16, … 4^10 documents
    * (corpus order = doc_id) — the measurement behind "how big must the
    * tokenizer vocab be, and has the crawl saturated?". Token first
    * occurrence is `min(doc_id)` per token; each token lands in the
    * smallest boundary bucket containing its first doc (integer CASE
    * tower from [[growthBoundaries]] — NO global row-order cumsum, so
    * there is no single-partition window anywhere). 100 TB shape: one
    * vocab-keyed aggregate + an ≤11-row cumulative window.
    */
  def q148VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val firstDoc = t(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    // foldRight over ascending boundaries puts the SMALLEST test
    // outermost — first match wins, same order as the oracle's CASE.
    val bucket = growthBoundaries.foldRight(lit(-1L)) {
      case (b, els) => when(col("fd") < b, lit(b)).otherwise(els)
    }
    val w = Window.partitionBy().orderBy(col("first_docs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDoc.select(bucket.as("first_docs"))
      .groupBy(col("first_docs"))
      .agg(count(lit(1)).as("new_tokens"))
      .withColumn("cum_vocab", sum(col("new_tokens")).over(w))
      .orderBy(col("first_docs"))
  }

  val q148Sql: String = {
    val cases = growthBoundaries
      .map(b => s"WHEN fd < $b THEN $b").mkString("\n      ")
    s"""WITH fdoc AS (
       |  SELECT tok, MIN(doc_id) AS fd
       |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |          x -> x <> '')) AS tok
       |        FROM documents) u
       |  GROUP BY tok),
       |bk AS (
       |  SELECT CAST(CASE
       |      $cases
       |      ELSE -1 END AS BIGINT) AS first_docs
       |  FROM fdoc),
       |h AS (
       |  SELECT first_docs, CAST(COUNT(*) AS BIGINT) AS new_tokens
       |  FROM bk GROUP BY first_docs)
       |SELECT first_docs, new_tokens,
       |  CAST(SUM(new_tokens) OVER (ORDER BY first_docs
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_vocab
       |FROM h ORDER BY first_docs""".stripMargin
  }

  /** Dedup savings attribution: per source, how much the exact-dedup
    * pass (q25's keep-first over the q21 fingerprint) would save —
    * duplicate docs, duplicated tokens, and the exact ppm of the
    * source's token mass that is redundant. The report that says WHICH
    * feed is paying for its own crawl twice. 100 TB shape: one
    * fingerprint-keyed window (uniform md5 keys) + one per-source
    * aggregate; no joins against the corpus.
    */
  def q149DedupSavings(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(col("n")).as("tokens"),
        sum(when(col("__rn") > 1, col("n")).otherwise(0L))
          .as("dup_tokens"))
      .withColumn("savings_ppm", expr("dup_tokens * 1000000 div tokens"))
      .orderBy(col("source"))
  }

  val q149Sql: String =
    """WITH r AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS n,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
      |      ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |    CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS dup_docs,
      |    CAST(SUM(n) AS BIGINT) AS tokens,
      |    CAST(SUM(CASE WHEN rn > 1 THEN n ELSE 0 END) AS BIGINT)
      |      AS dup_tokens
      |  FROM r GROUP BY source)
      |SELECT source, docs, dup_docs, tokens, dup_tokens,
      |  dup_tokens * 1000000 // tokens AS savings_ppm
      |FROM g ORDER BY source""".stripMargin

  /** Streaming curation monitor: the corpus replayed as three
    * micro-batches through a STATEFUL streaming aggregation — per
    * source, running document/kept/token counters under
    * `outputMode(complete)`, where "kept" is the q23 quality score
    * clearing 0.55 (row-local kernel, so the gate itself needs no
    * second aggregation — streaming allows only one). The final
    * complete snapshot must equal the batch aggregate (the oracle), and
    * the replay must take exactly 3 micro-batches — this is q132's
    * exactly-once replay harness pointed at the quality gate, proving
    * the curation funnel can run AS the data arrives. 100 TB shape:
    * state is one row per SOURCE; each batch shuffles only its own
    * partial counts.
    */
  def q150StreamQuality(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q150").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val stage = s"$base/stage"
    val outP = s"$base/out"
    (0 until 3).foreach { i =>
      src.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    var batches = 0
    graft.streaming.Replay.withLocalCheckpoints(s, "graft_q150") { cp =>
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .select(col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("__n"),
          when(TextFunctions.qualityScore(col("text")) >= 0.55, 1L)
            .otherwise(0L).as("__keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("__keep")).as("kept"),
          sum(col("__n")).as("tokens"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outP)
          batches += 1
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    require(batches == 3,
      s"q150 replay expected 3 micro-batches, saw $batches")
    s.read.parquet(outP).orderBy(col("source"))
  }

  val q150Sql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(CASE WHEN
      |    (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(u AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) * 0.5
      |    + (CASE WHEN (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(st AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END) * 0.25
      |    + (CASE WHEN (CASE WHEN CAST(n AS DOUBLE) > 0 THEN CAST(ch AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.25
      |    >= 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |  CAST(SUM(n) AS BIGINT) AS tokens
      |FROM (SELECT source, len(toks) AS n, len(list_distinct(toks)) AS u,
      |        list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS ch,
      |        len(list_filter(toks, x -> list_contains(['the','a','an','of','to','and','in','is','on','for','it','with','as','at','by'], x))) AS st
      |      FROM (SELECT source,
      |              list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |            FROM documents) i) o
      |GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB list literal of [[TextFunctions.stopwordsEn]] — single
    * source of truth for every oracle that replays the quality score.
    */
  private val stopwordsSqlList: String =
    TextFunctions.stopwordsEn.map(w => s"'$w'").mkString("[", ",", "]")

  /** The q23 quality-score formula over pre-computed per-doc token
    * stats columns `n` (tokens), `u` (unique), `ch` (token chars),
    * `sw` (stopword hits) — the exact double algebra of
    * [[TextFunctions.qualityScore]], reproducible bit-for-bit on any
    * IEEE engine.
    */
  private def qualitySqlExpr(n: String, u: String, ch: String,
      sw: String): String =
    s"""(CASE WHEN CAST($n AS DOUBLE) > 0 THEN CAST($u AS DOUBLE) / CAST($n AS DOUBLE) ELSE 0.0 END) * 0.5
       |    + (CASE WHEN (CASE WHEN CAST($n AS DOUBLE) > 0 THEN CAST($sw AS DOUBLE) / CAST($n AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END) * 0.25
       |    + (CASE WHEN (CAST($n AS DOUBLE) > 0 AND (CAST($ch AS DOUBLE) / CAST($n AS DOUBLE)) BETWEEN 3.0 AND 10.0) THEN 1.0 ELSE 0.0 END) * 0.25""".stripMargin

  /** Train/held-out contamination audit: split the corpus 80/20 with
    * the PORTABLE md5-60 uniform (the q62 sampler — any engine replays
    * the exact membership, unlike xxhash64), then count held-out docs
    * whose q21 content fingerprint also appears in train — the
    * eval-set leakage that silently inflates benchmark scores when
    * train/test are split AFTER crawling but BEFORE dedup. Per source:
    * held-out size, leaked docs, leak ppm. 100 TB shape: one DISTINCT
    * on the train side's fingerprint + one fp-keyed equi join — both
    * shuffles on the same uniformly-distributed md5 key, never
    * corpus × corpus; the train fp set is dedup state that already
    * exists in any pipeline running q25.
    */
  def q151SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val u = TextDedup.md5Hash60(concat_ws(":", lit(151), col("doc_id")))
      .cast("double") / lit(math.pow(2, 60))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        (u < 0.8).as("is_train"))
    val trainFp = base.filter(col("is_train"))
      .select(col("fp")).distinct().withColumn("__hit", lit(1L))
    base.filter(!col("is_train"))
      .join(trainFp, Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("heldout_docs"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .as("leaked_docs"))
      .withColumn("leak_ppm",
        expr("leaked_docs * 1000000 div heldout_docs"))
      .orderBy(col("source"))
  }

  val q151Sql: String =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
      |    CAST(CAST('0x' || substr(md5(151 || ':' || doc_id), 1, 15) AS BIGINT) AS DOUBLE)
      |      / 1152921504606846976.0 < 0.8 AS is_train
      |  FROM documents),
      |tr AS (SELECT DISTINCT fp FROM b WHERE is_train),
      |te AS (SELECT source, fp FROM b WHERE NOT is_train)
      |SELECT te.source, CAST(COUNT(*) AS BIGINT) AS heldout_docs,
      |  CAST(SUM(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS leaked_docs,
      |  CAST(SUM(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS leak_ppm
      |FROM te LEFT JOIN tr ON te.fp = tr.fp
      |GROUP BY te.source ORDER BY te.source""".stripMargin

  /** Vocabulary-truncation OOV audit: build the top-1000 corpus
    * vocabulary by (frequency DESC, token ASC) — the deterministic
    * truncation every fixed-vocab tokenizer performs — then measure,
    * per source, the token mass that falls outside it (the OOV/UNK
    * rate that vocabulary would impose). Sources with high OOV ppm are
    * the ones a vocab trained on the mix underserves. 100 TB shape:
    * the vocab is a word-count aggregate (map-side partials on the
    * token key) + TakeOrdered top-k; the per-source pass joins the
    * token stream against the BROADCAST 1000-row vocab — one corpus
    * shuffle total (the word count), never a sort of the corpus.
    */
  def q152OovCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(1L).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_ppm", expr("oov_tokens * 1000000 div tokens"))
      .orderBy(col("source"))
  }

  val q152Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '),
      |    x -> x <> '')) AS tok
      |  FROM documents),
      |v AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
      |  ORDER BY c DESC, tok LIMIT 1000)
      |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS oov_tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS oov_ppm
      |FROM toks t LEFT JOIN v ON t.tok = v.tok
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** Tokenizer fertility by language: apply the q107-learned BPE
    * vocabulary (q131's replace tower) to the q131 subset and report,
    * per language, chars-per-BPE-token in exact ppm — the standard
    * "which languages does this tokenizer serve badly" audit (high
    * fertility = more tokens per char = that language pays more
    * compute per byte of text). Shares the training CTEs with
    * q107/q131: ONE source of vocabulary truth. 100 TB shape: the
    * vocabulary is driver-side literals (it is a vocabulary), the
    * tower is codegen'd per-row string work, and the only shuffles are
    * the per-doc count re-aggregate and a lang-sized final aggregate;
    * the doc_id join is equi on a unique key.
    */
  def q153TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val mergeList = graft.operators.BpeTrainer
      .trainMerges(docs, "text", merges = 6, passes = 3)
      .orderBy(col("rank")).collect() // 6 rows: the learned vocabulary
      .map { r =>
        val p = r.getString(1).split(" ", 2)
        (p(0), p(1))
      }.toSeq
    val sub = docs.filter(col("doc_id") % 10 === 0)
    val counts = graft.operators.BpeTrainer
      .bpeTokenCount(sub, "doc_id", "text", mergeList, passes = 3)
    sub.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("__chars"))
      .join(counts, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("__chars")).as("chars"),
        sum(col("n_bpe_tokens")).as("bpe_tokens"))
      .withColumn("chars_per_token_ppm",
        expr("chars * 1000000 div bpe_tokens"))
      .orderBy(col("lang"))
  }

  val q153Sql: String = {
    def enc(k: Int): String =
      s"""x$k AS (
         |  SELECT ' ' || pair || ' ' AS pp,
         |    ' ' || REPLACE(pair, ' ', '') || ' ' AS mm FROM m$k),
         |e$k AS (
         |  SELECT doc_id, REPLACE(REPLACE(REPLACE(ws, x.pp, x.mm),
         |      x.pp, x.mm), x.pp, x.mm) AS ws
         |  FROM e${k - 1} CROSS JOIN x$k x)""".stripMargin
    s"WITH $bpeTrainCtes,\n" +
      """dsub AS (SELECT doc_id, lang, length(text) AS chars, text
        |  FROM documents WHERE doc_id % 10 = 0),
        |dw AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS w
        |  FROM dsub),
        |e0 AS (
        |  SELECT doc_id, ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
        |    || ' ' AS ws
        |  FROM dw),
        |""".stripMargin +
      (1 to 6).map(enc).mkString(",\n") + ",\n" +
      """cnt AS (
        |  SELECT doc_id, CAST(SUM(len(string_split(trim(ws), ' '))) AS BIGINT)
        |    AS n
        |  FROM e6 GROUP BY doc_id)
        |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(d.chars) AS BIGINT) AS chars,
        |  CAST(SUM(COALESCE(c.n, 0)) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(d.chars) AS BIGINT) * 1000000
        |    // CAST(SUM(COALESCE(c.n, 0)) AS BIGINT) AS chars_per_token_ppm
        |FROM dsub d LEFT JOIN cnt c USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  /** Quality-aware dedup canonicalization: within each q21 exact-dup
    * cluster keep the member with the HIGHEST q23 quality score
    * (doc_id breaks ties) instead of q25's keep-first — real pipelines
    * keep the best-rendered copy of a page, not the first-crawled one.
    * Reports, per source, how often the quality policy disagrees with
    * keep-first (the docs keep-first would have thrown away wrongly).
    * The fingerprint normalizes case/whitespace, so cluster members
    * genuinely differ in quality (casing changes stopword hits and
    * unique-token counts). 100 TB shape: ONE shuffle on the uniform
    * md5 fingerprint serves both window functions; the per-source
    * aggregate is sources-sized.
    */
  def q154BestOfDup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.qualityScore(col("text")).as("__q"))
    scored
      .withColumn("__rn", row_number().over(
        w.orderBy(col("__q").desc, col("doc_id"))))
      .withColumn("__first", min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("canonicals"),
        sum(when(col("__rn") === 1 && col("doc_id") =!= col("__first"), 1L)
          .otherwise(0L)).as("policy_changed"))
      .withColumn("changed_ppm",
        expr("policy_changed * 1000000 div canonicals"))
      .orderBy(col("source"))
  }

  val q154Sql: String =
    s"""WITH st AS (
       |  SELECT doc_id, source, text, len(tk) AS n,
       |    len(list_distinct(tk)) AS u,
       |    list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS ch,
       |    len(list_filter(tk, x -> list_contains($stopwordsSqlList, x))) AS sw
       |  FROM (SELECT doc_id, source, text,
       |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |        FROM documents) i),
       |q AS (
       |  SELECT doc_id, source,
       |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
       |    ${qualitySqlExpr("n", "u", "ch", "sw")} AS qs
       |  FROM st),
       |w AS (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY qs DESC, doc_id) AS rn,
       |    MIN(doc_id) OVER (PARTITION BY fp) AS fid
       |  FROM q)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
       |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS canonicals,
       |  CAST(SUM(CASE WHEN rn = 1 AND doc_id <> fid THEN 1 ELSE 0 END)
       |    AS BIGINT) AS policy_changed,
       |  CAST(SUM(CASE WHEN rn = 1 AND doc_id <> fid THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000
       |    // CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS changed_ppm
       |FROM w GROUP BY source ORDER BY source""".stripMargin

  /** Exact set-containment join ([[TextDedup.containmentJoin]]): every
    * ordered pair where ≥ 90% of doc A's distinct 3-shingles appear in
    * doc B — "snippet inside page" detection (quotes, syndicated
    * excerpts, clipped re-crawls) that symmetric Jaccard structurally
    * misses (a half-doc snippet inside its source has Jaccard ≈ 0.5
    * but containment 1.0). The corpus plants one half-length snippet
    * per document, so every doc yields at least its own snippet pair.
    * The oracle is the DEFINITION (shared-shingle equi join + exact
    * intersect count over ALL pairs) — a hash match proves the prefix
    * + positional pruning dropped no qualifying pair and invented
    * none.
    */
  def q155ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = TextFunctions.tokens(col("text"))
    val snippets = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1),
        greatest((size(toks) / lit(2)).cast("int"), lit(1)))).as("text"))
    TextDedup.containmentJoin(docs.unionByName(snippets), "doc_id",
        "text", shingleSize = 3, threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q155Sql: String =
    """WITH src AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS ta
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    w[1:GREATEST(len(w) // 2, 1)]
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS w
      |        FROM documents) m),
      |sets AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS s
      |  FROM src),
      |ex AS (
      |  SELECT doc_id, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS sh
      |  FROM sets),
      |ov AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    MIN(a.sz) AS la, CAST(COUNT(*) AS BIGINT) AS i
      |  FROM ex a JOIN ex b ON b.sh = a.sh AND a.doc_id <> b.doc_id
      |    AND b.sz * 10 >= a.sz * 9
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, i * 1000000 // la AS containment_ppm
      |FROM ov WHERE i * 10 >= la * 9
      |ORDER BY id_a, id_b""".stripMargin

  /** Scrub impact report: what the q49 PII scrubber would actually do
    * to each source — per-stage replacement counts (emails, then URLs
    * on the email-masked text, then long digit runs on the URL-masked
    * text — counted stage-wise because masking an earlier pattern can
    * consume a later one's match), affected docs, and the exact char
    * delta. PII is planted on doc_id % 7 == 0 (q49's synthetic
    * contacts), so the report has a known-clean majority. 100 TB
    * shape: all counting is per-row regex work inside codegen; the
    * only shuffle is the sources-sized aggregate.
    */
  def q156ScrubImpact(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val urlPat = "https?://[^ ]+"
    val numPat = "[0-9]{6,}"
    val planted = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or https://example.com/d/"), col("doc_id"),
          lit(" ref "), col("doc_id") + 1000000L))
      .otherwise(col("text"))
    val t0 = col("__t0")
    val t1 = regexp_replace(t0, emailPat, "<EMAIL>")
    val t2 = regexp_replace(t1, urlPat, "<URL>")
    val t3 = regexp_replace(t2, numPat, "<NUM>")
    t(s, dir, "documents")
      .select(col("source"), planted.as("__t0"))
      .select(col("source"),
        regexp_count(t0, lit(emailPat)).cast("long").as("__em"),
        regexp_count(t1, lit(urlPat)).cast("long").as("__ur"),
        regexp_count(t2, lit(numPat)).cast("long").as("__nm"),
        when(t0 =!= t3, 1L).otherwise(0L).as("__aff"),
        (length(t3) - length(t0)).cast("long").as("__dc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("__em")).as("email_hits"),
        sum(col("__ur")).as("url_hits"), sum(col("__nm")).as("num_hits"),
        sum(col("__aff")).as("affected_docs"),
        sum(col("__dc")).as("char_delta"))
      .orderBy(col("source"))
  }

  val q156Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
      |      CAST(doc_id AS VARCHAR) || '@example.com or https://example.com/d/'
      |      || CAST(doc_id AS VARCHAR) || ' ref '
      |      || CAST(doc_id + 1000000 AS VARCHAR)
      |    ELSE text END AS t0
      |  FROM documents),
      |st AS (
      |  SELECT source, t0,
      |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      |  FROM d),
      |st2 AS (
      |  SELECT source, t0, t1,
      |    regexp_replace(t1, 'https?://[^ ]+', '<URL>', 'g') AS t2
      |  FROM st),
      |st3 AS (
      |  SELECT source, t0, t1, t2,
      |    regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g') AS t3
      |  FROM st2)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(len(regexp_extract_all(t0,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT)
      |    AS email_hits,
      |  CAST(SUM(len(regexp_extract_all(t1, 'https?://[^ ]+'))) AS BIGINT)
      |    AS url_hits,
      |  CAST(SUM(len(regexp_extract_all(t2, '[0-9]{6,}'))) AS BIGINT)
      |    AS num_hits,
      |  CAST(SUM(CASE WHEN t0 <> t3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS affected_docs,
      |  CAST(SUM(length(t3) - length(t0)) AS BIGINT) AS char_delta
      |FROM st3 GROUP BY source ORDER BY source""".stripMargin

  /** Per-dimension Fisher discriminant score of the embedding space
    * against the stored labels: between-class vs within-class scatter,
    * the "which dimensions actually separate the classes" audit run
    * before training a probe or pruning dimensions. Exact arithmetic
    * in the q60 fixed-point envelope (values at 1e6, squares at 1e12,
    * int64-exact to ~3·10⁷ rows/dim at unit-scale embeddings); each
    * per-class S²/n term is ONE correctly-rounded double
    * multiply-divide-floor (the q112/q115 pattern), so any IEEE engine
    * reproduces every output bit. 100 TB shape: one posexplode pass,
    * partial-aggregated (dim, label) cells (64×10 rows), dims-sized
    * finish — no second data pass, no collect.
    */
  def q157FisherScore(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("__i", "__xf")))
      .select(col("label"), col("__i").cast("long").as("dim"),
        col("__xf").cast("double").as("__x"))
    val cells = rows.groupBy(col("dim"), col("label"))
      .agg(count(lit(1)).as("__nc"),
        sum(floor(col("__x") * 1e6 + lit(0.5)).cast("long")).as("__sc"),
        sum(floor(col("__x") * col("__x") * 1e12 + lit(0.5)).cast("long"))
          .as("__qc"))
    cells.groupBy(col("dim"))
      .agg(sum(col("__nc")).as("n"), sum(col("__sc")).as("__s"),
        sum(col("__qc")).as("__q"),
        sum(floor(col("__sc").cast("double") * col("__sc").cast("double")
          / col("__nc")).cast("long")).as("__a"))
      .select(col("dim"), col("n"),
        greatest(col("__a") - floor(col("__s").cast("double")
          * col("__s").cast("double") / col("n")).cast("long"), lit(0L))
          .as("between_scaled"),
        greatest(col("__q") - col("__a"), lit(0L)).as("within_scaled"))
      .withColumn("fisher_ppm",
        when(col("within_scaled") > 0,
          floor(col("between_scaled").cast("double") * 1e6
            / col("within_scaled")).cast("long")))
      .orderBy(col("dim"))
  }

  val q157Sql: String =
    """WITH rows_ AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT label, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings) e),
      |cells AS (
      |  SELECT dim, label, CAST(COUNT(*) AS BIGINT) AS nc,
      |    CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
      |    CAST(SUM(CAST(FLOOR(x * x * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS qc
      |  FROM rows_ GROUP BY dim, label),
      |agg AS (
      |  SELECT dim, CAST(SUM(nc) AS BIGINT) AS n,
      |    CAST(SUM(sc) AS BIGINT) AS s, CAST(SUM(qc) AS BIGINT) AS q,
      |    CAST(SUM(CAST(FLOOR(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / nc)
      |      AS BIGINT)) AS BIGINT) AS a
      |  FROM cells GROUP BY dim)
      |SELECT dim, n,
      |  GREATEST(a - CAST(FLOOR(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      |    AS BIGINT), 0) AS between_scaled,
      |  GREATEST(q - a, 0) AS within_scaled,
      |  CASE WHEN GREATEST(q - a, 0) > 0 THEN
      |    CAST(FLOOR(CAST(GREATEST(a - CAST(FLOOR(CAST(s AS DOUBLE)
      |      * CAST(s AS DOUBLE) / n) AS BIGINT), 0) AS DOUBLE) * 1e6
      |      / GREATEST(q - a, 0)) AS BIGINT)
      |  END AS fisher_ppm
      |FROM agg ORDER BY dim""".stripMargin

  /** Mergeable KLL quantile-sketch store ([[graft.operators.Sketches
    * .kllSketch]]/`kllMerge`): per-day sketches of `events.value`
    * materialized to parquet; weekly p50/p95 answered by MERGING the
    * days' sketches — constant-size state per day, raw history never
    * rescanned. Completes the sketch-store family (q111 HLL distinct,
    * q122 frequent items, q116 theta set algebra; this = order
    * statistics, the incremental counterpart of q64's one-shot exact
    * percentiles). Verification is the q116/q64 pattern: the exact
    * per-week n plus band booleans — the merged sketch's quantile is
    * joined back against the week's raw values and its EXACT inclusive
    * rank must sit within ±0.03 of the requested rank (k = 800 ⇒
    * rank σ ≈ 0.2%, so the band is ~15σ; below k per week the sketch
    * is exact and the rank condition is tight by construction). n
    * itself comes from the sketch (`kll_n` is exact through every
    * compaction/merge) and must equal the recount.
    */
  def q158QuantileStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = events(s, dir)
      .select(col("ts").cast("date").as("day"), col("value"))
      .where(col("value").isNotNull)
    // KB-scale sketch store on the fast (tmpfs-preferred) root: the
    // r12 bench host's disk ran small-parquet create/rename at 3-16 ms
    // per op (BASELINE.md, Round-13 records), and this store is 31 tiny files
    val store = kllStoreDir("q158")
    ev.groupBy(col("day"))
      .agg(Sketches.kllSketch(col("value"), 800).as("sk"))
      .write.mode("overwrite").parquet(store)
    kllStoreWeeklyReport(s, ev, store)
  }

  /** ONE allocator for the q158/q160/q164 store-build triptych's
    * sketch stores (r14, closes the r13 VERDICT's drift finding: the
    * three arms placed their stores through three hand-rolled paths —
    * two unregistered fixed names directly under `fastRoot` that were
    * never reaped and persisted on tmpfs RAM after the JVM exited, one
    * registered `fastDir` — so the arms could drift in I/O placement
    * and cleanup). All three now allocate HERE: reap-registered, fast
    * root, KB-scale `needBytes` (31 tiny day-sketch files — a busy
    * tmpfs must not exile them to the slow disk). A fresh dir per run
    * replaces the old delete-before-build dance, and the routing is a
    * StrategyLog line in the artifact.
    */
  private def kllStoreDir(tag: String): String =
    Scratch.fastDir(s"graft_${tag}_store", needBytes = 64L << 20).getPath

  /** Shared tail of q158/q160: weekly merge over a day-keyed KLL
    * sketch store + the exact-rank band verification (see q158's
    * scaladoc for the band arithmetic).
    */
  private def kllStoreWeeklyReport(s: SparkSession, ev: DataFrame,
      store: String): DataFrame = {
    import graft.operators.Sketches
    val weekly = s.read.parquet(store)
      .groupBy(date_trunc("week", col("day").cast("date")).cast("date")
        .as("week"))
      .agg(Sketches.kllMerge(col("sk"), 800).as("sk"))
      .select(col("week"), Sketches.kllN(col("sk")).as("n"),
        Sketches.kllQuantile(col("sk"), lit(0.5)).as("__p50"),
        Sketches.kllQuantile(col("sk"), lit(0.95)).as("__p95"))
    val ranks = ev
      .select(date_trunc("week", col("day")).cast("date").as("week"),
        col("value"))
      .join(broadcast(weekly.select(col("week"), col("__p50"),
        col("__p95"))), Seq("week"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("value") <= col("__p50"), 1L).otherwise(0L))
          .as("__le50"),
        sum(when(col("value") < col("__p50"), 1L).otherwise(0L))
          .as("__lt50"),
        sum(when(col("value") <= col("__p95"), 1L).otherwise(0L))
          .as("__le95"),
        sum(when(col("value") < col("__p95"), 1L).otherwise(0L))
          .as("__lt95"))
    weekly.join(ranks, Seq("week"))
      .select(col("week"), col("n"),
        (col("n") === col("__cnt")).as("n_exact"),
        (col("__le50").cast("double") >= col("n") * (0.5 - 0.03) &&
          col("__lt50").cast("double") < col("n") * (0.5 + 0.03))
          .as("ok_p50"),
        (col("__le95").cast("double") >= col("n") * (0.95 - 0.03) &&
          col("__lt95").cast("double") < col("n") * (0.95 + 0.03))
          .as("ok_p95"))
      .orderBy(col("week"))
  }

  val q158Sql: String =
    """SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
      |  CAST(COUNT(*) AS BIGINT) AS n, TRUE AS n_exact,
      |  TRUE AS ok_p50, TRUE AS ok_p95
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1 ORDER BY week""".stripMargin

  /** Incrementally-maintained KLL quantile store
    * ([[graft.operators.Sketches.writeDaySketches]]): the q158 store
    * built the way a daily pipeline actually builds it — an initial
    * load (days ≤ 21) followed by a DELTA write of the remaining days
    * through dynamic partition overwrite, which touches ONLY the new
    * day partitions (KllSketchSpec pins the old partitions' file
    * listing byte-identical). The weekly report over the
    * incrementally-built store must equal q158's one-shot build —
    * same oracle, same bands. 100 TB shape: a day's append costs one
    * day's scan + one partition write regardless of store size; the
    * store is the constant-size-per-day state.
    */
  def q160QuantileStoreInc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = events(s, dir)
      .select(col("ts").cast("date").as("day"), col("value"))
      .where(col("value").isNotNull)
    // fast root for the same reason as q158's store (r12: run-1 stalls
    // were ParquetOutputWriter init + rename on the slow disk — the
    // incremental write path is 31 day-partition files of ~KB each)
    val store = kllStoreDir("q160")
    Sketches.writeDaySketches(ev.where(dayofmonth(col("day")) <= 21),
      "day", "value", store, 800)
    Sketches.writeDaySketches(ev.where(dayofmonth(col("day")) > 21),
      "day", "value", store, 800)
    kllStoreWeeklyReport(s, ev, store)
  }

  val q160Sql: String = q158Sql

  /** Rendezvous (highest-random-weight) resharding report: every doc
    * routed to `argmax_j md5_60("hrw-v1:j:" + doc_id)` under 12 and
    * 13 shards, plus the naive `doc_id % n` routing for contrast. Per
    * OLD shard: docs, how many move when shard 13 is added under HRW
    * vs under mod. The two structural properties a 100 TB store
    * re-balance depends on fall out of the report itself: (a)
    * `moved_elsewhere` is identically 0 — a doc that moves can ONLY
    * move to the NEW shard (Thaler-Ravishankar rendezvous invariant),
    * so growing a bucketed store from 12 to 13 shards rewrites one new
    * bucket and touches nothing else; (b) `hrw_moved` is ~1/13 of
    * each shard while `mod_moved` is ~12/13 — mod-routing rewrites the
    * WHOLE store. Pure unrolled Column algebra: 25 md5 towers +
    * `greatest` over (hash, shard) structs, all codegen'd, one
    * hash-aggregate; no HOF lambdas, no shuffle before the 12-row agg.
    */
  def q161HrwReshard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    def h(j: Int): Column = TextDedup.md5Hash60(
      concat(lit(s"hrw-v1:$j:"), col("doc_id").cast("string")))
    def shardOf(n: Int): Column =
      greatest((0 until n).map(j =>
        struct(h(j).as("h"), lit(j.toLong).as("j"))): _*).getField("j")
    docs
      .select(col("doc_id"), shardOf(12).as("__s12"), shardOf(13).as("__s13"))
      .groupBy(col("__s12").as("shard"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("__s13") =!= col("__s12"), 1L).otherwise(0L))
          .as("hrw_moved"),
        sum(when(col("__s13") =!= col("__s12") && col("__s13") =!= 12L, 1L)
          .otherwise(0L)).as("moved_elsewhere"),
        sum(when(pmod(col("doc_id"), lit(12L)) =!= pmod(col("doc_id"), lit(13L)),
          1L).otherwise(0L)).as("mod_moved"))
      .orderBy(col("shard"))
  }

  /** Near-dup graph transitivity audit: global clustering statistics
    * of the EXACT near-dup pair graph (q128's prefix-filter join at
    * Jaccard ≥ 0.7 — the same pair stream q159 attributes and q55
    * resolves into clusters). Transitivity = 3·triangles / wedges is
    * THE policy number for dedup-domain design: high closure means
    * single-linkage clusters (q55) are tight and keep-one-per-cluster
    * is safe; low closure means chains link dissimilar docs and
    * single-linkage over-merges. Exact integer algebra end-to-end:
    * wedges = Σ d(d−1) DIV 2 in BIGINT, triangles counted once each
    * via [[graft.operators.Graph.triangleStats]]'s degree-ordered
    * wedge join (per-corner counts summed DIV 3), closure ppm one
    * correctly-rounded divide. 100 TB shape: pair stream is q128's
    * (prefix-pruned); everything after the per-node aggregate is
    * nodes-sized.
    */
  def q166DupTransitivity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = TextDedup.prefixFilterJoin(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.7)
    Graph.triangleStats(pairs, "id_a", "id_b")
      .agg(count(lit(1)).as("__n"),
        sum(col("degree")).as("__sd"),
        sum(col("degree") * (col("degree") - 1)).as("__sw2"),
        sum(col("triangles")).as("__st"))
      .select(col("__n").as("nodes"),
        expr("__sd DIV 2").as("edges"),
        expr("__sw2 DIV 2").as("wedges"),
        expr("__st DIV 3").as("triangles"),
        when(col("__sw2") > 0,
          expr("(__st * 1000000) DIV (__sw2 DIV 2)"))
          .as("transitivity_ppm"))
  }

  val q166Sql: String =
    """WITH sets AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS s
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |        FROM documents) i),
      |ex AS (
      |  SELECT doc_id, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS sh
      |  FROM sets),
      |ov AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib,
      |    MIN(a.sz) AS la, MIN(b.sz) AS lb, CAST(COUNT(*) AS BIGINT) AS i
      |  FROM ex a JOIN ex b ON b.sh = a.sh AND a.doc_id < b.doc_id
      |    AND b.sz * 10 >= a.sz * 7 AND a.sz * 10 >= b.sz * 7
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT ia AS u, ib AS v FROM ov
      |  WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.7),
      |deg AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT u FROM p UNION ALL SELECT v FROM p) s(u) GROUP BY u),
      |tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS t
      |  FROM p e1 JOIN p e2 ON e2.u = e1.v JOIN p e3
      |    ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT CAST(COUNT(*) AS BIGINT) AS nodes,
      |  CAST(SUM(d) // 2 AS BIGINT) AS edges,
      |  CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS wedges,
      |  (SELECT t FROM tri) AS triangles,
      |  CAST(CASE WHEN SUM(d * (d - 1)) > 0
      |    THEN ((SELECT t FROM tri) * 3 * 1000000) // (SUM(d * (d - 1)) // 2)
      |  END AS BIGINT) AS transitivity_ppm
      |FROM deg""".stripMargin

  /** Exact two-sample Kolmogorov-Smirnov drift per source: the KS
    * distance between each source's document-length distribution and
    * the corpus-wide one — the distribution-shift alarm run before a
    * new crawl joins the training mix. Exact integer algebra: the
    * sup is over the merged jump grid (every distinct corpus length —
    * both CDFs are right-continuous steps, so the max lives there);
    * at each grid point the numerator |cum_s·N − cum_g·n_s| stays in
    * BIGINT via cross-multiplication (no per-point division), and the
    * final ppm is ONE integer DIV. The source×grid densification is a
    * constant-key broadcast join (sources × distinct lengths, both
    * bounded — NOT data-sized), window cumsums partitioned by source.
    */
  def q167KsDrift(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("source"), col("n_chars"))
    val per = base.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("__c"))
    val glob = base.groupBy(col("n_chars")).agg(count(lit(1)).as("__g"))
    val nTot = base.groupBy().agg(count(lit(1)).as("__N"))
      .withColumn("__k", lit(1))
    val grid = glob.select(col("n_chars").as("__x"), col("__g"))
    val srcs = base.groupBy(col("source")).agg(count(lit(1)).as("__ns"))
    val perR = per.select(col("source").as("__ps"),
      col("n_chars").as("__px"), col("__c"))
    val dense = srcs.withColumn("__k", lit(1))
      .join(broadcast(grid.withColumn("__k", lit(1))), Seq("__k"))
      .join(perR, col("source") === col("__ps") &&
        col("__x") === col("__px"), "left")
      .select(col("source"), col("__ns"), col("__x"), col("__g"),
        coalesce(col("__c"), lit(0L)).as("__c"))
      .withColumn("__k", lit(1))
    val wS = Window.partitionBy(col("source")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense
      .select(col("source"), col("__ns"), col("__x"), col("__k"),
        sum(col("__c")).over(wS).as("__cs"),
        sum(col("__g")).over(wS).as("__cg"))
      .join(broadcast(nTot), Seq("__k"))
      .select(col("source"), col("__ns"), col("__x"),
        abs(col("__cs") * col("__N") - col("__cg") * col("__ns"))
          .as("__d"))
    val wMax = Window.partitionBy(col("source"))
    cum
      .withColumn("__dm", max(col("__d")).over(wMax))
      .where(col("__d") === col("__dm"))
      .groupBy(col("source"))
      .agg(max(col("__ns")).as("n_docs"), min(col("__x")).as("ks_at"),
        max(col("__dm")).as("__num"))
      .withColumn("__k", lit(1))
      .join(broadcast(nTot), Seq("__k"))
      .select(col("source"), col("n_docs"), col("ks_at"),
        expr("(__num * 1000000) DIV (n_docs * __N)").as("ks_ppm"))
      .orderBy(col("source"))
  }

  val q167Sql: String =
    """WITH base AS (SELECT source, n_chars FROM documents),
      |per AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM base GROUP BY 1, 2),
      |gcnt AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS g
      |         FROM base GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM base),
      |srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
      |         FROM base GROUP BY 1),
      |dense AS (
      |  SELECT s.source, s.ns, gl.n_chars AS x, gl.g,
      |    COALESCE(p.c, 0) AS c
      |  FROM srcs s CROSS JOIN gcnt gl
      |  LEFT JOIN per p ON p.source = s.source AND p.n_chars = gl.n_chars),
      |cum AS (
      |  SELECT source, ns, x,
      |    ABS(SUM(c) OVER (PARTITION BY source ORDER BY x) * (SELECT N FROM tot)
      |      - SUM(g) OVER (PARTITION BY source ORDER BY x) * ns) AS d
      |  FROM dense),
      |mx AS (
      |  SELECT source, ns, x, d,
      |    MAX(d) OVER (PARTITION BY source) AS dm
      |  FROM cum)
      |SELECT source, MAX(ns) AS n_docs, MIN(x) AS ks_at,
      |  CAST((MAX(dm) * 1000000) // (MAX(ns) * (SELECT N FROM tot))
      |    AS BIGINT) AS ks_ppm
      |FROM mx WHERE d = dm GROUP BY source ORDER BY source""".stripMargin

  /** Luhn-validated payment-card candidate audit: maximal digit runs
    * of plausible PAN length (13-19) per source, with the Luhn mod-10
    * checksum separating structurally-valid candidates from random
    * digit noise — the check real PII scrubbers use to cut
    * false-positive digit runs before redaction (q49/q156 count runs;
    * this ranks their RISK). The checksum is a generated 19-term
    * expression tower shared verbatim between the engine (Column
    * algebra via [[luhnContribTerms]]) and the oracle (the same terms
    * printed as SQL) — positional `substr(s, len-p+1, 1)` arithmetic,
    * doubled-digit fold as a CASE, zero HOF lambdas, fully codegen'd.
    * One regexp_extract_all pass + explode; |sources|-sized output
    * with exact ppm.
    */
  def q165LuhnAudit(s: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus carries no PAN-length digit runs, so (the
    // q156 pattern) every 5th doc gets a deterministic planted
    // 16-digit candidate spliced in-query — "4539" + zero-padded
    // doc_id — whose Luhn validity varies with doc_id, giving the
    // audit a real valid/noise mix both engines reproduce exactly
    val aug = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" card 4539"),
          lpad(pmod(col("doc_id"), lit(1000000000000L)).cast("string"),
            12, "0"))).otherwise(lit("")))
    val runs = t(s, dir, "documents")
      .select(col("source"), aug.as("__text"))
      .select(col("source"),
        explode_outer(expr("regexp_extract_all(__text, '[0-9]+', 0)"))
          .as("__run"))
      .where(col("__run").isNotNull)
      .where(length(col("__run")).between(13, 19))
    val total = (1 to 19).map { p =>
      when(length(col("__run")) >= p,
        luhnContrib(col("__run"), p)).otherwise(0)
    }.reduce(_ + _)
    runs
      .select(col("source"), (total % 10 === 0).as("__ok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("candidates"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("luhn_valid"))
      .select(col("source"), col("candidates"), col("luhn_valid"),
        floor(col("luhn_valid") * lit(1000000L) / col("candidates"))
          .cast("long").as("valid_ppm"))
      .orderBy(col("source"))
  }

  /** Luhn contribution of the p-th digit from the RIGHT of digit
    * string `c`: doubled (and 9-subtracted above 9) at even p. Engine
    * half of the shared tower; [[luhnContribSql]] is the SQL half —
    * both generated from the same arithmetic so the checksum cannot
    * drift between engines.
    */
  private def luhnContrib(c: Column, p: Int): Column = {
    val d = substring(c, -p, 1).cast("int")
    if (p % 2 == 0) when(d * 2 > 9, d * 2 - 9).otherwise(d * 2) else d
  }

  private def luhnContribSql(p: Int): String = {
    val d = s"CAST(substr(r, len(r) - $p + 1, 1) AS INTEGER)"
    val term =
      if (p % 2 == 0) s"(CASE WHEN $d * 2 > 9 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    s"(CASE WHEN len(r) >= $p THEN $term ELSE 0 END)"
  }

  val q165Sql: String = {
    val tower = (1 to 19).map(luhnContribSql).mkString(" + ")
    s"""WITH aug AS (
       |  SELECT source, text || CASE WHEN doc_id % 5 = 0
       |    THEN ' card 4539' || lpad(CAST(doc_id % 1000000000000 AS VARCHAR),
       |      12, '0') ELSE '' END AS t
       |  FROM documents),
       |runs AS (
       |  SELECT source, r FROM (
       |    SELECT source, unnest(regexp_extract_all(t, '[0-9]+')) AS r
       |    FROM aug) u
       |  WHERE len(r) BETWEEN 13 AND 19),
       |ck AS (
       |  SELECT source, ($tower) % 10 = 0 AS ok FROM runs)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS candidates,
       |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS luhn_valid,
       |  CAST(FLOOR(SUM(CASE WHEN ok THEN 1 ELSE 0 END) * 1000000.0
       |    / COUNT(*)) AS BIGINT) AS valid_ppm
       |FROM ck GROUP BY source ORDER BY source""".stripMargin
  }

  /** Streaming-maintained KLL quantile store: the q158 day-keyed
    * sketch store built by a STREAM — complete-mode streaming
    * aggregation whose state IS the per-day KLL buffers
    * (TypedImperativeAggregate state survives micro-batches in the
    * state store; each batch folds only its own rows into the day's
    * sketch), 3-micro-batch AvailableNow replay, final snapshot
    * written as the store and verified with q158's exact-rank bands.
    * Completes the store-build triptych — one-shot (q158),
    * incremental batch (q160), streaming (q164) — all three answer
    * the weekly report identically and share one oracle. The report
    * is band-based BY DESIGN, so sketch-internal row order (the one
    * thing the replay changes) cannot flip it; day counts `n` are
    * exact under any order.
    */
  def q164StreamQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = events(s, dir)
      .select(col("ts").cast("date").as("day"), col("value"),
        col("event_id"))
      .where(col("value").isNotNull)
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q164").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val stage = s"$base/stage"
    // KB-scale sketch store, rewritten once per micro-batch: same
    // allocator as q158/q160's stores (the triptych must not drift)
    val store = kllStoreDir("q164")
    (0 until 3).foreach { i =>
      ev.filter(col("event_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    var batches = 0
    graft.streaming.Replay.withLocalCheckpoints(s, "graft_q164") { cp =>
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .groupBy(col("day"))
        .agg(Sketches.kllSketch(col("value"), 800).as("sk"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(store)
          batches += 1
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    require(batches == 3,
      s"q164 replay expected 3 micro-batches, saw $batches")
    kllStoreWeeklyReport(s, ev.select(col("day"), col("value")), store)
  }

  val q164Sql: String = q158Sql

  /** Per-label embedding-centroid drift between two snapshots (the
    * vec_id-parity halves standing in for "last week's corpus vs this
    * week's"): per label, the L1 and max per-dimension shift between
    * the halves' centroids — the "did the embedding space move under
    * me" monitor run before reusing a trained ANN index or classifier
    * on refreshed embeddings. Exact cross-engine arithmetic via the
    * q60 envelope: per-(label, half, dim) sums of the 1e6-quantized
    * coordinates in BIGINT, each centroid coordinate ONE
    * correctly-rounded double divide + floor (sums stay ≤ 2^53, so
    * the divide inputs are exact), drift aggregation pure BIGINT.
    * One posexplode pass; everything after the (label, half, dim)
    * hash-aggregate is |labels|×dims-sized. Labels missing from
    * either half drop (inner join) — drift of a new/retired label is
    * undefined, not zero.
    */
  def q163CentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode_outer(col("embedding")).as(Seq("dim", "x")))
      .where(col("x").isNotNull)
    val agg = rows
      .groupBy(col("label"), (col("vec_id") % 2 === 0).as("__a"),
        col("dim").cast("long").as("dim"))
      .agg(sum(floor(col("x").cast("double") * 1e6 + lit(0.5))
          .cast("long")).as("__sx"),
        count(lit(1)).as("__n"))
      .select(col("label"), col("__a"), col("dim"), col("__n"),
        floor(col("__sx").cast("double") / col("__n")).cast("long")
          .as("__mf"))
    val a = agg.where(col("__a")).select(col("label"), col("dim"),
      col("__mf").as("__ma"), col("__n").as("__na"))
    val b = agg.where(!col("__a")).select(col("label").as("__lb"),
      col("dim").as("__db"), col("__mf").as("__mb"), col("__n").as("__nb"))
    a.join(b, col("label") === col("__lb") && col("dim") === col("__db"))
      .groupBy(col("label"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(abs(col("__ma") - col("__mb"))).as("l1_drift_fp"),
        max(abs(col("__ma") - col("__mb"))).as("max_drift_fp"))
      .orderBy(col("label"))
  }

  val q163Sql: String =
    """WITH r AS (
      |  SELECT label, vec_id % 2 = 0 AS a, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, label, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings) u),
      |m AS (
      |  SELECT label, a, dim, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(FLOOR(CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT))
      |      AS DOUBLE) / COUNT(*)) AS BIGINT) AS mf
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT ma.label, MAX(ma.n) AS n_a, MAX(mb.n) AS n_b,
      |  CAST(SUM(ABS(ma.mf - mb.mf)) AS BIGINT) AS l1_drift_fp,
      |  CAST(MAX(ABS(ma.mf - mb.mf)) AS BIGINT) AS max_drift_fp
      |FROM m ma JOIN m mb ON mb.label = ma.label AND mb.dim = ma.dim
      |  AND ma.a AND NOT mb.a
      |GROUP BY 1 ORDER BY ma.label""".stripMargin

  /** Token k-core ([[graft.operators.Graph.kCorePeel]]): the 3-core
    * of q112's bigram co-occurrence graph by 10 synchronous peel
    * rounds — the "structurally embedded vocabulary" (tokens whose
    * co-occurrence survives recursive low-degree pruning; hubs and
    * hapax chains fall out in round 1, thin bridges cascade out in
    * later rounds). Round count is part of the operator definition:
    * the oracle unrolls EXACTLY 10 rounds (generated CTE chain), the
    * engine early-stops only at the provable fixpoint (a round that
    * deletes nothing — identical result by definition), and
    * GraphSpec pins that cascades longer than the round budget are
    * honored round-for-round. Per round: one degree hash-aggregate +
    * two semi joins on the shrinking edge set, lineage checkpointed —
    * the q113 iteration envelope.
    */
  def q162TokenKcore(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(TextFunctions.tokens(col("text")).as("__ta"))
    val bigrams = toks.select(arrays_zip(
        slice(col("__ta"), lit(1), greatest(size(col("__ta")) - 1, lit(0)))
          .as("x"),
        slice(col("__ta"), lit(2), greatest(size(col("__ta")) - 1, lit(0)))
          .as("y")).as("__z"))
      .select(explode_outer(col("__z")).as("__p"))
      .where(col("__p").isNotNull)
      .select(col("__p.x").as("a"), col("__p.y").as("b"))
      .where(col("a") =!= col("b"))
    Graph.kCorePeel(bigrams, "a", "b", k = 3, rounds = 10)
      .orderBy(col("node"))
  }

  val q162Sql: String = {
    val rounds = 10
    val sb = new StringBuilder
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    // round references its predecessor ~5 times, so the naive chain
    // expands 5^10 scans of the base table
    sb.append(
      """WITH base AS MATERIALIZED (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ta
        |  FROM documents),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(ta[i], ta[i+1]) AS u,
        |    GREATEST(ta[i], ta[i+1]) AS v
        |  FROM (SELECT ta, unnest(range(1, len(ta))) AS i FROM base) z
        |  WHERE ta[i] <> ta[i+1])""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |n$r AS MATERIALIZED (
        |  SELECT u FROM (SELECT u FROM e${r - 1}
        |                 UNION ALL SELECT v FROM e${r - 1}) s(u)
        |  GROUP BY u HAVING COUNT(*) >= 3),
        |e$r AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e${r - 1} e
        |  JOIN n$r a ON a.u = e.u JOIN n$r b ON b.u = e.v)""".stripMargin)
    }
    sb.append(s"""
      |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |FROM (SELECT u FROM e$rounds UNION ALL SELECT v FROM e$rounds) s(u)
      |GROUP BY u ORDER BY node""".stripMargin)
    sb.toString
  }

  val q161Sql: String =
    """WITH ex AS (
      |  SELECT doc_id, j,
      |    CAST('0x' || substr(md5('hrw-v1:' || CAST(j AS VARCHAR) || ':'
      |      || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM documents, (SELECT unnest(range(13)) AS j) js),
      |s12 AS (SELECT doc_id, arg_max(j, h) AS shard12
      |        FROM ex WHERE j < 12 GROUP BY doc_id),
      |s13 AS (SELECT doc_id, arg_max(j, h) AS shard13
      |        FROM ex GROUP BY doc_id)
      |SELECT shard12 AS shard, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(CASE WHEN shard13 <> shard12 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hrw_moved,
      |  CAST(SUM(CASE WHEN shard13 <> shard12 AND shard13 <> 12
      |    THEN 1 ELSE 0 END) AS BIGINT) AS moved_elsewhere,
      |  CAST(SUM(CASE WHEN (s12.doc_id % 12) <> (s12.doc_id % 13)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS mod_moved
      |FROM s12 JOIN s13 USING (doc_id)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** Cross-source duplication-flow matrix: every EXACT near-dup pair
    * (q128's prefix-filter join at Jaccard ≥ 0.7 — no LSH
    * probabilism) attributed to its unordered source pair — the
    * "which feeds syndicate each other" report that decides whether
    * two crawls should share one dedup domain. Diagonal cells =
    * within-source duplication. 100 TB shape: the pair stream is
    * q128's (prefix-pruned, positional-filtered); the two
    * source-lookup joins are equi on the unique doc key; the final
    * aggregate is |sources|²-sized.
    */
  def q159DupFlowMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val pairs = TextDedup.prefixFilterJoin(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.7)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
        Seq("id_b"))
      .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q159Sql: String =
    """WITH sets AS (
      |  SELECT doc_id, source,
      |    list_distinct(CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
      |      ELSE list_transform(range(1, len(ta) - 1),
      |             i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END) AS s
      |  FROM (SELECT doc_id, source,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |        FROM documents) i),
      |ex AS (
      |  SELECT doc_id, source, CAST(len(s) AS BIGINT) AS sz, unnest(s) AS sh
      |  FROM sets),
      |ov AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    MIN(a.source) AS sa, MIN(b.source) AS sb,
      |    MIN(a.sz) AS la, MIN(b.sz) AS lb,
      |    CAST(COUNT(*) AS BIGINT) AS i
      |  FROM ex a JOIN ex b ON b.sh = a.sh AND a.doc_id < b.doc_id
      |    AND b.sz * 10 >= a.sz * 7 AND a.sz * 10 >= b.sz * 7
      |  GROUP BY 1, 2)
      |SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS pairs
      |FROM ov
      |WHERE CAST(i AS DOUBLE) / CAST(la + lb - i AS DOUBLE) >= 0.7
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // Round-9 batch 4 (q168+): interval algebra, geo assignment, audits,
  // weighted sampling, layout/locality, CDC, vocabulary truncation
  // ---------------------------------------------------------------------

  /** Interval coalescing (gaps-and-islands): each event opens a
    * deterministic activity interval `[ts, ts + (1 + event_id % 7200) s)`;
    * overlapping/touching intervals per user merge into islands, the
    * canonical "covered time" computation (ad sessions, machine uptime,
    * span-level scrub regions). Island detection is the running-max-end
    * window trick — one shuffle on `user_id`, no self-join (the naive
    * interval self-join is quadratic per user). All math on exact epoch
    * nanos ([[normalizeEvents]] `ts_ns` is bit-identical to DuckDB's
    * `epoch_ns`), so island boundaries agree exactly across engines.
    */
  def q168IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val prevMaxEnd = max(col("__end")).over(
      byUser.rowsBetween(Window.unboundedPreceding, -1))
    events(s, dir)
      .withColumn("__end",
        col("ts_ns") + (pmod(col("event_id"), lit(7200L)) + 1L)
          * 1000000000L)
      .withColumn("__new",
        when(prevMaxEnd.isNull || col("ts_ns") > prevMaxEnd, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__island"))
      .agg(count(lit(1)).as("__n"),
        (max(col("__end")) - min(col("ts_ns"))).as("__cov"))
      .groupBy(col("user_id"))
      .agg(sum(col("__n")).as("n_events"),
        count(lit(1)).as("n_intervals"),
        sum(col("__cov")).as("covered_ns"))
      .orderBy(col("user_id"))
  }

  val q168Sql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS st,
      |    epoch_ns(ts) + ((event_id % 7200) + 1) * 1000000000 AS en
      |  FROM events),
      |flag AS (
      |  SELECT user_id, st, en,
      |    CASE WHEN MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR st > MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS isnew,
      |    event_id
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, st, en,
      |    SUM(isnew) OVER (PARTITION BY user_id ORDER BY st, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flag),
      |agg AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS n,
      |    MAX(en) - MIN(st) AS cov
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(cov) AS BIGINT) AS covered_ns
      |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The 15 weather-dim sites in exact integer microdegrees — ONE Scala
    * value feeds both the engine literal array and the oracle's VALUES
    * list (the q165 shared-tower pattern), so no float parsing can
    * diverge. Source: the reference's region map (py:27-43) via
    * [[graft.model.WeatherModel.regions]].
    */
  private val geoSites: Seq[(String, Long, Long)] =
    graft.model.WeatherModel.regions.map { case (n, la, lo) =>
      (n, math.round(la * 1e6), math.round(lo * 1e6)) }

  /** Nearest-site geo assignment: every customer gets a deterministic
    * pseudo-location in the Kenya bounding box (portable md5-60 integers,
    * DuckDB-reproducible bit for bit) and is assigned to the nearest of
    * the 15 weather sites by squared planar microdegree distance — the
    * geofencing/catchment-area operator. The 100 TB plan is MAP-ONLY:
    * the 15 per-site distances unroll at expression-build time into one
    * flat codegen'd projection (no join, no per-point shuffle, no HOF
    * lambda — the engine-wide interpreted-eval ban), argmin =
    * `least(d2_*)` + a name-ordered first-match CASE chain (ties break
    * on site name); the only exchange is the final 15-group
    * partial-agg rollup. Exact BIGINT: |Δ| ≤ 9.7e6 µdeg ⇒ d² ≤ 1.6e14.
    */
  def q169GeoNearest(s: SparkSession, dir: String): DataFrame = {
    val sitesByName = geoSites.sortBy(_._1)
    val plat = lit(-4700000L) +
      pmod(TextDedup.md5Hash60(
        concat(lit("geo-lat-v1:"), col("c_custkey").cast("string"))),
        lit(9700001L))
    val plon = lit(33900000L) +
      pmod(TextDedup.md5Hash60(
        concat(lit("geo-lon-v1:"), col("c_custkey").cast("string"))),
        lit(8000001L))
    val d2Cols = sitesByName.zipWithIndex.map { case ((_, la, lo), i) =>
      ((col("__plat") - lit(la)) * (col("__plat") - lit(la)) +
        (col("__plon") - lit(lo)) * (col("__plon") - lit(lo)))
        .as(s"__d2_$i")
    }
    val minD2 = least(sitesByName.indices.map(i => col(s"__d2_$i")): _*)
    val regionCol = sitesByName.zipWithIndex
      .foldRight(lit(null).cast("string")) { case (((n, _, _), i), acc) =>
        when(col(s"__d2_$i") === col("__d2"), lit(n)).otherwise(acc)
      }
    t(s, dir, "customer")
      .select(plat.as("__plat"), plon.as("__plon"))
      .select(d2Cols: _*)
      .withColumn("__d2", minD2)
      .select(regionCol.as("region"), col("__d2").as("d2"))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_points"), min(col("d2")).as("min_d2"),
        max(col("d2")).as("max_d2"), sum(col("d2")).as("sum_d2"))
      .orderBy(col("region"))
  }

  val q169Sql: String = {
    val values = geoSites.map { case (n, la, lo) => s"('$n', $la, $lo)" }
      .mkString(",\n      |    ")
    s"""WITH pts AS (
      |  SELECT c_custkey,
      |    -4700000 + CAST('0x' || substr(md5('geo-lat-v1:' ||
      |      CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 9700001
      |      AS plat,
      |    33900000 + CAST('0x' || substr(md5('geo-lon-v1:' ||
      |      CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 8000001
      |      AS plon
      |  FROM customer),
      |sites(region, slat, slon) AS (VALUES
      |    $values),
      |d AS (
      |  SELECT c_custkey, region,
      |    (plat - slat) * (plat - slat) + (plon - slon) * (plon - slon)
      |      AS d2
      |  FROM pts CROSS JOIN sites),
      |best AS (
      |  SELECT c_custkey, region, d2,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY d2, region)
      |      AS rn
      |  FROM d)
      |SELECT region, CAST(COUNT(*) AS BIGINT) AS n_points,
      |  MIN(d2) AS min_d2, MAX(d2) AS max_d2,
      |  CAST(SUM(d2) AS BIGINT) AS sum_d2
      |FROM best WHERE rn = 1
      |GROUP BY region ORDER BY region""".stripMargin
  }

  /** Benford first-digit ppm shares, shared engine/oracle literals
    * (round(log10(1+1/d)*1e6)). */
  private val benfordPpm: Seq[(Int, Long)] = (1 to 9).map { d =>
    d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6) }

  /** Benford's-law first-digit audit on `l_extendedprice` — the
    * fabricated-numbers smoke test auditors run on financial columns
    * (synthetic TPC-H prices are ~uniform, so the audit should FLAG
    * them; the point is the exact deviation report, not conformance).
    * First significant digit via the exact cents integer (the engine's
    * standard `FLOOR(x*100+0.5)` fixed-point idiom), expected shares as
    * shared round(log10(1+1/d)·1e6) literals — one scan, 9-group agg,
    * observed/expected/delta all exact BIGINT ppm.
    */
  def q170BenfordAudit(s: SparkSession, dir: String): DataFrame = {
    val expected = benfordPpm.foldLeft(lit(0L)) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc) }
    t(s, dir, "lineitem")
      .select(substring(floor(col("l_extendedprice") * 100 + 0.5)
        .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__tot", sum(col("cnt")).over(Window.partitionBy()))
      .select(col("digit"), col("cnt"),
        expr("cnt * 1000000 DIV __tot").as("observed_ppm"),
        expected.as("expected_ppm"))
      .withColumn("delta_ppm", col("observed_ppm") - col("expected_ppm"))
      .orderBy(col("digit"))
  }

  val q170Sql: String = {
    val values = benfordPpm.map { case (d, p) => s"($d, $p)" }
      .mkString(", ")
    s"""WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM lineitem),
      |cnts AS (
      |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM digits
      |  GROUP BY digit),
      |exp(digit, expected_ppm) AS (VALUES $values)
      |SELECT c.digit, c.cnt,
      |  CAST(c.cnt * 1000000 // (SELECT SUM(cnt) FROM cnts) AS BIGINT)
      |    AS observed_ppm,
      |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
      |  CAST(c.cnt * 1000000 // (SELECT SUM(cnt) FROM cnts)
      |    - e.expected_ppm AS BIGINT) AS delta_ppm
      |FROM cnts c JOIN exp e ON e.digit = c.digit
      |ORDER BY c.digit""".stripMargin
  }

  /** Weighted sampling without replacement via integer ticket
    * replication: doc weight w = 1 + min(n_chars DIV 500, 7) buys w
    * lottery tickets `md5-60("ws-v1:<id>:<i>")`; the sample is the
    * global top-k by MIN ticket — the exact-integer analogue of
    * Efraimidis-Spirakis u^(1/w) keys (P(selected) rises with w; every
    * arithmetic step is BIGINT, so both engines draw the IDENTICAL
    * sample — no float pow/ln whose ulp could flip a rank). Map-only:
    * the ≤8 ticket draws unroll statically (draw i masked to MaxValue
    * when i ≥ w, then one n-ary `least` — flat codegen, no HOF lambda,
    * no explode), then TakeOrdered k=100 — the 100 TB plan: no shuffle
    * beyond the top-k tree reduction.
    */
  def q171WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val ticket = least((0 until 8).map { i =>
      when(lit(i.toLong) < col("weight"),
        TextDedup.md5Hash60(concat(lit("ws-v1:"),
          col("doc_id").cast("string"), lit(s":$i"))))
        .otherwise(lit(Long.MaxValue))
    }: _*)
    t(s, dir, "documents")
      .withColumn("weight",
        expr("1 + least(n_chars DIV 500, 7)").cast("long"))
      .withColumn("ticket", ticket)
      .select(col("doc_id"), col("source"), col("weight"), col("ticket"))
      .orderBy(col("ticket"), col("doc_id"))
      .limit(100)
  }

  val q171Sql: String =
    """SELECT doc_id, source, weight, ticket FROM (
      |  SELECT doc_id, source,
      |    1 + LEAST(n_chars // 500, 7) AS weight,
      |    list_min(list_transform(range(0, 1 + LEAST(n_chars // 500, 7)),
      |      i -> CAST('0x' || substr(md5('ws-v1:' ||
      |        CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
      |        1, 15) AS BIGINT))) AS ticket
      |  FROM documents) t
      |ORDER BY ticket, doc_id LIMIT 100""".stripMargin

  /** Prefix-cache locality reorder gain: inference/batching serving
    * stacks reuse KV-cache across requests that share a token prefix, so
    * the scheduler question is "how many prefix chars do ADJACENT docs
    * share under my ordering?". Reports exact adjacent-pair LCP totals
    * (capped at 64 chars) under (a) arrival order — doc_id within
    * 100-doc blocks — and (b) prefix-sorted order within 2-char shard
    * buckets. Both pairings are PARTITIONED BY DESIGN (block / bucket),
    * so the windows shuffle-scale instead of collapsing to one global
    * sort partition; that is also the real serving shape (requests are
    * sharded by prefix). LCP is exact positional algebra — max i with
    * equal i-prefixes — via the native byte-walk kernel
    * ([[graft.expressions.CommonPrefixChars]], spec-asserted equal to
    * the 64-term substring tower it replaced; one allocation-free walk
    * per pair vs 64 substring materializations) — identical on both
    * engines.
    */
  def q172PrefixOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("__p64"))
    def lcp(a: Column, b: Column): Column =
      TextFunctions.commonPrefixChars(a, b, 64)
    def report(strategy: String, paired: DataFrame): DataFrame =
      paired.where(col("__prev").isNotNull)
        .select(lcp(col("__prev"), col("__p64")).as("__lcp"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("__lcp")).as("total_lcp"))
        .select(lit(strategy).as("strategy"), col("n_pairs"),
          col("total_lcp"),
          when(col("n_pairs") > 0,
            expr("total_lcp * 1000000 DIV n_pairs")).as("avg_lcp_ppm"))
    val idOrder = docs
      .withColumn("__prev", lag(col("__p64"), 1).over(
        Window.partitionBy(expr("doc_id DIV 100")).orderBy(col("doc_id"))))
    val sorted = docs
      .withColumn("__prev", lag(col("__p64"), 1).over(
        Window.partitionBy(substring(col("__p64"), 1, 2))
          .orderBy(col("__p64"), col("doc_id"))))
    report("id_order", idOrder)
      .unionAll(report("prefix_sorted", sorted))
      .orderBy(col("strategy"))
  }

  val q172Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, substr(text, 1, 64) AS p64 FROM documents
      |  WHERE text IS NOT NULL),
      |ido AS (
      |  SELECT p64, LAG(p64) OVER (PARTITION BY doc_id // 100
      |    ORDER BY doc_id) AS prev
      |  FROM docs),
      |srt AS (
      |  SELECT p64, LAG(p64) OVER (PARTITION BY substr(p64, 1, 2)
      |    ORDER BY p64, doc_id) AS prev
      |  FROM docs),
      |lcps AS (
      |  SELECT 'id_order' AS strategy,
      |    list_max(list_transform(range(1, 65), i -> CASE
      |      WHEN i <= LEAST(len(prev), len(p64))
      |        AND substr(prev, 1, i) = substr(p64, 1, i)
      |      THEN i ELSE 0 END)) AS lcp
      |  FROM ido WHERE prev IS NOT NULL
      |  UNION ALL
      |  SELECT 'prefix_sorted' AS strategy,
      |    list_max(list_transform(range(1, 65), i -> CASE
      |      WHEN i <= LEAST(len(prev), len(p64))
      |        AND substr(prev, 1, i) = substr(p64, 1, i)
      |      THEN i ELSE 0 END)) AS lcp
      |  FROM srt WHERE prev IS NOT NULL)
      |SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(lcp) AS BIGINT) AS total_lcp,
      |  CAST(CASE WHEN COUNT(*) > 0
      |    THEN SUM(lcp) * 1000000 // COUNT(*) END AS BIGINT)
      |    AS avg_lcp_ppm
      |FROM lcps GROUP BY strategy ORDER BY strategy""".stripMargin

  /** CDC apply with deletes: replay an insert/update/delete op log onto
    * a snapshot — latest sequence number wins per key, a winning D
    * removes the row (the piece q11's last-writer upsert does not
    * cover). The op log is derived deterministically from `orders`
    * (I for every key at seq 1; U with +10% price — exact cents
    * arithmetic `c + c DIV 10` — at seq 2 for keys ≡0 mod 5; D at seq 3
    * for keys ≡0 mod 7), so both engines replay the identical log. One
    * shuffle on the key for the row_number arbitration; at 100 TB the
    * log side is the small delta and the snapshot side stays bucketed.
    */
  def q173CdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("__c"))
    val ins = base.select(col("o_orderkey"), col("o_orderpriority"),
      col("__c").as("cents"), lit("I").as("op"), lit(1L).as("seq"))
    val upd = base.where(pmod(col("o_orderkey"), lit(5L)) === 0L)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("__c") + expr("__c DIV 10")).as("cents"),
        lit("U").as("op"), lit(2L).as("seq"))
    val del = base.where(pmod(col("o_orderkey"), lit(7L)) === 0L)
      .select(col("o_orderkey"), col("o_orderpriority"),
        lit(null).cast("long").as("cents"), lit("D").as("op"),
        lit(3L).as("seq"))
    val byKey = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("seq").desc)
    ins.unionAll(upd).unionAll(del)
      .withColumn("__rn", row_number().over(byKey))
      .where(col("__rn") === 1 && col("op") =!= "D")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val q173Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |  FROM orders),
      |ops AS (
      |  SELECT o_orderkey, o_orderpriority, c AS cents, 'I' AS op,
      |    1 AS seq FROM base
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, c + c // 10, 'U', 2
      |  FROM base WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, NULL, 'D', 3
      |  FROM base WHERE o_orderkey % 7 = 0),
      |win AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |    ORDER BY seq DESC) AS rn
      |  FROM ops)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM win WHERE rn = 1 AND op <> 'D'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Nucleus (top-p) vocabulary coverage per source: sort each source's
    * token histogram by count, keep the minimal prefix covering ≥90% of
    * token mass — the truncation tokenizer/vocab designers run to size
    * a vocabulary against a corpus slice. Decision in exact integers
    * (`prev_cum·10 < total·9`: a token is retained iff mass is still
    * missing before it), deterministic (count DESC, token ASC) order.
    * One tokenize pass → (source, token) partial-agg histogram; the
    * window runs over vocab-sized rows (bounded by distinct tokens per
    * source), never the raw token stream.
    */
  def q174ToppVocab(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "documents")
      .select(col("source"),
        explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("__c"))
    val bySrc = Window.partitionBy(col("source"))
    val ordered = bySrc.orderBy(col("__c").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__tot", sum(col("__c")).over(bySrc))
      .withColumn("__cum", sum(col("__c")).over(ordered))
      .withColumn("__keep",
        (col("__cum") - col("__c")) * 10 < col("__tot") * 9)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("tokens_retained"),
        max(col("__tot")).as("__t"),
        sum(when(col("__keep"), col("__c")).otherwise(0L)).as("__kc"))
      .select(col("source"), col("vocab_size"), col("tokens_retained"),
        expr("__kc * 1000000 DIV __t").as("coverage_ppm"))
      .orderBy(col("source"))
  }

  val q174Sql: String =
    """WITH hist AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |        AS tok
      |    FROM documents) u
      |  GROUP BY source, tok),
      |win AS (
      |  SELECT source, c,
      |    SUM(c) OVER (PARTITION BY source) AS tot,
      |    SUM(c) OVER (PARTITION BY source ORDER BY c DESC, tok
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size,
      |  CAST(SUM(CASE WHEN (cum - c) * 10 < tot * 9 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS tokens_retained,
      |  CAST(SUM(CASE WHEN (cum - c) * 10 < tot * 9 THEN c ELSE 0 END)
      |    * 1000000 // MAX(tot) AS BIGINT) AS coverage_ppm
      |FROM win GROUP BY source ORDER BY source""".stripMargin

  /** The FK edges of the TPC-H-ish star, shared engine/oracle. */
  private val riEdges: Seq[(String, String, String, String, String)] = Seq(
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  /** Referential-integrity audit: orphan counts + exact ppm for every
    * FK edge of the star — the data-contract check run before a corpus
    * snapshot is published. Each edge is one left join on the key with
    * a null-probe count (PK sides are unique, so no distinct shuffle);
    * small dims broadcast, fact-fact edges shuffle on the key. Edge
    * list is ONE Scala value spliced into both the engine loop and the
    * oracle's UNION ALL.
    */
  def q175RiAudit(s: SparkSession, dir: String): DataFrame =
    riEdges.map { case (edge, child, ck, parent, pk) =>
      t(s, dir, child).select(col(ck))
        .join(t(s, dir, parent).select(col(pk), lit(1L).as("__hit")),
          col(ck) === col(pk), "left")
        .agg(count(lit(1)).as("child_rows"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("orphans"))
        .select(lit(edge).as("edge"), col("child_rows"), col("orphans"),
          expr("orphans * 1000000 DIV child_rows").as("orphan_ppm"))
    }.reduce(_ unionAll _).orderBy(col("edge"))

  val q175Sql: String = riEdges.map { case (edge, child, ck, parent, pk) =>
    s"""SELECT '$edge' AS edge, CAST(COUNT(*) AS BIGINT) AS child_rows,
      |  CAST(COUNT(*) FILTER (WHERE p.$pk IS NULL) AS BIGINT) AS orphans,
      |  CAST(COUNT(*) FILTER (WHERE p.$pk IS NULL) * 1000000 // COUNT(*)
      |    AS BIGINT) AS orphan_ppm
      |FROM $child c LEFT JOIN $parent p ON p.$pk = c.$ck""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  /** The 31 detail blocks of an unnormalized 32-point Haar transform:
    * (level, pos, plus-indices, minus-indices). Level ℓ coefficient p =
    * Σ c[first half of block] − Σ c[second half]; closed form, so the
    * whole transform unrolls into flat ±1 sums over the 32 day columns
    * — no recursion, no lambdas, one shared Scala value feeding both
    * engine Columns and oracle SQL. Emitted level-major/pos-ascending =
    * the burst-argmax tie priority.
    */
  private val haarBlocks: Seq[(Int, Int, Seq[Int], Seq[Int])] = for {
    l <- 1 to 5
    size = 1 << l
    half = size >> 1
    p <- 0 until 32 / size
  } yield (l, p, (0 until half).map(p * size + _),
    (0 until half).map(p * size + half + _))

  /** Haar-wavelet burst profile per event type: daily counts on a
    * 32-day wheel (day-of-cycle = epoch-days mod 32) run through an
    * unnormalized 32-point Haar transform; the report is each type's
    * dominant detail coefficient — (level, position, signed value) of
    * the max |coef|, ties to the finest level then lowest position —
    * plus total count and exact detail energy. Level-1 spikes = single
    * -day bursts, level-5 = half-cycle regime shifts: the multi-scale
    * burst detector over activity series. Everything is ±1 integer
    * sums of counts: ONE partial-aggregated pass builds the 32
    * per-day columns (map-side combine, |types| rows out), the
    * transform + argmax unroll statically (31 shared blocks, flat
    * codegen). Energy ≤ 63·(32·max_daily)² stays far inside BIGINT.
    */
  def q176HaarBursts(s: SparkSession, dir: String): DataFrame = {
    val day = pmod(datediff(to_date(col("ts")),
      lit(java.sql.Date.valueOf("1970-01-01"))), lit(32))
    val dayCounts = (0 until 32).map(i =>
      sum(when(col("__day") === i, 1L).otherwise(0L)).as(s"__c$i"))
    val coefCols = haarBlocks.map { case (l, p, plusIdx, minusIdx) =>
      (plusIdx.map(i => col(s"__c$i")).reduce(_ + _) -
        minusIdx.map(i => col(s"__c$i")).reduce(_ + _)).as(s"__d${l}_$p")
    }
    val totalCol = (0 until 32).map(i => col(s"__c$i")).reduce(_ + _)
      .as("__tot")
    def dn(l: Int, p: Int) = col(s"__d${l}_$p")
    val babs = greatest(haarBlocks.map { case (l, p, _, _) =>
      abs(dn(l, p)) }: _*)
    val burst = haarBlocks.foldRight(
      lit(null).cast("struct<l:bigint,p:bigint,c:bigint>")) {
      case ((l, p, _, _), acc) =>
        when(abs(dn(l, p)) === col("__babs"),
          struct(lit(l.toLong).as("l"), lit(p.toLong).as("p"),
            dn(l, p).as("c"))).otherwise(acc)
    }
    val energy = haarBlocks.map { case (l, p, _, _) =>
      dn(l, p) * dn(l, p) }.reduce(_ + _)
    events(s, dir)
      .select(col("event_type"), day.as("__day"))
      .groupBy(col("event_type"))
      .agg(dayCounts.head, dayCounts.tail: _*)
      .select(col("event_type") +: totalCol +: coefCols: _*)
      .withColumn("__babs", babs)
      .withColumn("__burst", burst)
      .select(col("event_type"), col("__tot").as("total"),
        col("__burst")("l").as("burst_level"),
        col("__burst")("p").as("burst_pos"),
        col("__burst")("c").as("burst_coef"),
        energy.as("detail_energy"))
      .orderBy(col("event_type"))
  }

  val q176Sql: String = {
    val cDefs = (0 until 32).map(i =>
      s"SUM(CASE WHEN day = $i THEN 1 ELSE 0 END) AS c$i").mkString(",\n      |    ")
    val dDefs = haarBlocks.map { case (l, p, plusIdx, minusIdx) =>
      val plus = plusIdx.map(i => s"c$i").mkString(" + ")
      val minus = minusIdx.map(i => s"c$i").mkString(" + ")
      s"($plus) - ($minus) AS d${l}_$p"
    }.mkString(",\n      |    ")
    val tot = (0 until 32).map(i => s"c$i").mkString(" + ")
    val gre = haarBlocks.map { case (l, p, _, _) => s"ABS(d${l}_$p)" }
      .mkString(", ")
    def chain(pick: (Int, Int) => String): String =
      haarBlocks.map { case (l, p, _, _) =>
        s"WHEN ABS(d${l}_$p) = babs THEN ${pick(l, p)}"
      }.mkString("CASE ", " ", " END")
    val energy = haarBlocks.map { case (l, p, _, _) =>
      s"d${l}_$p * d${l}_$p" }.mkString(" + ")
    s"""WITH ev AS (
      |  SELECT event_type,
      |    (CAST(ts AS DATE) - DATE '1970-01-01') % 32 AS day
      |  FROM events),
      |counts AS (
      |  SELECT event_type,
      |    $cDefs
      |  FROM ev GROUP BY event_type),
      |coefs AS (
      |  SELECT event_type, $tot AS tot,
      |    $dDefs
      |  FROM counts),
      |b AS (SELECT *, GREATEST($gre) AS babs FROM coefs)
      |SELECT event_type, CAST(tot AS BIGINT) AS total,
      |  CAST(${chain((l, _) => l.toString)} AS BIGINT) AS burst_level,
      |  CAST(${chain((_, p) => p.toString)} AS BIGINT) AS burst_pos,
      |  CAST(${chain((l, p) => s"d${l}_$p")} AS BIGINT) AS burst_coef,
      |  CAST($energy AS BIGINT) AS detail_energy
      |FROM b ORDER BY event_type""".stripMargin
  }

  /** First-order Markov transition matrix over each user's event-type
    * sequence (lag over exact epoch-nanos order) — the behavioral
    * sequence-mining report (what follows what, and how concentrated
    * each type's outgoing distribution is). One shuffle on user_id for
    * the lag, one hash agg on the (from, to) pair, outgoing totals as
    * a window over the |types|²-sized matrix — never the raw stream.
    */
  def q177TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    events(s, dir)
      .withColumn("__from", lag(col("event_type"), 1).over(byUser))
      .where(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__out",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 DIV __out").as("share_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q177Sql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS from_type
      |  FROM events),
      |pairs AS (
      |  SELECT from_type, event_type AS to_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE from_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type)
      |    AS BIGINT) AS share_ppm
      |FROM pairs ORDER BY from_type, to_type""".stripMargin

  /** The joins the cardinality-estimator audit covers, shared
    * engine/oracle: (name, left table, left key, right table, right key).
    */
  private val cardJoins: Seq[(String, String, String, String, String)] =
    Seq(
      ("lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"))

  /** Join-cardinality estimator audit: the textbook uniform estimate
    * |A|·|B| / max(ndv_A, ndv_B) against the EXACT join cardinality —
    * the statistics-quality check an optimizer team runs against a
    * corpus before trusting its plans. Actual count never materializes
    * the join: Σ_k c_A(k)·c_B(k) over the two key histograms (two
    * partial-aggregated scans + one histogram-sized equi-join). All
    * BIGINT; est_ppm_of_actual = est·1e6 DIV actual.
    */
  def q178JoinCardinality(s: SparkSession, dir: String): DataFrame =
    cardJoins.map { case (jn, lt, lk, rt, rk) =>
      // null keys excluded on BOTH sides up front: DuckDB's
      // COUNT(DISTINCT) skips nulls while a groupBy histogram keeps a
      // null group, and null keys never match a join anyway — the
      // audit's domain is non-null keys by definition
      val ca = t(s, dir, lt).where(col(lk).isNotNull)
        .groupBy(col(lk).as("__k")).agg(count(lit(1)).as("__ca"))
      val cb = t(s, dir, rt).where(col(rk).isNotNull)
        .groupBy(col(rk).as("__k")).agg(count(lit(1)).as("__cb"))
      val statsA = ca.agg(sum(col("__ca")).as("__ra"),
        count(lit(1)).as("__na")).withColumn("__j", lit(1))
      val statsB = cb.agg(sum(col("__cb")).as("__rb"),
        count(lit(1)).as("__nb")).withColumn("__j", lit(1))
      val actual = ca.join(cb, "__k")
        .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L))
          .as("__act")).withColumn("__j", lit(1))
      statsA.join(broadcast(statsB), Seq("__j"))
        .join(broadcast(actual), Seq("__j"))
        .select(lit(jn).as("join_name"),
          col("__ra").as("rows_a"), col("__rb").as("rows_b"),
          col("__na").as("ndv_a"), col("__nb").as("ndv_b"),
          expr("__ra * __rb DIV greatest(__na, __nb)").as("est"),
          col("__act").as("actual"),
          when(col("__act") > 0,
            expr("(__ra * __rb DIV greatest(__na, __nb)) * 1000000 DIV __act"))
            .as("est_ppm_of_actual"))
    }.reduce(_ unionAll _).orderBy(col("join_name"))

  val q178Sql: String = cardJoins.map { case (jn, lt, lk, rt, rk) =>
    s"""SELECT '$jn' AS join_name, ra AS rows_a, rb AS rows_b,
      |  na AS ndv_a, nb AS ndv_b,
      |  CAST(ra * rb // GREATEST(na, nb) AS BIGINT) AS est,
      |  act AS actual,
      |  CAST(CASE WHEN act > 0
      |    THEN (ra * rb // GREATEST(na, nb)) * 1000000 // act
      |  END AS BIGINT) AS est_ppm_of_actual
      |FROM (
      |  SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $lt
      |     WHERE $lk IS NOT NULL) AS ra,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $rt
      |     WHERE $rk IS NOT NULL) AS rb,
      |    (SELECT CAST(COUNT(DISTINCT $lk) AS BIGINT) FROM $lt) AS na,
      |    (SELECT CAST(COUNT(DISTINCT $rk) AS BIGINT) FROM $rt) AS nb,
      |    (SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) FROM
      |      (SELECT $lk AS k, CAST(COUNT(*) AS BIGINT) AS ca
      |       FROM $lt WHERE $lk IS NOT NULL GROUP BY 1) a
      |      JOIN
      |      (SELECT $rk AS k, CAST(COUNT(*) AS BIGINT) AS cb
      |       FROM $rt WHERE $rk IS NOT NULL GROUP BY 1) b
      |      ON b.k = a.k) AS act) x""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY join_name")

  /** Zipf slope per source: fit log₂-rank vs log₂-count (integer bit
    * lengths — `length(bin(x))`, exact on both engines) over the token
    * histogram by bucketed-mean OLS: rank buckets x = bitlen(rank)
    * (≤ ~40 points), per-bucket mean y in exact milli units
    * (Σ bitlen(count)·1000 DIV m), then the closed-form OLS slope over
    * the ≤40 (x, ȳ) points — one integer DIV at the end, slope in ppm
    * (a Zipfian corpus sits near −1e6). Bucketing keeps every product
    * far inside BIGINT at any corpus size (the raw-point OLS
    * numerator·1e6 overflows at ~1e15 vocab·bitlen scale) and is the
    * scale plan: the histogram aggregates to ≤40 rows per source
    * before any window.
    */
  def q179ZipfSlope(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "documents")
      .select(col("source"),
        explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("__c"))
    val ranked = hist.withColumn("__rank", row_number().over(
      Window.partitionBy(col("source"))
        .orderBy(col("__c").desc, col("tok"))))
    val buckets = ranked
      .select(col("source"),
        length(bin(col("__rank"))).cast("long").as("__x"),
        length(bin(col("__c"))).cast("long").as("__y"))
      .groupBy(col("source"), col("__x"))
      .agg(count(lit(1)).as("__m"), sum(col("__y")).as("__sy"))
      .select(col("source"), col("__x"),
        expr("__sy * 1000 DIV __m").as("__ybar"))
    buckets
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("__x")).as("__sx"), sum(col("__ybar")).as("__sy"),
        sum(col("__x") * col("__ybar")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col("source"), col("n_buckets"),
        when(col("n_buckets") * col("__sxx") - col("__sx") * col("__sx")
          =!= 0,
          expr("""(n_buckets * __sxy - __sx * __sy) * 1000
                 |DIV (n_buckets * __sxx - __sx * __sx)""".stripMargin
            .replace("\n", " ")))
          .as("slope_ppm"))
      .orderBy(col("source"))
  }

  val q179Sql: String =
    """WITH hist AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |        AS tok
      |    FROM documents) u
      |  GROUP BY source, tok),
      |ranked AS (
      |  SELECT source,
      |    CAST(len(bin(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY c DESC, tok))) AS BIGINT) AS x,
      |    CAST(len(bin(c)) AS BIGINT) AS y
      |  FROM hist),
      |buckets AS (
      |  SELECT source, x,
      |    CAST(SUM(y) * 1000 // COUNT(*) AS BIGINT) AS ybar
      |  FROM ranked GROUP BY source, x),
      |stats AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(ybar) AS BIGINT) AS sy,
      |    CAST(SUM(x * ybar) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM buckets GROUP BY source)
      |SELECT source, n_buckets,
      |  CAST(CASE WHEN n_buckets * sxx - sx * sx <> 0
      |    THEN (n_buckets * sxy - sx * sy) * 1000
      |      // (n_buckets * sxx - sx * sx)
      |  END AS BIGINT) AS slope_ppm
      |FROM stats ORDER BY source""".stripMargin

  /** Time-weighted average value per user (TWAP): each event's value
    * holds until the user's next event; the average weights values by
    * exact hold duration — the finance/ops aggregate a plain AVG gets
    * wrong whenever sampling is irregular. Durations in exact integer
    * milliseconds (`Δns DIV 1e6` — deterministic truncation on both
    * engines); per-user Σ(Δms) telescopes to the user's span, so
    * Σ(cents·Δms) ≤ max_cents·span stays far inside BIGINT at any
    * event count. One lead window on (user, ts), one hash agg. Users
    * with a single event have no hold intervals and drop out.
    */
  def q180TimeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    events(s, dir)
      .withColumn("__next", lead(col("ts_ns"), 1).over(byUser))
      .where(col("__next").isNotNull)
      .select(col("user_id"),
        expr("(__next - ts_ns) DIV 1000000").as("__dms"),
        floor(col("value") * 100 + 0.5).cast("long").as("__vc"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__dms")).as("span_ms"),
        sum(col("__vc") * col("__dms")).as("__wsum"))
      .select(col("user_id"), col("n_intervals"), col("span_ms"),
        when(col("span_ms") > 0, expr("__wsum DIV span_ms"))
          .as("twa_cents"))
      .orderBy(col("user_id"))
  }

  val q180Sql: String =
    """WITH iv AS (
      |  SELECT user_id,
      |    (LEAD(epoch_ns(ts)) OVER (PARTITION BY user_id
      |       ORDER BY epoch_ns(ts), event_id) - epoch_ns(ts)) // 1000000
      |      AS dms,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dms) AS BIGINT) AS span_ms,
      |  CAST(CASE WHEN SUM(dms) > 0
      |    THEN CAST(SUM(vc * dms) AS BIGINT) // CAST(SUM(dms) AS BIGINT)
      |  END AS BIGINT) AS twa_cents
      |FROM iv WHERE dms IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** CUSUM changepoint per event type: the day where the cumulative
    * event count deviates most from the uniform-rate line — the
    * level-shift detector run over activity series before/after a
    * rollout. Exact integer algebra on the q167 pattern: deviation at
    * day k is |cum_k·D − k·N| (cross-multiplied, no per-day division),
    * the argmax reports the day (ties to the earliest) and the
    * deviation as ONE integer DIV ppm of the D·N envelope. Day grid =
    * the type's distinct dates (counts partial-aggregate first; the
    * windows run over |dates| rows per type, never raw events).
    */
  def q181CusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
          .as("__day"))
      .groupBy(col("event_type"), col("__day"))
      .agg(count(lit(1)).as("__c"))
    val byType = Window.partitionBy(col("event_type"))
    val ordered = byType.orderBy(col("__day"))
    val dev = daily
      .withColumn("__i", row_number().over(ordered).cast("long"))
      .withColumn("__cum", sum(col("__c")).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__D", count(lit(1)).over(byType))
      .withColumn("__N", sum(col("__c")).over(byType))
      .withColumn("__dev",
        abs(col("__cum") * col("__D") - col("__i") * col("__N")))
    dev
      .withColumn("__mx", max(col("__dev")).over(byType))
      .where(col("__dev") === col("__mx"))
      .groupBy(col("event_type"))
      .agg(max(col("__D")).as("n_days"), max(col("__N")).as("total"),
        min(col("__day")).as("change_day"), max(col("__mx")).as("__m"))
      .select(col("event_type"), col("n_days"), col("total"),
        col("change_day"),
        expr("__m * 1000000 DIV (n_days * total)").as("cusum_ppm"))
      .orderBy(col("event_type"))
  }

  val q181Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |dev AS (
      |  SELECT event_type, day,
      |    ABS(SUM(c) OVER (PARTITION BY event_type ORDER BY day)
      |        * COUNT(*) OVER (PARTITION BY event_type)
      |      - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
      |        * SUM(c) OVER (PARTITION BY event_type)) AS d,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd,
      |    SUM(c) OVER (PARTITION BY event_type) AS nt
      |  FROM daily),
      |mx AS (
      |  SELECT *, MAX(d) OVER (PARTITION BY event_type) AS m FROM dev)
      |SELECT event_type, CAST(MAX(nd) AS BIGINT) AS n_days,
      |  CAST(MAX(nt) AS BIGINT) AS total,
      |  CAST(MIN(day) AS BIGINT) AS change_day,
      |  CAST(MAX(m) * 1000000 // (MAX(nd) * MAX(nt)) AS BIGINT)
      |    AS cusum_ppm
      |FROM mx WHERE d = m GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** RFM segmentation within market: recency (last order day) /
    * frequency (order count) / monetary (exact cents) quartiles per
    * customer, assigned WITHIN the customer's nation — the marketing
    * segmentation cube, partitioned by design so every quartile window
    * runs inside a market, never a global single-partition sort (also
    * the semantically right scope: quartiles mean "vs your market").
    * NTILE(4) ties break on custkey (identical first-tiles-get-extra
    * semantics on both engines). Segment code = r·100 + f·10 + m;
    * report = customers + exact mean monetary cents per (nation,
    * segment).
    */
  def q182RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long"))
          .as("__r"),
        count(lit(1)).as("__f"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("__m"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    def q(metric: Column): Column = ntile(4).over(
      Window.partitionBy(col("c_nationkey"))
        .orderBy(metric, col("c_custkey"))).cast("long")
    cust.join(perCust, col("c_custkey") === col("o_custkey"))
      .withColumn("__rq", q(col("__r")))
      .withColumn("__fq", q(col("__f")))
      .withColumn("__mq", q(col("__m")))
      .groupBy(col("c_nationkey"),
        (col("__rq") * 100 + col("__fq") * 10 + col("__mq"))
          .as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(__m) DIV count(1)").as("mean_cents"))
      .orderBy(col("c_nationkey"), col("segment"))
  }

  val q182Sql: String =
    """WITH perc AS (
      |  SELECT o_custkey,
      |    MAX(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |      AS BIGINT)) AS r,
      |    CAST(COUNT(*) AS BIGINT) AS f,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS m
      |  FROM orders GROUP BY 1),
      |seg AS (
      |  SELECT c.c_nationkey,
      |    NTILE(4) OVER (PARTITION BY c.c_nationkey
      |      ORDER BY p.r, c.c_custkey) * 100
      |    + NTILE(4) OVER (PARTITION BY c.c_nationkey
      |      ORDER BY p.f, c.c_custkey) * 10
      |    + NTILE(4) OVER (PARTITION BY c.c_nationkey
      |      ORDER BY p.m, c.c_custkey) AS segment,
      |    p.m
      |  FROM customer c JOIN perc p ON p.o_custkey = c.c_custkey)
      |SELECT c_nationkey, CAST(segment AS BIGINT) AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(m) // COUNT(*) AS BIGINT) AS mean_cents
      |FROM seg GROUP BY 1, 2 ORDER BY c_nationkey, segment""".stripMargin

  /** Duplication-vs-length calibration: does document length predict
    * exact-duplication? Docs decile-bucketed by length WITHIN source
    * (partitioned by design — and the right scope: sources have
    * different length regimes), dup flag from the engine's standard
    * content fingerprint (q25's normalization), report = exact dup ppm
    * per (source, decile) — the calibration table a curation team
    * reads before using length as a cheap dup prior. Fingerprint
    * window partitions on the fingerprint; decile window on the
    * source; both scale.
    */
  def q183DupCalibration(s: SparkSession, dir: String): DataFrame = {
    val flagged = t(s, dir, "documents")
      .withColumn("__dup",
        (count(lit(1)).over(Window.partitionBy(
          graft.functions.TextFunctions.fingerprint(col("text")))) > 1)
          .cast("long"))
    flagged
      .withColumn("__dec", ntile(10).over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))).cast("long"))
      .groupBy(col("source"), col("__dec").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__dup")).as("dups"))
      .select(col("source"), col("decile"), col("n_docs"), col("dups"),
        expr("dups * 1000000 DIV n_docs").as("dup_ppm"))
      .orderBy(col("source"), col("decile"))
  }

  val q183Sql: String =
    """WITH flagged AS (
      |  SELECT source, doc_id, n_chars,
      |    CASE WHEN COUNT(*) OVER (PARTITION BY
      |        md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) > 1
      |      THEN 1 ELSE 0 END AS dup
      |  FROM documents),
      |dec AS (
      |  SELECT source,
      |    CAST(NTILE(10) OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS decile,
      |    dup
      |  FROM flagged)
      |SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(dup) AS BIGINT) AS dups,
      |  CAST(SUM(dup) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
      |FROM dec GROUP BY 1, 2 ORDER BY source, decile""".stripMargin

  /** Conversion-lag distribution: per user, the exact nanosecond lag
    * from first 'view' to first 'purchase' (strictly after), reported
    * as integer seconds through the engine's exact interpolated
    * percentiles — the product-analytics number behind "how long does
    * conversion take". One conditional-min aggregate per user (events
    * reduce to |users| rows before anything else), then p50/p95 via
    * [[Percentiles.exact]] (sort-based, verified bit-identical to
    * DuckDB's quantile_cont).
    */
  def q184ConversionLag(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_ns")))
          .as("__tv"),
        min(when(col("event_type") === "purchase", col("ts_ns")))
          .as("__tp"))
    val lags = perUser
      .select(col("user_id"),
        when(col("__tp") > col("__tv"),
          expr("(__tp - __tv) DIV 1000000000")).as("__lag"))
    val counts = lags.agg(count(lit(1)).as("n_users"),
      count(col("__lag")).as("n_converted")).withColumn("__j", lit(1))
    val pcts = Percentiles.exact(
      lags.where(col("__lag").isNotNull).withColumn("__g", lit(1L)),
      Seq("__g"), "__lag", Seq(0.5 -> "50_lag_s", 0.95 -> "95_lag_s"))
      .withColumn("__j", lit(1))
    counts.join(broadcast(pcts), Seq("__j"))
      .select(col("n_users"), col("n_converted"), col("p50_lag_s"),
        col("p95_lag_s"))
  }

  val q184Sql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS tv,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
      |      AS tp
      |  FROM events GROUP BY user_id),
      |lags AS (
      |  SELECT user_id,
      |    CASE WHEN tp > tv THEN (tp - tv) // 1000000000 END AS lag
      |  FROM per)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(COUNT(lag) AS BIGINT) AS n_converted,
      |  quantile_cont(lag, 0.5) AS p50_lag_s,
      |  quantile_cont(lag, 0.95) AS p95_lag_s
      |FROM lags""".stripMargin

  /** Simpson diversity (repeat probability) per source: the chance two
    * tokens drawn without replacement are the SAME type —
    * Σc(c−1) / (N(N−1)) — the concentration dual of entropy, and the
    * diversity number that needs no logarithm: everything stays in
    * exact integers. Overflow-safe by dividing FIRST
    * (`Σc(c−1) DIV (N(N−1) DIV 1e6)` — Σc(c−1)·1e6 would overflow
    * BIGINT at ~3e6 tokens/source; the divide-first form is the
    * DEFINITION, expressed identically on both engines; sources under
    * 1001 tokens report NULL). Histogram partial-aggregates first; the
    * final algebra is |sources|-sized.
    */
  def q185SimpsonDiversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        explode_outer(TextFunctions.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("source"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(col("__c") * (col("__c") - 1)).as("__rep"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        when(col("n_tokens") * (col("n_tokens") - 1) >= 1000000L,
          expr("__rep DIV (n_tokens * (n_tokens - 1) DIV 1000000)"))
          .as("simpson_ppm"))
      .orderBy(col("source"))

  val q185Sql: String =
    """WITH hist AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |        AS tok
      |    FROM documents) u
      |  GROUP BY source, tok)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS vocab_size,
      |  CAST(CASE WHEN SUM(c) * (SUM(c) - 1) >= 1000000
      |    THEN CAST(SUM(c * (c - 1)) AS BIGINT)
      |      // (CAST(SUM(c) * (SUM(c) - 1) AS BIGINT) // 1000000)
      |  END AS BIGINT) AS simpson_ppm
      |FROM hist GROUP BY source ORDER BY source""".stripMargin

  /** Bloom false-positive-rate self-audit: build the engine's own
    * relational Bloom filter ([[Bloom.build]], m=16384 bits, k=4,
    * portable md5-60 positions) from a deterministic 1000-key sample
    * of EVEN orderkeys, probe it with a disjoint 2000-key sample of
    * ODD orderkeys (guaranteed non-members), and report the measured
    * false-positive count — the empirical check of the primitive every
    * 100 TB semi-join in the engine leans on (q67/q83). The samples
    * are fixed-size md5-ranked top-k (TakeOrdered — the FPR regime is
    * SF-INVARIANT by construction, no data-dependent knob), and the
    * oracle reproduces the EXACT bit array, so the false-positive SET
    * — not just the rate — must match across engines.
    */
  def q186BloomFprAudit(s: SparkSession, dir: String): DataFrame = {
    val mBits = 16384
    val kHash = 4
    val keys = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("key")).where(pmod(col("key"), lit(2L)) === 0L)
      .distinct()
      .withColumn("__h", TextDedup.md5Hash60(
        concat(lit("bf-v1:"), col("key").cast("string"))))
      .orderBy(col("__h"), col("key")).limit(1000)
      .select(col("key"))
    val probes = t(s, dir, "orders")
      .select(col("o_orderkey").as("key")).where(pmod(col("key"), lit(2L)) === 1L)
      .distinct()
      .withColumn("__h", TextDedup.md5Hash60(
        concat(lit("bp-v1:"), col("key").cast("string"))))
      .orderBy(col("__h"), col("key")).limit(2000)
      .select(col("key"))
    val words = Bloom.build(keys, "key", mBits, kHash)
    val nKeys = keys.agg(count(lit(1)).as("n_keys"))
      .withColumn("__j", lit(1))
    val fp = Bloom.probe(probes, "key", words, mBits, kHash)
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("maybe_member"), 1L).otherwise(0L))
          .as("false_positives")).withColumn("__j", lit(1))
    nKeys.join(broadcast(fp), Seq("__j"))
      .select(col("n_keys"), lit(mBits.toLong).as("m_bits"),
        col("n_probes"), col("false_positives"),
        expr("false_positives * 1000000 DIV n_probes").as("fpr_ppm"))
  }

  val q186Sql: String =
    """WITH keys AS (
      |  SELECT key FROM (
      |    SELECT DISTINCT l_orderkey AS key FROM lineitem
      |    WHERE l_orderkey % 2 = 0) k
      |  ORDER BY CAST('0x' || substr(md5('bf-v1:' ||
      |    CAST(key AS VARCHAR)), 1, 15) AS BIGINT), key
      |  LIMIT 1000),
      |probes AS (
      |  SELECT key FROM (
      |    SELECT DISTINCT o_orderkey AS key FROM orders
      |    WHERE o_orderkey % 2 = 1) p
      |  ORDER BY CAST('0x' || substr(md5('bp-v1:' ||
      |    CAST(key AS VARCHAR)), 1, 15) AS BIGINT), key
      |  LIMIT 2000),
      |kpos AS (
      |  SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
      |    CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 16384 AS pos
      |  FROM keys CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)),
      |words AS (
      |  SELECT pos // 32 AS word_idx,
      |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
      |  FROM kpos GROUP BY 1),
      |ppos AS (
      |  SELECT key, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
      |    CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 16384 AS pos
      |  FROM probes CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)),
      |hits AS (
      |  SELECT p.key,
      |    COUNT(*) FILTER (WHERE
      |      (w.word & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)))
      |        <> 0) AS nhit
      |  FROM ppos p LEFT JOIN words w ON w.word_idx = p.pos // 32
      |  GROUP BY p.key)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS n_keys,
      |  CAST(16384 AS BIGINT) AS m_bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_probes,
      |  CAST(COUNT(*) FILTER (WHERE nhit = 4) AS BIGINT)
      |    AS false_positives,
      |  CAST(COUNT(*) FILTER (WHERE nhit = 4) * 1000000 // COUNT(*)
      |    AS BIGINT) AS fpr_ppm
      |FROM hits""".stripMargin

  /** Streaming heavy hitters: 3-micro-batch AvailableNow replay of the
    * event feed through a complete-mode (event_type, user) count
    * aggregation — the streaming state IS the count table — then the
    * top-3 users per type from the written snapshot (rank ≤ 3, ties to
    * the lower user id). The oracle is the plain batch query: replay
    * must be invisible (counts are order-independent), same contract
    * as q132/q150/q164. The post-stream ranking runs over the
    * snapshot (|types|·|users-per-type| rows), never the feed.
    */
  def q187StreamTopk(s: SparkSession, dir: String): DataFrame = {
    val src = events(s, dir).select(col("event_id"), col("event_type"),
      col("user_id"))
    val base = new org.apache.hadoop.fs.Path(
      Scratch.fastDir("graft_q187").getPath)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    fs.deleteOnExit(base)
    val stage = s"$base/stage"
    val outP = s"$base/out"
    (0 until 3).foreach { i =>
      src.filter(col("event_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    var batches = 0
    graft.streaming.Replay.withLocalCheckpoints(s, "graft_q187") { cp =>
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outP)
          batches += 1
        }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    require(batches == 3,
      s"q187 replay expected 3 micro-batches, saw $batches")
    s.read.parquet(outP)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("user_id"))).cast("long"))
      .where(col("rank") <= 3)
      .select(col("event_type"), col("rank"), col("user_id"), col("n"))
      .orderBy(col("event_type"), col("rank"))
  }

  val q187Sql: String =
    """SELECT event_type, rank, user_id, n FROM (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY COUNT(*) DESC, user_id) AS BIGINT) AS rank
      |  FROM events GROUP BY event_type, user_id) x
      |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin

  /** Near-dup detector evaluation (precision/recall curve): on the
    * planted-pair corpus (each doc vs its last-2-tokens-dropped copy,
    * q26/q31's construction), sweep the SimHash Hamming threshold
    * h ∈ 0..3 against exact token-set Jaccard ≥ 0.7 ground truth —
    * the measured PR table a curation team reads before picking the
    * knob, instead of trusting the S-curve. Fingerprints are the
    * relational ±1-vote simhash on portable md5-60 token hashes
    * (q31's, DuckDB-reproducible bit for bit); ground truth is the
    * merge-walk intersect kernel over sorted distinct tokens; the
    * pair table is an equi-join on the planted id offset (the eval
    * needs no LSH), and the 4-threshold sweep is a 4-row literal
    * cross of the |docs|-sized pair table.
    */
  def q188NeardupPr(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(mutatedCopy(docs))
    // token sets carried OUTSIDE the vote aggregate (an array-typed
    // aggregate buffer would fall off HashAggregate onto the banned
    // object/sort path) — sigs re-join the set table on the id
    // sort_array, not array_sort: the one-arg array_sort desugars to a
    // comparator LAMBDA (engine-wide interpreted-eval ban); sort_array
    // is the same ascending UTF8String-binary ordering, lambda-free
    val toksDf = corpus.select(col("doc_id").as("__id"),
      sort_array(array_distinct(TextFunctions.tokens(col("text"))))
        .as("__toks"))
    val tokenHashes = toksDf
      .select(col("__id"), explode_outer(col("__toks")).as("__t"))
      .where(col("__t").isNotNull)
      .select(col("__id"), TextDedup.md5Hash60(col("__t")).as("__h"))
    val voteAggs = (0 until 60).map(b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"__v$b"))
    val sigs = tokenHashes
      .groupBy(col("__id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("__id"),
        (0 until 60).map(b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("__sim"))
      .join(toksDf, "__id")
    val a = sigs.select(col("__id").as("__ida"), col("__toks").as("__ta"),
      col("__sim").as("__sa"))
    val b = sigs.select(col("__id").as("__idb"), col("__toks").as("__tb"),
      col("__sim").as("__sb"))
    val inter = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.SortedIntersectCount(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("__ta")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("__tb"))))
    val pairs = a.join(b, col("__idb") === col("__ida") + 1000000L)
      .select(
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long")
          .as("__ham"),
        inter.as("__i"),
        (size(col("__ta")) + size(col("__tb"))).cast("long").as("__ab"))
      .select(col("__ham"),
        (col("__i") * 10 >= (col("__ab") - col("__i")) * 7).as("__pos"))
    pairs
      .select(col("__ham"), col("__pos"),
        explode(array(lit(0L), lit(1L), lit(2L), lit(3L))).as("h"))
      .groupBy(col("h"))
      .agg(sum(when(col("__ham") <= col("h"), 1L).otherwise(0L))
          .as("predicted"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("actual_pos"),
        sum(when(col("__ham") <= col("h") && col("__pos"), 1L)
          .otherwise(0L)).as("true_pos"))
      .select(col("h"), col("predicted"), col("actual_pos"),
        col("true_pos"),
        when(col("predicted") > 0,
          expr("true_pos * 1000000 DIV predicted")).as("precision_ppm"),
        when(col("actual_pos") > 0,
          expr("true_pos * 1000000 DIV actual_pos")).as("recall_ppm"))
      .orderBy(col("h"))
  }

  val q188Sql: String = {
    val votes = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n      |      ")
    val fold = (0 until 60).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH corpus AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(
      |      list_filter(string_split(text, ' '), x -> x <> ''))) AS toks
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    list_sort(list_distinct(ta[1:GREATEST(len(ta) - 2, 1)])) AS toks
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS ta
      |        FROM documents) m),
      |fp AS (
      |  SELECT doc_id, $fold AS sim FROM (
      |    SELECT doc_id,
      |      $votes
      |    FROM (
      |      SELECT doc_id,
      |        CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |      FROM (SELECT doc_id, unnest(toks) AS tok FROM corpus) e) hh
      |    GROUP BY doc_id) v),
      |pairs AS (
      |  SELECT bit_count(xor(fa.sim, fb.sim)) AS ham,
      |    CAST(len(list_intersect(ca.toks, cb.toks)) AS BIGINT) * 10
      |      >= (CAST(len(ca.toks) + len(cb.toks) AS BIGINT)
      |        - CAST(len(list_intersect(ca.toks, cb.toks)) AS BIGINT))
      |        * 7 AS pos
      |  FROM corpus ca
      |  JOIN corpus cb ON cb.doc_id = ca.doc_id + 1000000
      |  JOIN fp fa ON fa.doc_id = ca.doc_id
      |  JOIN fp fb ON fb.doc_id = cb.doc_id),
      |sweep AS (
      |  SELECT CAST(t.h AS BIGINT) AS h, ham, pos
      |  FROM pairs CROSS JOIN (VALUES (0), (1), (2), (3)) t(h))
      |SELECT h,
      |  CAST(SUM(CASE WHEN ham <= h THEN 1 ELSE 0 END) AS BIGINT)
      |    AS predicted,
      |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
      |    AS actual_pos,
      |  CAST(SUM(CASE WHEN ham <= h AND pos THEN 1 ELSE 0 END) AS BIGINT)
      |    AS true_pos,
      |  CAST(CASE WHEN SUM(CASE WHEN ham <= h THEN 1 ELSE 0 END) > 0
      |    THEN SUM(CASE WHEN ham <= h AND pos THEN 1 ELSE 0 END) * 1000000
      |      // SUM(CASE WHEN ham <= h THEN 1 ELSE 0 END)
      |  END AS BIGINT) AS precision_ppm,
      |  CAST(CASE WHEN SUM(CASE WHEN pos THEN 1 ELSE 0 END) > 0
      |    THEN SUM(CASE WHEN ham <= h AND pos THEN 1 ELSE 0 END) * 1000000
      |      // SUM(CASE WHEN pos THEN 1 ELSE 0 END)
      |  END AS BIGINT) AS recall_ppm
      |FROM sweep GROUP BY h ORDER BY h""".stripMargin
  }

  /** The key distributions the Gini audit covers. */
  private val giniDims: Seq[(String, String)] = Seq(
    ("items_per_order", "l_orderkey"),
    ("items_per_part", "l_partkey"),
    ("items_per_supplier", "l_suppkey"))

  /** Gini concentration of key distributions (how unequal is the
    * items-per-key histogram — the scalar skew number next to q80's
    * top-k heavy hitters). Computed EXACTLY from the count-of-counts
    * histogram: equal group sizes are swap-invariant in the rank
    * formula, so each distinct size c with multiplicity m contributes
    * c·(m·start + m(m+1)/2) to Σ i·xᵢ from its contiguous rank block
    * — the windows run over the tiny distinct-size grid, never the
    * keys. Divide-first ppm (`(2S − (n+1)N) DIV (nN DIV 1e6)`) keeps
    * the algebra in BIGINT at any scale; sub-envelope inputs NULL.
    */
  def q189GiniConcentration(s: SparkSession, dir: String): DataFrame =
    giniDims.map { case (dim, key) =>
      val hist = t(s, dir, "lineitem")
        .groupBy(col(key)).agg(count(lit(1)).as("__c"))
        .groupBy(col("__c")).agg(count(lit(1)).as("__m"))
      val w = Window.orderBy(col("__c"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("__start", coalesce(sum(col("__m")).over(w), lit(0L)))
        .select(
          (col("__c") * (col("__m") * col("__start")
            + expr("__m * (__m + 1) DIV 2"))).as("__s"),
          (col("__c") * col("__m")).as("__items"), col("__m"))
        .agg(sum(col("__s")).as("__S"), sum(col("__items")).as("total_items"),
          sum(col("__m")).as("n_groups"))
        .select(lit(dim).as("dimension"), col("n_groups"),
          col("total_items"),
          when(col("n_groups") * col("total_items") >= 1000000L,
            expr("""(2 * __S - (n_groups + 1) * total_items)
                   |DIV (n_groups * total_items DIV 1000000)""".stripMargin
              .replace("\n", " "))).as("gini_ppm"))
    }.reduce(_ unionAll _).orderBy(col("dimension"))

  val q189Sql: String = giniDims.map { case (dim, key) =>
    s"""SELECT '$dim' AS dimension, n_groups, total_items,
      |  CAST(CASE WHEN n_groups * total_items >= 1000000
      |    THEN (2 * S - (n_groups + 1) * total_items)
      |      // (n_groups * total_items // 1000000)
      |  END AS BIGINT) AS gini_ppm
      |FROM (
      |  SELECT CAST(SUM(c * (m * start + m * (m + 1) // 2)) AS BIGINT)
      |      AS S,
      |    CAST(SUM(c * m) AS BIGINT) AS total_items,
      |    CAST(SUM(m) AS BIGINT) AS n_groups
      |  FROM (
      |    SELECT c, m,
      |      COALESCE(SUM(m) OVER (ORDER BY c
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS start
      |    FROM (
      |      SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM (
      |        SELECT $key, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM lineitem GROUP BY $key) g
      |      GROUP BY c) h) x) y""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY dimension")

  /** Calendar-spine gap audit per event type: which days inside each
    * type's [min, max] activity span saw ZERO events — the
    * completeness check run on ingest feeds (a silent day-long outage
    * shows up here and nowhere else). Spine = explode(sequence) over
    * per-type day bounds (span-sized, not data-sized), one left join
    * back to the distinct-day set.
    */
  def q190DateGaps(s: SparkSession, dir: String): DataFrame = {
    val days = events(s, dir)
      .select(col("event_type"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
          .as("__day"))
      .groupBy(col("event_type"), col("__day"))
      .agg(count(lit(1)).as("__c"))
    val spine = days
      .groupBy(col("event_type"))
      .agg(min(col("__day")).as("__mn"), max(col("__day")).as("__mx"))
      .select(col("event_type").as("__et"),
        explode(sequence(col("__mn"), col("__mx"))).as("__d"))
    spine
      .join(days, col("__et") === col("event_type")
        && col("__d") === col("__day"), "left")
      .groupBy(col("__et").as("event_type"))
      .agg(count(lit(1)).as("span_days"),
        sum(when(col("__day").isNull, 1L).otherwise(0L))
          .as("missing_days"),
        min(when(col("__day").isNull, col("__d"))).as("first_gap_day"))
      .orderBy(col("event_type"))
  }

  val q190Sql: String =
    """WITH days AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type, unnest(range(mn, mx + 1)) AS d FROM (
      |    SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
      |    FROM days GROUP BY event_type) b)
      |SELECT s.event_type, CAST(COUNT(*) AS BIGINT) AS span_days,
      |  CAST(SUM(CASE WHEN dd.day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS missing_days,
      |  CAST(MIN(CASE WHEN dd.day IS NULL THEN s.d END) AS BIGINT)
      |    AS first_gap_day
      |FROM spine s LEFT JOIN days dd
      |  ON dd.event_type = s.event_type AND dd.day = s.d
      |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin

  /** Growing-degree-days per region-month — the agronomic accumulation
    * the reference's 15-region weather pipeline exists to feed
    * (crop-development heat units: Σ over days of
    * max(0, (Tmax+Tmin)/2 − 10 °C)), plus heat-stress days
    * (Tmax ≥ 30 °C). Rides q20's exact derivation (same dedup +
    * validity gates), then EXACT cents fixed-point: daily max/min in
    * temperature cents, per-day 2×-cents contribution
    * `greatest(0, tmax_c + tmin_c − 2000)`, summed per month and
    * halved ONCE at the end (sum-then-DIV is the cross-engine
    * definition). Daily extremes partial-aggregate to (region, date)
    * rows before the month rollup — two tiny hash aggs after the scan.
    */
  def q191GrowingDegreeDays(s: SparkSession, dir: String): DataFrame = {
    val raw = events(s, dir).select(
      col("event_id").as("record_id"),
      concat(lit("r"), (col("user_id") % 15).cast("string")).as("region"),
      col("ts").as("data_timestamp"),
      col("ts_ns").as("data_ts_ns"),
      (col("value") % 55.0 - 5.0).as("temperature"),
      (floor(col("value")).cast("long") % 101).cast("long").as("humidity"))
    val deduped = Dedup.keepFirst(raw, Seq("region", "data_ts_ns"),
      Seq(col("record_id").asc))
    val daily = deduped
      .filter(col("temperature").between(-5, 50))
      .filter(col("humidity").between(0, 100))
      .select(col("region"),
        to_date(col("data_timestamp")).as("__date"),
        floor(col("temperature") * 100 + 0.5).cast("long").as("__tc"))
      .groupBy(col("region"), col("__date"))
      .agg(max(col("__tc")).as("__tmax"), min(col("__tc")).as("__tmin"))
    daily
      .select(col("region"),
        (year(col("__date")) * 100 + month(col("__date"))).cast("long")
          .as("month"),
        greatest(lit(0L), col("__tmax") + col("__tmin") - 2000L)
          .as("__g2"),
        when(col("__tmax") >= 3000L, 1L).otherwise(0L).as("__hs"))
      .groupBy(col("region"), col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("__g2")).as("__gs"),
        sum(col("__hs")).as("heat_stress_days"))
      .select(col("region"), col("month"), col("n_days"),
        expr("__gs DIV 2").as("gdd_cents"), col("heat_stress_days"))
      .orderBy(col("region"), col("month"))
  }

  val q191Sql: String =
    """WITH valid AS (
      |  SELECT region, data_timestamp,
      |    CAST(FLOOR(temperature * 100 + 0.5) AS BIGINT) AS tc
      |  FROM (
      |    SELECT region, data_timestamp, temperature, humidity,
      |      ROW_NUMBER() OVER (PARTITION BY region, data_timestamp
      |        ORDER BY record_id) AS rn
      |    FROM (
      |      SELECT event_id AS record_id,
      |        'r' || CAST(user_id % 15 AS VARCHAR) AS region,
      |        ts AS data_timestamp,
      |        value % 55.0 - 5.0 AS temperature,
      |        CAST(FLOOR(value) AS BIGINT) % 101 AS humidity
      |      FROM events) r) d
      |  WHERE rn = 1
      |    AND temperature BETWEEN -5 AND 50
      |    AND humidity BETWEEN 0 AND 100),
      |daily AS (
      |  SELECT region, CAST(data_timestamp AS DATE) AS dt,
      |    MAX(tc) AS tmax, MIN(tc) AS tmin
      |  FROM valid GROUP BY 1, 2),
      |md AS (
      |  SELECT region,
      |    EXTRACT(YEAR FROM dt) * 100 + EXTRACT(MONTH FROM dt) AS month,
      |    GREATEST(0, tmax + tmin - 2000) AS g2,
      |    CASE WHEN tmax >= 3000 THEN 1 ELSE 0 END AS hs
      |  FROM daily)
      |SELECT region, CAST(month AS BIGINT) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(g2) // 2 AS BIGINT) AS gdd_cents,
      |  CAST(SUM(hs) AS BIGINT) AS heat_stress_days
      |FROM md GROUP BY 1, 2 ORDER BY region, month""".stripMargin

  /** Audio near-duplicate detection through the REAL embedding stack
    * (VERDICT r9 item 3 close-out; the audio analog of q102): per
    * supplier id a genuine 16-bit PCM WAV is synthesized
    * ([[graft.operators.SynthMedia.audioSamples]] — a three-tone
    * mixture whose bins/amplitudes are residues of the id mod
    * pairwise-coprime 29·61·89·67·64, CRT-injective below 6.75e8; the
    * r10 two-residue form repeated at period 5963, below sf1's 10k
    * suppliers, r10 ADVICE), decoded and embedded
    * by [[graft.operators.Multimodal.MediaCodec.audioEmbedding]] —
    * DFT band energies + RMS profile over the decoded samples, real
    * DSP end to end. The query set is every 10th clip RE-ENCODED with
    * an extra `LIST INFO` metadata chunk
    * ([[graft.operators.Multimodal.MediaCodec.wavWithComment]]): a
    * different byte stream whose SAMPLES are identical, so its
    * embedding is bit-identical and it lands in its source's argmax
    * IVF cell under ANY centroids and scores strictly highest there —
    * the oracle predicts the full pairing in closed form without
    * assuming anything about recall (the q102 argument, verbatim).
    * Same scale shape as q102: ids-only fingerprint (the clip is a
    * pure function of its id), autoNlist quantizer persisted per
    * corpus, ids-only repartition before the CPU-bound synth+DFT
    * (generated work must not ride the id scan's split count).
    */
  def q192AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{Multimodal, Similarity}
    // lambda, not a local def: a def would lift onto this
    // (non-serializable) enclosing object and poison the task closure
    val synth: Long => Array[Byte] = id =>
      Multimodal.MediaCodec.wavEncode(16000,
        graft.operators.SynthMedia.audioSamples(id))
    val ids = t(s, dir, "supplier")
      .select(col("s_suppkey").cast("long")).as[Long]
      .repartition(s.sessionState.conf.numShufflePartitions)
    val dim = Multimodal.MediaCodec.audioEmbeddingDim
    val corpus = Multimodal.extractFeatures(
      ids.map(id => Multimodal.MediaRecord(id, "audio", synth(id),
        "audio/wav", "synth")), dim)
    val queries = Multimodal.extractFeatures(
      ids.filter(_ % 10 == 0).map(id =>
        Multimodal.MediaRecord(id + 10000000L, "audio",
          Multimodal.MediaCodec.wavWithComment(synth(id), "re-encode"),
          "audio/wav", "synth")), dim)
    val idsDf = t(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("media_id"))
    // generator-versioned store key — see q102's fingerprint comment
    val fp0 = Similarity.corpusFingerprint(idsDf, "media_id")
    val fp = (fp0._1, fp0._2 ^
      graft.operators.SynthMedia.generatorVersion * 0x9E3779B97F4A7C15L)
    val nlist = Similarity.autoNlist(fp._1)
    val centroids = Similarity.trainOrLoadIvfCentroids(corpus,
      "media_id", "embedding", dim, nlist, quantizerStoreDir,
      fingerprint = Some(fp))
    Similarity.ivfTopK(corpus, queries, "media_id", "embedding", k = 1,
        centroids = centroids, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  val q192Sql: String =
    """SELECT CAST(s_suppkey + 10000000 AS BIGINT) AS query_id,
      |  CAST(s_suppkey AS BIGINT) AS neighbor_id
      |FROM supplier WHERE s_suppkey % 10 = 0
      |ORDER BY query_id""".stripMargin

  /** Video near-duplicate detection through the REAL embedding stack
    * (the video leg of VERDICT r9 item 3): per supplier id a genuine
    * uncompressed-DIB AVI (6 frames, 24×16) is synthesized
    * ([[graft.operators.SynthMedia.videoPixel]] — CRT-injective below
    * 3.37e9; the r10 two-residue form repeated at period 60491, below
    * sf10's 100k suppliers, r10 ADVICE), decoded
    * zero-copy by [[graft.operators.AviCodec.frameReaders]] and
    * embedded by per-frame pHash POOLING
    * ([[graft.operators.Multimodal.MediaCodec.videoEmbedding]] — the
    * same DCT+histogram kernel as stills, averaged over sampled
    * frames). The query set re-encodes every 10th clip at a DIFFERENT
    * frame rate (an fps-metadata header change; every frame's pixels
    * identical), so the embedding is bit-identical and the q102
    * closed-form argument applies: the twin lands in its source's
    * argmax cell under ANY centroids and outscores every distinct
    * clip. Scale shape identical to q192/q102.
    */
  def q193VideoNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.{AviCodec, Multimodal, Similarity}
    val synth: (Long, Int) => Array[Byte] = (id, usPerFrame) =>
      AviCodec.aviEncode(24, 16, usPerFrame, 6,
        (f, x, y) => graft.operators.SynthMedia.videoPixel(id, f, x, y))
    val ids = t(s, dir, "supplier")
      .select(col("s_suppkey").cast("long")).as[Long]
      .repartition(s.sessionState.conf.numShufflePartitions)
    val dim = Multimodal.MediaCodec.imageEmbeddingDim
    val corpus = Multimodal.extractFeatures(
      ids.map(id => Multimodal.MediaRecord(id, "video",
        synth(id, 40000), "video/avi", "synth")), dim)
    val queries = Multimodal.extractFeatures(
      ids.filter(_ % 10 == 0).map(id =>
        Multimodal.MediaRecord(id + 10000000L, "video",
          synth(id, 20000), "video/avi", "synth")), dim)
    val idsDf = t(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("media_id"))
    // generator-versioned store key — see q102's fingerprint comment
    val fp0 = Similarity.corpusFingerprint(idsDf, "media_id")
    val fp = (fp0._1, fp0._2 ^
      graft.operators.SynthMedia.generatorVersion * 0x9E3779B97F4A7C15L)
    val nlist = Similarity.autoNlist(fp._1)
    val centroids = Similarity.trainOrLoadIvfCentroids(corpus,
      "media_id", "embedding", dim, nlist, quantizerStoreDir,
      fingerprint = Some(fp))
    Similarity.ivfTopK(corpus, queries, "media_id", "embedding", k = 1,
        centroids = centroids, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  val q193Sql: String =
    """SELECT CAST(s_suppkey + 10000000 AS BIGINT) AS query_id,
      |  CAST(s_suppkey AS BIGINT) AS neighbor_id
      |FROM supplier WHERE s_suppkey % 10 = 0
      |ORDER BY query_id""".stripMargin

  /** q38's exact percentiles with the chunk decomposition FORCED
    * (`windowBelowRows = 0`): every oracle SF is under the 4M-row
    * adaptive cutover, so q38/q64/q81/q85 all take the window path
    * there and the chunked+probe-pruned machinery — per-group bounds
    * broadcast, span-0 salting, NULL-safe offsets join, rank-bearing
    * chunk pruning — had spec parity but no DuckDB hash row (r12
    * VERDICT item 3). The group key runs `NULLIF` over l_returnflag so
    * a NULL group exercises the `<=>` joins end-to-end, and a third
    * probe (p25) widens the prune-target set. Values are bit-identical
    * to the window path by construction (chunking-invariant global
    * ranks — see [[graft.operators.Percentiles]]), which this row now
    * proves against an independent engine, not just against our own
    * window form.
    */
  def q194PercentileChunked(s: SparkSession, dir: String): DataFrame =
    Percentiles.exact(
      t(s, dir, "lineitem")
        .withColumn("rf_nullable", nullif(col("l_returnflag"), lit("N"))),
      Seq("rf_nullable"), "l_extendedprice",
      Seq(0.25 -> "25", 0.5 -> "50", 0.95 -> "95"), 0L)
      .orderBy(asc_nulls_first("rf_nullable"))

  val q194Sql: String =
    """SELECT NULLIF(l_returnflag, 'N') AS rf_nullable,
      |  quantile_cont(l_extendedprice, 0.25) AS p25,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.95) AS p95
      |FROM lineitem GROUP BY 1
      |ORDER BY rf_nullable NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  /** name → (query fn, optional oracle SQL). Insertion-ordered. */
  val registry: Seq[(String, ((SparkSession, String) => DataFrame, Option[String]))] = Seq(
    "q01_pricing_summary" -> ((q01PricingSummary _, Some(q01Sql))),
    "q02_dedup_keep_first" -> ((q02DedupKeepFirst _, Some(q02Sql))),
    "q03_validity_filter" -> ((q03ValidityFilter _, Some(q03Sql))),
    "q04_heat_index" -> ((q04HeatIndex _, Some(q04Sql))),
    "q05_dew_point" -> ((q05DewPoint _, Some(q05Sql))),
    "q06_rainfall_category" -> ((q06RainfallCategory _, Some(q06Sql))),
    "q07_date_parts" -> ((q07DateParts _, Some(q07Sql))),
    "q08_distinct_per_day" -> ((q08DistinctPerDay _, Some(q08Sql))),
    "q09_null_counts" -> ((q09NullCounts _, Some(q09Sql))),
    "q10_min_max" -> ((q10MinMax _, Some(q10Sql))),
    "q11_upsert_last_writer" -> ((q11UpsertLastWriter _, Some(q11Sql))),
    "q12_union_dedup" -> ((q12UnionDedup _, Some(q12Sql))),
    "q13_join_broadcast" -> ((q13JoinBroadcast _, Some(q13Sql))),
    "q14_join_agg" -> ((q14JoinAgg _, Some(q14Sql))),
    "q15_semi_join" -> ((q15SemiJoin _, Some(q15Sql))),
    "q16_anti_join" -> ((q16AntiJoin _, Some(q16Sql))),
    "q17_top_k" -> ((q17TopK _, Some(q17Sql))),
    "q18_window_running" -> ((q18WindowRunning _, Some(q18Sql))),
    "q19_rollup" -> ((q19Rollup _, Some(q19Sql))),
    "q20_weather_pipeline" -> ((q20WeatherPipeline _, Some(q20Sql))),
    "q21_doc_fingerprint" -> ((q21DocFingerprint _, Some(q21Sql))),
    "q22_token_stats" -> ((q22TokenStats _, Some(q22Sql))),
    "q23_quality_score" -> ((q23QualityScore _, Some(q23Sql))),
    "q24_lang_id" -> ((q24LangId _, Some(q24Sql))),
    "q25_exact_dedup" -> ((q25ExactDedup _, Some(q25Sql))),
    "q26_minhash_neardup" -> ((q26MinHashNearDup _, Some(q26Sql))),
    "q27_ngram_jaccard" -> ((q27NgramJaccard _, Some(q27Sql))),
    "q28_ann_topk" -> ((q28AnnTopK _, Some(q28Sql))),
    "q29_cosine_neardup" -> ((q29CosineNearDup _, Some(q29Sql))),
    "q30_multimodal_meta" -> ((q30MultimodalMeta _, Some(q30Sql))),
    "q31_simhash_neardup" -> ((q31SimHashNearDup _, Some(q31Sql))),
    "q32_asof_join" -> ((q32AsOfJoin _, Some(q32Sql))),
    "q33_json_extract" -> ((q33JsonExtract _, Some(q33Sql))),
    "q34_cube" -> ((q34Cube _, Some(q34Sql))),
    "q35_full_outer" -> ((q35FullOuter _, Some(q35Sql))),
    "q36_topk_per_group" -> ((q36TopKPerGroup _, Some(q36Sql))),
    "q37_sessionize" -> ((q37Sessionize _, Some(q37Sql))),
    "q38_percentiles" -> ((q38Percentiles _, Some(q38Sql))),
    "q39_sql_quality" -> ((q39SqlQuality _, Some(q39Sql))),
    "q40_approx_distinct" -> ((q40ApproxDistinct _, Some(q40Sql))),
    "q41_range_join" -> ((q41RangeJoin _, Some(q41Sql))),
    "q42_pivot" -> ((q42Pivot _, Some(q42Sql))),
    "q43_word_count" -> ((q43WordCount _, Some(q43Sql))),
    "q44_collect_sorted" -> ((q44CollectSorted _, Some(q44Sql))),
    "q45_stats" -> ((q45Stats _, Some(q45Sql))),
    "q46_chunking" -> ((q46Chunking _, Some(q46Sql))),
    "q47_hash_split" -> ((q47HashSplit _, Some(q47Sql))),
    "q48_packing" -> ((q48Packing _, Some(q48Sql))),
    "q49_scrub" -> ((q49Scrub _, Some(q49Sql))),
    "q50_text_ann" -> ((q50TextAnn _, Some(q50Sql))),
    "q51_tumbling_window" -> ((q51TumblingWindow _, Some(q51Sql))),
    "q52_filtered_distinct" -> ((q52FilteredDistinct _, Some(q52Sql))),
    "q53_ivf_ann" -> ((q53IvfAnn _, Some(q53Sql))),
    "q54_freq_items" -> ((q54FreqItems _, Some(q54Sql))),
    "q55_dup_clusters" -> ((q55DupClusters _, Some(q55Sql))),
    "q56_bm25_topk" -> ((q56Bm25 _, Some(q56Sql))),
    "q57_decontam" -> ((q57Decontam _, Some(q57Sql))),
    "q58_int8_quant" -> ((q58Int8Quant _, Some(q58Sql))),
    "q59_dedup_survivors" -> ((q59DedupSurvivors _, Some(q59Sql))),
    "q60_embedding_stats" -> ((q60EmbeddingStats _, Some(q60Sql))),
    "q61_embedding_outliers" -> ((q61EmbeddingOutliers _, Some(q61Sql))),
    "q62_weighted_mix" -> ((q62WeightedMix _, Some(q62Sql))),
    "q63_salted_agg" -> ((q63SaltedAgg _, Some(q63Sql))),
    "q64_approx_quantiles" -> ((q64ApproxQuantiles _, Some(q64Sql))),
    "q65_repetition" -> ((q65Repetition _, Some(q65Sql))),
    "q66_resample_ffill" -> ((q66Resample _, Some(q66Sql))),
    "q67_bloom_semijoin" -> ((q67BloomSemiJoin _, Some(q67Sql))),
    "q68_correlation" -> ((q68Correlation _, Some(q68Sql))),
    "q69_sliding_window" -> ((q69SlidingWindow _, Some(q69Sql))),
    "q70_ntile_deciles" -> ((q70Ntile _, Some(q70Sql))),
    "q71_stratum_sample" -> ((q71StratumSample _, Some(q71Sql))),
    "q72_moving_window" -> ((q72MovingWindow _, Some(q72Sql))),
    "q73_set_ops" -> ((q73SetOps _, Some(q73Sql))),
    "q74_edit_distance" -> ((q74EditDistance _, Some(q74Sql))),
    "q75_incremental_agg" -> ((q75IncrementalAgg _, Some(q75Sql))),
    "q76_funnel" -> ((q76Funnel _, Some(q76Sql))),
    "q77_winnow_overlap" -> ((q77Winnow _, Some(q77Sql))),
    "q78_keywords" -> ((q78Keywords _, Some(q78Sql))),
    "q79_zorder" -> ((q79ZOrder _, Some(q79Sql))),
    "q80_skew_report" -> ((q80SkewReport _, Some(q80Sql))),
    "q81_mad_outliers" -> ((q81MadOutliers _, Some(q81Sql))),
    "q82_cohort" -> ((q82Cohort _, Some(q82Sql))),
    "q83_incremental_dedup" -> ((q83IncrementalDedup _, Some(q83Sql))),
    "q84_winsorized" -> ((q84Winsorized _, Some(q84Sql))),
    "q85_table_profile" -> ((q85TableProfile _, Some(q85Sql))),
    "q86_active_users" -> ((q86ActiveUsers _, Some(q86Sql))),
    "q87_audio_codec" -> ((q87AudioCodec _, Some(q87Sql))),
    "q88_salted_join" -> ((q88SaltedJoin _, Some(q88Sql))),
    "q89_bucketed_join" -> ((q89BucketedJoin _, Some(q89Sql))),
    "q90_stream_upsert" -> ((q90StreamUpsert _, Some(q90Sql))),
    "q91_image_codec" -> ((q91ImageCodec _, Some(q91Sql))),
    "q92_jpeg_codec" -> ((q92JpegCodec _, Some(q92Sql))),
    "q93_boilerplate" -> ((q93Boilerplate _, Some(q93Sql))),
    "q94_bigram_lm" -> ((q94BigramLm _, Some(q94Sql))),
    "q95_hybrid_rrf" -> ((q95HybridRrf _, Some(q95Sql))),
    "q96_semdedup" -> ((q96SemDedup _, Some(q96Sql))),
    "q97_curation" -> ((q97Curation _, Some(q97Sql))),
    "q98_video_codec" -> ((q98VideoCodec _, Some(q98Sql))),
    "q99_incremental_neardup" -> ((q99IncrementalNeardup _, Some(q99Sql))),
    "q100_stream_neardup" -> ((q100StreamNeardup _, Some(q100Sql))),
    "q101_compression_filter" -> ((q101CompressionFilter _, Some(q101Sql))),
    "q102_image_neardup" -> ((q102ImageNearDup _, Some(q102Sql))),
    "q103_progressive_jpeg" -> ((q103ProgressiveJpeg _, Some(q103Sql))),
    "q104_substring_dedup" -> ((q104SubstringDedup _, Some(q104Sql))),
    "q105_pagerank" -> ((q105PageRank _, Some(q105Sql))),
    "q106_shuffle_shard" -> ((q106ShuffleShard _, Some(q106Sql))),
    "q107_bpe_train" -> ((q107BpeTrain _, Some(q107Sql))),
    "q108_unpivot" -> ((q108Unpivot _, Some(q108Sql))),
    "q109_gif_codec" -> ((q109GifCodec _, Some(q109Sql))),
    "q110_multiprobe_ann" -> ((q110MultiProbeAnn _, Some(q110Sql))),
    "q111_sketch_store" -> ((q111SketchStore _, Some(q111Sql))),
    "q112_triangle_count" -> ((q112TriangleCount _, Some(q112Sql))),
    "q113_label_prop" -> ((q113LabelProp _, Some(q113Sql))),
    "q114_scd2" -> ((q114Scd2 _, Some(q114Sql))),
    "q115_chi2_tokens" -> ((q115Chi2Tokens _, Some(q115Sql))),
    "q116_theta_overlap" -> ((q116ThetaOverlap _, Some(q116Sql))),
    "q117_skyline" -> ((q117Skyline _, Some(q117Sql))),
    "q118_incremental_cc" -> ((q118IncrementalCC _, Some(q118Sql))),
    "q119_stream_cc" -> ((q119StreamCC _, Some(q119Sql))),
    "q120_audio_match" -> ((q120AudioMatch _, Some(q120Sql))),
    "q121_format_roundtrip" -> ((q121FormatRoundtrip _, Some(q121Sql))),
    "q122_freq_store" -> ((q122FreqStore _, Some(q122Sql))),
    "q123_snapshot_diff" -> ((q123SnapshotDiff _, Some(q123Sql))),
    "q124_pmi_pairs" -> ((q124PmiPairs _, Some(q124Sql))),
    "q125_group_ols" -> ((q125GroupOls _, Some(q125Sql))),
    "q126_session_window" -> ((q126SessionWindow _, Some(q126Sql))),
    "q127_pit_join" -> ((q127PitJoin _, Some(q127Sql))),
    "q128_prefix_join" -> ((q128PrefixJoin _, Some(q128Sql))),
    "q129_encoding_profile" -> ((q129EncodingProfile _, Some(q129Sql))),
    "q130_bootstrap_ci" -> ((q130BootstrapCI _, Some(q130Sql))),
    "q131_bpe_encode" -> ((q131BpeEncode _, Some(q131Sql))),
    "q132_stream_dedup" -> ((q132StreamDedup _, Some(q132Sql))),
    "q133_knn_label" -> ((q133KnnLabel _, Some(q133Sql))),
    "q134_importance_odds" -> ((q134ImportanceOdds _, Some(q134Sql))),
    "q135_gopher_rules" -> ((q135GopherRules _, Some(q135Sql))),
    "q136_fuzzy_decontam" -> ((q136FuzzyDecontam _, Some(q136Sql))),
    "q137_mixture_alloc" -> ((q137MixtureAlloc _, Some(q137Sql))),
    "q138_token_drift" -> ((q138TokenDrift _, Some(q138Sql))),
    "q139_hard_negatives" -> ((q139HardNegatives _, Some(q139Sql))),
    "q140_source_overlap" -> ((q140SourceOverlap _, Some(q140Sql))),
    "q141_length_curve" -> ((q141LengthCurve _, Some(q141Sql))),
    "q142_novel_ngrams" -> ((q142NovelNgrams _, Some(q142Sql))),
    "q143_filter_funnel" -> ((q143FilterFunnel _, Some(q143Sql))),
    "q144_soft_dedup" -> ((q144SoftDedupWeights _, Some(q144Sql))),
    "q145_source_profile" -> ((q145SourceProfile _, Some(q145Sql))),
    "q146_lang_confusion" -> ((q146LangConfusion _, Some(q146Sql))),
    "q147_prefix_dup" -> ((q147PrefixDup _, Some(q147Sql))),
    "q148_vocab_growth" -> ((q148VocabGrowth _, Some(q148Sql))),
    "q149_dedup_savings" -> ((q149DedupSavings _, Some(q149Sql))),
    "q150_stream_quality" -> ((q150StreamQuality _, Some(q150Sql))),
    "q151_split_leakage" -> ((q151SplitLeakage _, Some(q151Sql))),
    "q152_oov_coverage" -> ((q152OovCoverage _, Some(q152Sql))),
    "q153_tokenizer_fertility" -> ((q153TokenizerFertility _, Some(q153Sql))),
    "q154_best_of_dup" -> ((q154BestOfDup _, Some(q154Sql))),
    "q155_containment_join" -> ((q155ContainmentJoin _, Some(q155Sql))),
    "q156_scrub_impact" -> ((q156ScrubImpact _, Some(q156Sql))),
    "q157_fisher_score" -> ((q157FisherScore _, Some(q157Sql))),
    "q158_quantile_store" -> ((q158QuantileStore _, Some(q158Sql))),
    "q159_dup_flow_matrix" -> ((q159DupFlowMatrix _, Some(q159Sql))),
    "q160_quantile_store_inc" -> ((q160QuantileStoreInc _, Some(q160Sql))),
    "q161_hrw_reshard" -> ((q161HrwReshard _, Some(q161Sql))),
    "q162_token_kcore" -> ((q162TokenKcore _, Some(q162Sql))),
    "q163_centroid_drift" -> ((q163CentroidDrift _, Some(q163Sql))),
    "q164_stream_quantiles" -> ((q164StreamQuantiles _, Some(q164Sql))),
    "q165_luhn_audit" -> ((q165LuhnAudit _, Some(q165Sql))),
    "q166_dup_transitivity" -> ((q166DupTransitivity _, Some(q166Sql))),
    "q167_ks_drift" -> ((q167KsDrift _, Some(q167Sql))),
    "q168_interval_merge" -> ((q168IntervalMerge _, Some(q168Sql))),
    "q169_geo_nearest" -> ((q169GeoNearest _, Some(q169Sql))),
    "q170_benford_audit" -> ((q170BenfordAudit _, Some(q170Sql))),
    "q171_weighted_sample" -> ((q171WeightedSample _, Some(q171Sql))),
    "q172_prefix_order" -> ((q172PrefixOrder _, Some(q172Sql))),
    "q173_cdc_apply" -> ((q173CdcApply _, Some(q173Sql))),
    "q174_topp_vocab" -> ((q174ToppVocab _, Some(q174Sql))),
    "q175_ri_audit" -> ((q175RiAudit _, Some(q175Sql))),
    "q176_haar_bursts" -> ((q176HaarBursts _, Some(q176Sql))),
    "q177_transition_matrix" -> ((q177TransitionMatrix _, Some(q177Sql))),
    "q178_join_cardinality" -> ((q178JoinCardinality _, Some(q178Sql))),
    "q179_zipf_slope" -> ((q179ZipfSlope _, Some(q179Sql))),
    "q180_time_weighted_avg" -> ((q180TimeWeightedAvg _, Some(q180Sql))),
    "q181_cusum_changepoint" -> ((q181CusumChangepoint _, Some(q181Sql))),
    "q182_rfm_segments" -> ((q182RfmSegments _, Some(q182Sql))),
    "q183_dup_calibration" -> ((q183DupCalibration _, Some(q183Sql))),
    "q184_conversion_lag" -> ((q184ConversionLag _, Some(q184Sql))),
    "q185_simpson_diversity" -> ((q185SimpsonDiversity _, Some(q185Sql))),
    "q186_bloom_fpr_audit" -> ((q186BloomFprAudit _, Some(q186Sql))),
    "q187_stream_topk" -> ((q187StreamTopk _, Some(q187Sql))),
    "q188_neardup_pr" -> ((q188NeardupPr _, Some(q188Sql))),
    "q189_gini_concentration" -> ((q189GiniConcentration _, Some(q189Sql))),
    "q190_date_gaps" -> ((q190DateGaps _, Some(q190Sql))),
    "q191_growing_degree_days" ->
      ((q191GrowingDegreeDays _, Some(q191Sql))),
    "q192_audio_neardup" -> ((q192AudioNearDup _, Some(q192Sql))),
    "q193_video_neardup" -> ((q193VideoNearDup _, Some(q193Sql))),
    "q194_percentile_chunked" -> ((q194PercentileChunked _, Some(q194Sql))))
}
