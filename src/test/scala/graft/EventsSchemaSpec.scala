package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Guards against testdata parquet-encoding drift: the driver has shipped
  * `events.ts` both as int64 epoch-nanos and as `timestamp[us]`, and a
  * third change should fail HERE with a clear message, not as 34 opaque
  * analysis exceptions across the query suite. Exercises every branch of
  * `Queries.normalizeEvents` via written fixtures, plus a probe of the
  * real testdata.
  */
class EventsSchemaSpec extends SparkSpec with TempDirs {

  private val baseNs = 1700000000123456000L // µs-aligned epoch-nanos

  private def tmpDir(): String =
    tempDir("events-fixture").toString

  private def assertCanonical(df: org.apache.spark.sql.DataFrame): Unit = {
    assert(df.schema("ts").dataType == TimestampType,
      s"ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    assert(df.schema("ts_ns").dataType == LongType,
      s"ts_ns must be LongType epoch-nanos, got ${df.schema("ts_ns").dataType}")
  }

  test("long (epoch-ns) encoding normalizes, ts_ns bit-exact") {
    val dir = tmpDir()
    import spark.implicits._
    Seq((1L, baseNs), (2L, baseNs + 1000L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Queries.normalizeEvents(spark.read.parquet(s"$dir/events.parquet"))
    assertCanonical(df)
    val got = df.orderBy("event_id").select("ts_ns").as[Long].collect()
    assert(got.sameElements(Array(baseNs, baseNs + 1000L)))
  }

  test("timestamp (µs TimestampType) encoding normalizes, ts_ns = µs*1000") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType)))
    val rows = java.util.Arrays.asList(
      Row(1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        baseNs / 1000000000L, baseNs % 1000000000L))))
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Queries.normalizeEvents(spark.read.parquet(s"$dir/events.parquet"))
    assertCanonical(df)
    assert(df.select("ts_ns").head.getLong(0) == baseNs)
  }

  test("timestamp_ntz encoding normalizes identically under UTC session") {
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
    val rows = java.util.Arrays.asList(
      Row(1L, java.time.LocalDateTime.ofEpochSecond(
        baseNs / 1000000000L, (baseNs % 1000000000L).toInt,
        java.time.ZoneOffset.UTC)))
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Queries.normalizeEvents(spark.read.parquet(s"$dir/events.parquet"))
    assertCanonical(df)
    assert(df.select("ts_ns").head.getLong(0) == baseNs)
  }

  test("unrecognized ts encoding fails fast with a diagnostic") {
    import spark.implicits._
    val bad = Seq((1L, "2024-01-01")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException](Queries.normalizeEvents(bad))
    assert(e.getMessage.contains("events.ts"))
  }

  test("q111 integer day/week keys ≡ to_date/date_trunc under UTC (incl. pre-1970)") {
    // r15: q111 derives its per-row day/week keys with exact long
    // arithmetic (floorDiv via pmod; Monday = d − ((d+3) mod 7), unix
    // day 0 being a Thursday) instead of to_date/date_trunc, whose
    // per-row LocalDate/ZonedDateTime allocations dominated the sf10r
    // profile. This pins the equivalence on day boundaries, every
    // weekday, and negative (pre-1970) micros, where truncating
    // division — unlike the pmod floor — would be one day off.
    import spark.implicits._
    val us: Seq[Long] =
      Seq(-1L, 0L, 1L, -86400000000L, -86400000001L, -86399999999L,
        1700000000123456L) ++
        (0 until 15).map(d => 86400000000L * d) ++
        (0 until 15).map(d => 86400000000L * d + 43200000000L) ++
        (1 to 15).map(d => -86400000000L * d - 1L)
    val df = us.toDF("__us")
      .withColumn("ts", timestamp_micros(col("__us")))
      .withColumn("__d",
        expr("CAST((__us - pmod(__us, 86400000000)) DIV 86400000000 AS INT)"))
    val bad = df.select(
      expr("date_from_unix_date(__d)").as("day_fast"),
      to_date(col("ts")).as("day_ref"),
      expr("date_from_unix_date(__d - CAST(pmod(__d + 3, 7) AS INT))")
        .as("week_fast"),
      date_trunc("week", to_date(col("ts"))).cast("date").as("week_ref"))
      .where(col("day_fast") =!= col("day_ref") ||
        col("week_fast") =!= col("week_ref"))
    assert(bad.count() === 0, bad.collect().mkString("; "))
  }

  test("testdata naive timestamps load as TimestampType through t()/events() (no NTZ cast)") {
    // r15: inferTimestampNTZ is disabled for testdata reads — the
    // NTZ→LTZ cast runs a per-row convertTz with no same-zone shortcut
    // (q111's dominant sf10r frames). Both readings load the stored µs
    // verbatim under the UTC session; this pins the schema AND the
    // value identity of the two paths on the real fixture.
    val path = "/root/testdata/sf0.001/events.parquet"
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val viaNtz = Queries.normalizeEvents(spark.read.parquet(path))
    val ntzVals = viaNtz.select("ts_ns").orderBy("ts_ns").collect().map(_.getLong(0))
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val direct = Queries.normalizeEvents(spark.read.parquet(path))
    assert(direct.schema("ts").dataType == TimestampType)
    val directVals = direct.select("ts_ns").orderBy("ts_ns").collect().map(_.getLong(0))
    assert(directVals.sameElements(ntzVals))
  }

  test("driver testdata probe: events() canonical on sf0.001") {
    val df = Queries.normalizeEvents(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    assertCanonical(df)
    assert(df.limit(1).count() == 1)
  }
}
