package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class KllSketchSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("exact mode: inclusive quantile is the ceil(q*n)-th order statistic") {
    // n = 100 <= k: no compaction, the sketch holds every item.
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val sk = df.agg(Sketches.kllSketch(col("v"), 800).as("sk"))
    val r = sk.select(
      Sketches.kllQuantile(col("sk"), lit(0.5)).as("p50"),
      Sketches.kllQuantile(col("sk"), lit(0.95)).as("p95"),
      Sketches.kllQuantile(col("sk"), lit(0.01)).as("p01"),
      Sketches.kllN(col("sk")).as("n")).head()
    assert(r.getDouble(0) === 50.0) // ceil(0.5*100) = 50th
    assert(r.getDouble(1) === 95.0)
    assert(r.getDouble(2) === 1.0)
    assert(r.getLong(3) === 100L)
  }

  test("merge across partitions is value-correct in exact mode") {
    // 32 partitions each holding a slice; exact-mode merge must see
    // the full ordered multiset, not per-partition artifacts.
    val df = spark.range(0, 500, 1, 32).select((col("id") + 1).cast("double").as("v"))
    val r = df.agg(Sketches.kllSketch(col("v"), 800).as("sk"))
      .select(Sketches.kllQuantile(col("sk"), lit(0.5)),
        Sketches.kllN(col("sk"))).head()
    assert(r.getDouble(0) === 250.0)
    assert(r.getLong(1) === 500L)
  }

  test("merge agg over stored sketches == sketch of the union") {
    val df = (1 to 600).map(i => (i % 3, i.toDouble)).toDF("g", "v")
    val perGroup = df.groupBy("g")
      .agg(Sketches.kllSketch(col("v"), 800).as("sk"))
    val r = perGroup.agg(Sketches.kllMerge(col("sk"), 800).as("m"))
      .select(Sketches.kllQuantile(col("m"), lit(0.5)),
        Sketches.kllN(col("m"))).head()
    assert(r.getDouble(0) === 300.0)
    assert(r.getLong(1) === 600L)
  }

  test("estimation mode: rank error inside the k=200 band; n stays exact") {
    // 50k updates >> k=200: genuine compaction. The rank of the
    // returned quantile must sit within the published ~1.65% (99%)
    // band; n is tracked exactly regardless.
    val df = spark.range(0, 50000).select(col("id").cast("double").as("v"))
    val r = df.agg(Sketches.kllSketch(col("v"), 200).as("sk"))
      .select(Sketches.kllQuantile(col("sk"), lit(0.5)).as("p50"),
        Sketches.kllN(col("sk")).as("n"),
        Sketches.kllRank(col("sk"), lit(25000.0)).as("rk")).head()
    assert(math.abs(r.getDouble(0) / 50000.0 - 0.5) < 0.02,
      s"p50 = ${r.getDouble(0)}")
    assert(r.getLong(1) === 50000L, "n must be exact through compaction")
    assert(math.abs(r.getDouble(2) - 0.5) < 0.02, s"rank = ${r.getDouble(2)}")
  }

  test("nulls are ignored; empty sketch yields null quantile and n 0") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    val r = df.agg(Sketches.kllSketch(col("v"), 800).as("sk"))
      .select(Sketches.kllN(col("sk"))).head()
    assert(r.getLong(0) === 2L)
    val empty = Seq.empty[Double].toDF("v")
      .agg(Sketches.kllSketch(col("v"), 800).as("sk"))
      .select(Sketches.kllQuantile(col("sk"), lit(0.5)).as("q"),
        Sketches.kllN(col("sk")).as("n")).head()
    assert(empty.isNullAt(0), "empty sketch must yield null, not throw")
    assert(empty.getLong(1) === 0L)
  }

  test("codegen path: scalars survive a repartitioned (non-local) plan") {
    // ConvertToLocalRelation folds Seq.toDF into interpreted eval;
    // repartition forces whole-stage codegen through doGenCode.
    // n = 1000 > k = 800 puts the sketch in ESTIMATION mode (KLL
    // compaction is randomized, so an exact-value assert here flakes
    // run-to-run — r9 caught 498 vs 500); the codegen path is what's
    // under test, so the value asserts are the published rank band
    // while n stays exact.
    val df = spark.range(0, 1000, 1, 4).select(col("id").cast("double").as("v"))
      .repartition(3)
    val r = df.agg(Sketches.kllSketch(col("v"), 800).as("sk"))
      .repartition(2)
      .select(Sketches.kllQuantile(col("sk"), lit(0.5)).as("q"),
        Sketches.kllRank(col("sk"), lit(500.0)).as("rk"),
        Sketches.kllN(col("sk")).as("n")).head()
    assert(r.getLong(2) === 1000L, "n must be exact through compaction")
    assert(math.abs(r.getDouble(0) / 1000.0 - 0.5) < 0.02,
      s"p50 = ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 0.5) < 0.02, s"rank = ${r.getDouble(1)}")
  }

  test("day-store delta append leaves existing partitions byte-identical") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val store = tempDir("graft_kllstore").toString + "/sk"
    def listing(): Map[String, Map[String, Long]] = {
      val root = Paths.get(store)
      Files.list(root).iterator().asScala
        .filter(_.getFileName.toString.startsWith("day="))
        .map { p =>
          p.getFileName.toString ->
            Files.list(p).iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => f.getFileName.toString -> Files.size(f)).toMap
        }.toMap
    }
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val d3 = java.sql.Date.valueOf("2024-01-03")
    val initial = Seq((d1, 1.0), (d1, 2.0), (d2, 10.0)).toDF("day", "value")
    Sketches.writeDaySketches(initial, "day", "value", store, 800)
    val before = listing()
    assert(before.keySet === Set("day=2024-01-01", "day=2024-01-02"))
    // delta: a NEW day only — days 1 and 2 must not be rewritten
    Sketches.writeDaySketches(Seq((d3, 7.0), (d3, 8.0)).toDF("day", "value"),
      "day", "value", store, 800)
    val after = listing()
    assert(after.keySet === before.keySet + "day=2024-01-03")
    assert(after("day=2024-01-01") === before("day=2024-01-01"),
      "untouched partition files must be byte-identical")
    assert(after("day=2024-01-02") === before("day=2024-01-02"))
    // re-running an EXISTING day rebuilds (not merges) that day only
    Sketches.writeDaySketches(Seq((d2, 99.0)).toDF("day", "value"),
      "day", "value", store, 800)
    val rerun = listing()
    assert(rerun("day=2024-01-01") === before("day=2024-01-01"))
    val d2q = spark.read.parquet(store)
      .where(col("day") === d2)
      .select(Sketches.kllQuantile(col("sk"), lit(1.0)),
        Sketches.kllN(col("sk"))).head()
    assert(d2q.getLong(1) === 1L, "stale day-2 rows must not survive")
    assert(d2q.getDouble(0) === 99.0)
    // merged store answers == one-shot sketch over the union (exact mode)
    val merged = spark.read.parquet(store)
      .agg(Sketches.kllMerge(col("sk"), 800).as("m"))
      .select(Sketches.kllQuantile(col("m"), lit(0.5)),
        Sketches.kllN(col("m"))).head()
    // values now: 1,2 (d1), 99 (d2), 7,8 (d3) -> p50 = 3rd of {1,2,7,8,99}
    assert(merged.getLong(1) === 5L)
    assert(merged.getDouble(0) === 7.0)
  }

  test("streaming state: complete-mode kll agg folds across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    var last: Array[org.apache.spark.sql.Row] = Array.empty
    val q = mem.toDF().toDF("day", "value")
      .groupBy(col("day"))
      .agg(Sketches.kllSketch(col("value"), 800).as("sk"))
      .select(col("day"), Sketches.kllN(col("sk")).as("n"),
        Sketches.kllQuantile(col("sk"), lit(0.5)).as("p50"),
        Sketches.kllQuantile(col("sk"), lit(1.0)).as("max"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation",
        tempDir("graft_kllstream").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        last = b.collect()
      }
      .trigger(Trigger.AvailableNow())
    // batch 1: day A gets 1..4; batch 2 ADDS 5..8 to A and starts B —
    // the day-A buffer must carry over in the state store, not reset
    mem.addData((1 to 4).map(i => ("A", i.toDouble)): _*)
    val s1 = q.start(); s1.awaitTermination()
    mem.addData(((5 to 8).map(i => ("A", i.toDouble)) :+ ("B", 42.0)): _*)
    val s2 = q.start(); s2.awaitTermination()
    val m = last.map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(m("A") === ((8L, 4.0, 8.0)),
      s"day-A state must accumulate across batches: $m")
    assert(m("B") === ((1L, 42.0, 42.0)))
  }

  test("SQL surface: the kll family is registered and runs end to end") {
    val fns = new graft.expressions.GraftExtensions().functions
      .filter(_._1.startsWith("kll_")).map(f => f._1 -> f._3).toMap
    assert(fns.keySet === Set("kll_sketch_agg", "kll_merge_agg",
      "kll_quantile", "kll_rank", "kll_n"))
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = fns("kll_sketch_agg")(Seq(Literal(1.0), Literal(800)))
    assert(agg.dataType === org.apache.spark.sql.types.BinaryType)
  }
}
