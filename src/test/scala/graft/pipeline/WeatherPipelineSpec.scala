package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.Fixtures
import graft.model.WeatherModel
import graft.operators.{Dedup, WeatherTransform}
import graft.quality.QualityChecks
import graft.sources.WeatherSink

class WeatherPipelineSpec extends SparkSpec {

  private def transformed(docs: String*) = {
    val raw = Fixtures.df(spark, docs: _*)
    WeatherTransform.transform(
      graft.ingest.WeatherIngest.flatten(raw, WeatherModel.regionDim(spark),
        extractionTime = to_timestamp(lit("2023-11-15 06:00:00"))))
  }

  test("transform drops out-of-range temperature rows (T2) and derives all columns") {
    val got = transformed(Fixtures.full, Fixtures.hotOutlier)
    val rows = got.collect()
    assert(rows.map(_.getAs[String]("region")).toSeq === Seq("Nakuru"))
    val r = rows(0)
    assert(r.getAs[Double]("heat_index") === 22.5) // temp < 27 -> passthrough
    assert(r.getAs[Boolean]("is_favorable_temp"))
    assert(!r.getAs[Boolean]("is_high_humidity"))
    assert(r.getAs[String]("rainfall_category") === "Light Rain")
    assert(r.getAs[Int]("hour") === 22) // 1700000000 = 2023-11-14T22:13:20Z
    assert(r.getAs[Int]("year") === 2023)
    assert(r.getAs[java.sql.Date]("date").toString === "2023-11-14")
  }

  test("duplicate (region, data_timestamp) keeps one row (T1)") {
    val got = transformed(Fixtures.full, Fixtures.full)
    assert(got.count() === 1)
  }

  test("sink upsert: re-extraction with changed values replaces the row (S8)") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/weather"
    val day1 = transformed(Fixtures.full)
    WeatherSink.upsertInto(spark, day1, dir)
    // same natural key, newer extraction, different temperature
    val changed = Fixtures.full.replace("\"temp\":22.5", "\"temp\":25.0")
    val day2raw = Fixtures.df(spark, changed)
    val day2 = WeatherTransform.transform(
      graft.ingest.WeatherIngest.flatten(day2raw, WeatherModel.regionDim(spark),
        extractionTime = to_timestamp(lit("2023-11-16 06:00:00"))))
    WeatherSink.upsertInto(spark, day2, dir)
    val table = spark.read.parquet(dir)
    assert(table.count() === 1)
    assert(table.select("temperature").collect()(0).getDouble(0) === 25.0)
  }

  /** Fixtures.full moved to epoch second `dt` with temperature `temp`,
    * extracted at `extractedAt`.
    */
  private def reading(dt: Long, temp: Double, extractedAt: String) =
    WeatherTransform.transform(graft.ingest.WeatherIngest.flatten(
      Fixtures.df(spark, Fixtures.full.replace("1700000000", dt.toString)
        .replace("\"temp\":22.5", s"\"temp\":$temp")),
      WeatherModel.regionDim(spark),
      extractionTime = to_timestamp(lit(extractedAt))))

  /** Every parquet file under `dir` whose path contains `part`, with mtime. */
  private def filesOf(dir: String, part: String) = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.filter(p => p.toString.contains(part) &&
        p.toString.endsWith(".parquet"))
      .map[(String, java.nio.file.attribute.FileTime)](p =>
        (p.toString, Files.getLastModifiedTime(p)))
      .toArray.toSeq
    finally walk.close()
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("upsertInto rewrites only the incoming batch's partitions") {
    val dir = Files.createTempDirectory("graft_dynpart").toString + "/t"
    // stored: 2023-11-14, 2023-11-15, 2023-11-16
    val stored = Seq(1700000000L, 1700090000L, 1700176400L)
      .map(reading(_, 22.5, "2023-11-17 06:00:00")).reduce(_ unionByName _)
    WeatherSink.write(stored, dir)
    val before = spark.read.parquet(dir)
    val beforeDf = spark.createDataFrame(
      java.util.Arrays.asList(before.collect(): _*), before.schema)
    val untouched = filesOf(dir, "date=2023-11-16")
    assert(untouched.nonEmpty)
    val incoming = Seq(
      reading(1700000000L, 30.5, "2023-11-18 06:00:00"), // re-extraction
      reading(1700086400L, 18.0, "2023-11-18 06:00:00"), // late, 2023-11-15
      reading(1700262800L, 25.0, "2023-11-18 06:00:00")  // new date 2023-11-17
    ).reduce(_ unionByName _)
    WeatherSink.upsertInto(spark, incoming, dir)
    assert(filesOf(dir, "date=2023-11-16") === untouched,
      "untouched partition must not be rewritten")
    val table = spark.read.parquet(dir)
    val expected = Dedup.upsert(beforeDf, incoming, WeatherSink.naturalKey,
      versionCol = "extraction_timestamp")
    assert(table.count() === 5)
    assert(sortedRows(table) ===
      sortedRows(expected.select(table.columns.map(col): _*)))
  }

  test("an interrupted compact swap is restored, not overwritten") {
    for (op <- Seq("upsertInto", "compact")) {
      val dir = Files.createTempDirectory("graft_swap").toString + "/t"
      WeatherSink.write(reading(1700000000L, 22.5, "2023-11-15 06:00:00"), dir)
      // crash after `t -> t.__old__`, before `t.__staging__ -> t`, with a
      // half-written staging directory
      Files.move(java.nio.file.Paths.get(dir),
        java.nio.file.Paths.get(dir + ".__old__"))
      Files.write(Files.createDirectories(
        java.nio.file.Paths.get(dir + ".__staging__", "date=2023-11-14"))
        .resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      if (op == "compact") WeatherSink.compact(spark, dir)
      else WeatherSink.upsertInto(spark,
        reading(1700090000L, 24.0, "2023-11-16 06:00:00"), dir)
      val temps = spark.read.parquet(dir).orderBy("data_timestamp")
        .select("temperature").collect().map(_.getDouble(0)).toSeq
      assert(temps === (if (op == "compact") Seq(22.5) else Seq(22.5, 24.0)),
        s"$op lost the history")
      assert(!Files.exists(java.nio.file.Paths.get(dir + ".__old__")))
      assert(!Files.exists(java.nio.file.Paths.get(dir + ".__staging__")))
    }
  }

  /** Fixtures.full for `region` at epoch second `dt` with `temp`. */
  private def doc(region: String, dt: Long, temp: Double) =
    Fixtures.full.replace("Nakuru", region).replace("1700000000", dt.toString)
      .replace("\"temp\":22.5", s"\"temp\":$temp")

  private val day = 86400L

  /** A table of 42 daily partitions, 2023-10-03 .. 2023-11-13, two
    * regions each, loaded through [[WeatherPipeline.run]].
    */
  private def history(): String = {
    val dir = Files.createTempDirectory("graft_run").toString + "/t"
    val docs = (1 to 42).flatMap(k => Seq(
      doc("Nakuru", 1700000000L - k * day, k.toDouble),
      doc("Meru", 1700000000L - k * day + 60, k + 0.5)))
    WeatherPipeline.run(spark, jsonl(docs), dir,
      lit("2023-11-13").cast("date"))
    dir
  }

  /** The next day's batch: two readings on the new date 2023-11-14, a late
    * reading for 2023-11-10 and a re-extraction of a stored 2023-11-12 key.
    */
  private def dailyBatch(): String = jsonl(Seq(
    doc("Nakuru", 1700000000L, 22.5),
    doc("Meru", 1700000060L, 31.0),
    doc("Nakuru", 1700000000L - 4 * day + 3600, 45.5),
    doc("Nakuru", 1700000000L - 2 * day, -3.0)))

  private def jsonl(docs: Seq[String]): String = {
    val f = Files.createTempFile("graft_docs", ".json")
    Files.write(f, java.util.Arrays.asList(docs: _*))
    f.toString
  }

  test("run's quality report equals the checks over the whole table") {
    val dir = history()
    assert(new java.io.File(dir).list().count(_.startsWith("date=")) === 42)
    val batch = dailyBatch()
    // label, check date, regions reporting on it
    val checks = Seq(
      ("in the batch", lit("2023-11-14").cast("date"), 2),
      ("stored, not in the batch", lit("2023-10-05"), 2),
      ("no partition", to_date(lit("2024-01-01")), 0),
      ("null", lit(null), 0),
      ("folded", date_add(lit("2023-11-09").cast("date"), 1), 2))
    for ((label, d, regions) <- checks) {
      val got = WeatherPipeline.run(spark, batch, dir, d).quality
      // reference: the checks over a read of the whole table
      val want = QualityChecks.report(spark.read.parquet(dir), d)
      assert(got === want, label)
      assert(want.regionCount === regions, label)
    }
    val before = filesOf(dir, "")
    val e = intercept[IllegalArgumentException] {
      WeatherPipeline.run(spark, batch, dir, col("date"))
    }
    assert(e.getMessage.contains("constant date expression"))
    assert(filesOf(dir, "") === before, "table changed before the rejection")
  }

  test("run into a 42-partition table starts no job over its directories") {
    val dir = history()
    val batch = dailyBatch()
    val group = s"guard-${System.nanoTime()}"
    val jobTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var drained = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobTasks.add(e.stageInfos.map(_.numTasks).sum)
          case Some(g) if g == group + "-drain" => drained = true
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "run")
      WeatherPipeline.run(spark, batch, dir, lit("2023-11-14").cast("date"))
      // listener events arrive in order: once this job's start is seen,
      // every job `run` started has been counted
      sc.setJobGroup(group + "-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus not drained")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val tasks = jobTasks.toArray.toSeq.map(_.asInstanceOf[Int])
    assert(tasks.nonEmpty)
    assert(tasks.max < 40, s"tasks per job: ${tasks.mkString(", ")}")
  }

  test("readDates reads exactly the stored partitions it is asked for") {
    val dir = history()
    val dates = Seq("2023-10-04", "2023-12-01", "2023-11-13", "2023-10-04")
    val got = WeatherSink.readDates(spark, dir, dates).get
    val want = spark.read.parquet(dir).filter(col("date").isin(dates: _*))
    assert(want.count() === 4)
    assert(sortedRows(got) === sortedRows(want.select(got.columns.map(col): _*)))
    val asked = Seq("2023-10-04", "2023-11-13")
      .map(d => java.nio.file.Paths.get(dir, s"date=$d"))
    assert(got.inputFiles.nonEmpty && got.inputFiles.forall(f =>
      asked.contains(java.nio.file.Paths.get(new java.net.URI(f)).getParent)),
      got.inputFiles.mkString(", "))
    assert(WeatherSink.readDates(spark, dir, Seq("2023-12-01")).isEmpty)
    assert(WeatherSink.readDates(spark, dir + "-missing", dates).isEmpty)
  }

  test("weather store prunes partitions on date (the reference's index analog)") {
    // py:116-119's b-tree date index maps to partitionBy("date") +
    // partition pruning: a date-filtered read must carry a real
    // PartitionFilter and touch ONLY that date's files. Pruning skips the
    // other dates' files, not their directories: the read still lists
    // every `date=…` directory, so the sink's own reads name their
    // partitions by path (WeatherSink.readDates)
    val dir = Files.createTempDirectory("graft_prune").toString + "/t"
    val day1 = transformed(Fixtures.full)        // date 2023-11-14
    val day2 = WeatherTransform.transform(
      graft.ingest.WeatherIngest.flatten(
        Fixtures.df(spark, Fixtures.full.replace("1700000000", "1700090000")),
        WeatherModel.regionDim(spark),
        extractionTime = to_timestamp(lit("2023-11-15 06:00:00"))))
    WeatherSink.write(day1.unionByName(day2), dir)
    val filtered = spark.read.parquet(dir)
      .filter(col("date") === lit("2023-11-14"))
    val plan = filtered.queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("date"), s"no partition filter on date:\n$pf")
    assert(!pf.replaceAll("PartitionFilters:\\s*\\[\\s*\\]", "").isEmpty &&
      !pf.matches(".*PartitionFilters:\\s*\\[\\s*\\].*"),
      s"PartitionFilters is empty — scan reads every date:\n$pf")
    // runtime proof (inputFiles lists the PRE-pruning relation): after
    // execution the scan's own metrics must show one file / one
    // partition read, though the store holds two dates
    assert(filtered.collect().length === 1) // collect() runs THIS plan
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .find(_.metrics.contains("numFiles")).get
    assert(scan.metrics("numFiles").value === 1L,
      s"pruned scan read ${scan.metrics("numFiles").value} files")
  }

  test("compact rewrites small files without changing the data") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 8-way repartition of a tiny table -> many near-empty files
    val df = spark.range(0, 1000)
      .selectExpr("id", "CAST(date_add('2024-01-01', CAST(id % 3 AS INT)) AS DATE) AS date")
      .repartition(8)
    df.write.mode("overwrite").partitionBy("date").parquet(dir)
    def parquetFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = parquetFiles
    val beforeRows = spark.read.parquet(dir).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    WeatherSink.compact(spark, dir) // default 128 MB target -> 1 shuffle partition
    assert(parquetFiles < before,
      s"compaction must reduce file count (before=$before after=$parquetFiles)")
    val afterRows = spark.read.parquet(dir).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(afterRows === beforeRows)
  }

  test("quality report mirrors the reference's three checks (A1-A3)") {
    val got = transformed(Fixtures.full, Fixtures.missingOptionals)
    val rep = QualityChecks.report(got, lit("2023-11-14").cast("date"))
    assert(rep.regionCount === 2)
    assert(rep.nullCounts.values.sum === 0)
    assert(rep.minTemp.get === 22.5)
    assert(rep.maxTemp.get === 30.0)
    assert(rep.warnings.exists(_.contains("Expected 15 regions, found 2")))
  }

  test("runWithRetry retries the DAG 2x with the 5-min delay, then alerts (C3)") {
    var slept = Vector.empty[Long]
    var alerts = Vector.empty[String]
    // nonexistent documents path -> empty extract -> C2 guard throws on
    // every attempt; the envelope must retry twice and then alert
    val e = intercept[Exception] {
      WeatherPipeline.runWithRetry(spark,
        documentsPath = "/nonexistent/docs.json",
        tablePath = java.nio.file.Files.createTempDirectory("wp").toString,
        checkDate = lit("2023-11-14").cast("date"),
        sleep = d => slept :+= d, alert = m => alerts :+= m)
    }
    assert(slept === Vector(300000L, 300000L), "2 retries, 5 min apart (py:52-53)")
    assert(alerts.size === 1 && alerts.head.contains("after 3 attempts"))
  }
}
