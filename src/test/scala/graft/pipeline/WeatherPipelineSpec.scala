package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Final => FinalLimit, WindowExec,
  WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkSpec, TempDirs}
import graft.ingest.Fixtures
import graft.model.WeatherModel
import graft.operators.{Dedup, WeatherTransform}
import graft.quality.QualityChecks
import graft.sources.WeatherSink

class WeatherPipelineSpec extends SparkSpec with TempDirs {

  /** `docs` flattened and transformed, extracted at `extractedAt`. */
  private def rowsOf(extractedAt: String, docs: Seq[String]) =
    WeatherTransform.transform(graft.ingest.WeatherIngest.flatten(
      Fixtures.df(spark, docs: _*), WeatherModel.regionDim(spark),
      extractionTime = to_timestamp(lit(extractedAt))))

  private def transformed(docs: String*) = rowsOf("2023-11-15 06:00:00", docs)

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
    val dir = tempDir("graft_sink").toString + "/weather"
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
    rowsOf(extractedAt, Seq(doc("Nakuru", dt, temp)))

  /** Every parquet file under `dir` whose path contains `part`, with mtime. */
  private def filesOf(dir: String, part: String) = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator.asScala.filter(p => p.toString.contains(part) &&
        p.toString.endsWith(".parquet"))
      .map(p => (p.toString, Files.getLastModifiedTime(p))).toSeq
    finally walk.close()
  }

  private def sortedRows(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** `Fixtures.full`'s reading time, 2023-11-14T22:13:20Z, `k` months
    * earlier.
    */
  private def monthsAgo(k: Int): Long = {
    val utc = java.time.ZoneOffset.UTC
    java.time.LocalDateTime.ofEpochSecond(1700000000L, 0, utc)
      .minusMonths(k).toEpochSecond(utc)
  }

  /** The path segment of month `m` of `y`'s partition directory. */
  private def monthDir(y: Int, m: Int) = s"year=$y/month=$m/"

  test("upsertInto rewrites only the incoming batch's partitions") {
    val dir = tempDir("graft_dynpart").toString + "/t"
    // stored: 2023-09-14, 2023-10-14, 2023-11-14
    val stored = Seq(monthsAgo(2), monthsAgo(1), monthsAgo(0))
      .map(reading(_, 22.5, "2023-11-17 06:00:00")).reduce(_ unionByName _)
    WeatherSink.upsertInto(spark, stored, dir)
    val before = spark.read.parquet(dir)
    val beforeDf = spark.createDataFrame(
      java.util.Arrays.asList(before.collect(): _*), before.schema)
    val untouched = filesOf(dir, monthDir(2023, 9))
    assert(untouched.nonEmpty)
    val incoming = Seq(
      reading(1700000000L, 30.5, "2023-11-18 06:00:00"), // re-extraction
      reading(monthsAgo(1) - 3 * day, 18.0, "2023-11-18 06:00:00"), // late, 2023-10-11
      reading(1700000000L + 20 * day, 25.0, "2023-11-18 06:00:00")  // new month 2023-12
    ).reduce(_ unionByName _)
    WeatherSink.upsertInto(spark, incoming, dir)
    assert(filesOf(dir, monthDir(2023, 9)) === untouched,
      "untouched partition must not be rewritten")
    val table = spark.read.parquet(dir)
    val expected = Dedup.upsert(beforeDf, incoming, WeatherSink.naturalKey,
      versionCol = "extraction_timestamp")
    assert(table.count() === 5)
    assert(sortedRows(table) ===
      sortedRows(expected.select(table.columns.map(col): _*)))
  }

  /** `confs` set for the duration of `body`, then restored. */
  private def withSQLConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val midnight = 1699920000L // 2023-11-14T00:00:00Z
  private val threeRegions = Seq("Nakuru", "Meru", "Eldoret")

  /** Three regions at hours 0-3 of day `k` after 2023-11-14, `temp` + hour. */
  private def dayDocs(k: Int, temp: Double) =
    for (r <- threeRegions; h <- 0 until 4)
      yield doc(r, midnight + k * day + h * 3600, temp + h)

  /** Upserts `batch` into the table at `dir` with enough uncoalesced
    * shuffle partitions that a merge keyed on anything finer than the
    * month scatters a month over several tasks, and checks the write: one
    * file in each month the batch touches, the other months' files and
    * mtimes unchanged, and the table equal to [[Dedup.upsert]] of the rows
    * before and the batch. Returns the table's row count.
    */
  private def upsertChecked(dir: String, batch: DataFrame): Long = {
    val exists = Files.exists(java.nio.file.Paths.get(dir))
    val before =
      if (!exists) batch.limit(0)
      else {
        val stored = spark.read.parquet(dir)
        spark.createDataFrame(
          java.util.Arrays.asList(stored.collect(): _*), stored.schema)
      }
    val touched = batch.select("year", "month").distinct()
      .collect().map(r => monthDir(r.getInt(0), r.getInt(1))).toSeq
    def untouched =
      filesOf(dir, "").filterNot(f => touched.exists(f._1.contains(_)))
    val untouchedBefore = if (exists) untouched else Nil
    withSQLConf("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      WeatherSink.upsertInto(spark, batch, dir)
    }
    for (d <- touched) {
      val files = filesOf(dir, d)
      assert(files.size === 1, s"$d: ${files.mkString(", ")}")
    }
    assert(untouched === untouchedBefore,
      "untouched partitions must not be rewritten")
    val table = spark.read.parquet(dir)
    val expected = Dedup.upsert(before, batch, WeatherSink.naturalKey,
      versionCol = "extraction_timestamp")
    assert(sortedRows(table) ===
      sortedRows(expected.select(table.columns.map(col): _*)))
    table.count()
  }

  test("upsertInto writes each touched month as one file") {
    val dir = tempDir("graft_cluster").toString + "/t"
    // days after 2023-11-14: 17 is 2023-12-01, 48 is 2024-01-01, 79 is
    // 2024-02-01 and 108 is 2024-03-01
    // first load: 2023-11-14 .. 11-17 and 2023-12-01 .. 12-04, 12 rows a day
    assert(upsertChecked(dir, rowsOf("2024-04-01 06:00:00",
      (0 until 4).flatMap(dayDocs(_, 20.0)) ++
        (17 until 21).flatMap(dayDocs(_, 20.0)))) === 96)
    // only new months, 2024-01 and 2024-02
    assert(upsertChecked(dir, rowsOf("2024-04-02 06:00:00",
      dayDocs(48, 21.0) ++ dayDocs(49, 21.0) ++ dayDocs(79, 22.0))) === 96 + 36)
    // re-extractions of every 11-16 key, late readings for 12-02 and a
    // new month, 2024-03
    assert(upsertChecked(dir, rowsOf("2024-04-03 06:00:00", dayDocs(2, 25.0) ++
      threeRegions.map(doc(_, midnight + 18 * day + 5 * 3600, 30.0)) ++
      dayDocs(108, 23.0) ++ dayDocs(109, 24.0))) === 132 + 3 + 24)
  }

  /** `p`'s children, looking through AQE's wrapper and its query stages. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children
  }

  /** The nodes from `p` down to the first node that is a `T`, root first. */
  private def pathTo[T <: SparkPlan: scala.reflect.ClassTag](p: SparkPlan)
      : Option[Seq[SparkPlan]] = p match {
    case _: T => Some(Seq(p))
    case _ => kids(p).iterator.map(pathTo[T]).collectFirst {
      case Some(path) => p +: path
    }
  }

  /** The executed plan of the one query that `body` runs and `pick`
    * accepts.
    */
  private def planOf(pick: SparkPlan => Boolean)(body: => Unit): SparkPlan = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (pick(qe.executedPlan)) plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception)
          : Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size === 1, "expected one query")
    plans.peek()
  }

  private def writePlanOf(body: => Unit): SparkPlan =
    planOf(pathTo[DataWritingCommandExec](_).nonEmpty)(body)

  private def assertHashOnMonth(e: SparkPlan, write: SparkPlan) =
    e.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.flatMap(_.references.map(_.name)) ===
          Seq("year", "month"), write.toString)
      case other => fail(s"merge exchange is $other, not hash on (year, month)")
    }

  test("the merge write clusters on (year, month), with no writer sort") {
    val dir = tempDir("graft_plan").toString + "/t"
    def upsert(extractedAt: String, docs: Seq[String]) =
      writePlanOf(WeatherSink.upsertInto(spark, rowsOf(extractedAt, docs), dir))
    // 2023-11 and 2023-12
    val firstLoad = upsert("2024-01-20 06:00:00",
      dayDocs(0, 20.0) ++ dayDocs(17, 20.0))
    // 2024-01
    val newMonth = upsert("2024-01-21 06:00:00", dayDocs(48, 21.0))
    // a stored date, a new date in a stored month and a new month, 2024-02
    val merge = upsert("2024-01-22 06:00:00",
      dayDocs(0, 25.0) ++ dayDocs(2, 22.0) ++ dayDocs(79, 22.0))
    for (write <- Seq(firstLoad, newMonth, merge)) {
      val toWindow = pathTo[WindowExec](write).get
      assert(!toWindow.exists(_.isInstanceOf[SortExec]),
        s"a sort between the window and the write:\n$write")
      // the exchange that feeds the window
      assertHashOnMonth(pathTo[ShuffleExchangeExec](toWindow.last).get.last,
        write)
    }
    // with no stored partition the empty stored side is pruned, union
    // and all
    for (write <- Seq(firstLoad, newMonth))
      assert(pathTo[UnionExec](write).isEmpty, write.toString)
    val toUnion = pathTo[UnionExec](merge).get
    val exchanges = toUnion.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, merge.toString)
    assertHashOnMonth(exchanges.head, merge)
    // the window's partial WindowGroupLimit does not survive the re-key:
    // with no exchange between them Spark drops the partial limit, so the
    // merge prunes no rows before its shuffle (its inputs hold one row per
    // key already: a stored table and a deduplicated batch)
    assert(toUnion.collect { case w: WindowGroupLimitExec => w.mode } ===
      Seq(FinalLimit), merge.toString)
  }

  /** Fixtures.full for `region` at epoch second `dt` with `temp`. */
  private def doc(region: String, dt: Long, temp: Double) =
    Fixtures.full.replace("Nakuru", region).replace("1700000000", dt.toString)
      .replace("\"temp\":22.5", s"\"temp\":$temp")

  private val day = 86400L

  /** A table of 42 month partitions, 2020-05 .. 2023-10, with one day
    * each, the 14th, and two regions on it, loaded through
    * [[WeatherPipeline.run]].
    */
  private def history(): String = {
    val dir = tempDir("graft_run").toString + "/t"
    val docs = (1 to 42).flatMap(k => Seq(
      doc("Nakuru", monthsAgo(k), k.toDouble),
      doc("Meru", monthsAgo(k) + 60, k + 0.5)))
    WeatherPipeline.run(spark, jsonl(docs), dir,
      lit("2023-10-14").cast("date"))
    dir
  }

  /** The month partition directories under `dir`. */
  private def monthDirs(dir: String): Seq[String] =
    for {
      y <- new java.io.File(dir).listFiles().toSeq if y.getName.startsWith("year=")
      m <- y.list().toSeq if m.startsWith("month=")
    } yield s"${y.getName}/$m"

  /** The next day's batch: two readings on the new date 2023-11-14, in a
    * new month, a late reading for 2023-10-10 and a re-extraction of a
    * stored 2023-09-14 key.
    */
  private def dailyBatch(): String = jsonl(Seq(
    doc("Nakuru", 1700000000L, 22.5),
    doc("Meru", 1700000060L, 31.0),
    doc("Nakuru", monthsAgo(1) - 4 * day + 3600, 45.5),
    doc("Nakuru", monthsAgo(2), -3.0)))

  private def jsonl(docs: Seq[String]): String = {
    val f = tempFile("graft_docs", ".json")
    Files.write(f, java.util.Arrays.asList(docs: _*))
    f.toString
  }

  test("run's quality report equals the checks over the whole table") {
    val dir = history()
    assert(monthDirs(dir).size === 42)
    val batch = dailyBatch()
    // label, check date, regions reporting on it
    val checks = Seq(
      ("in the batch", lit("2023-11-14").cast("date"), 2),
      ("stored, not in the batch", lit("2020-07-14"), 2),
      ("late, in a stored month", lit("2023-10-10"), 1),
      ("no rows, in a stored month", lit("2023-10-20"), 0),
      ("no partition", to_date(lit("2024-01-01")), 0),
      ("null", lit(null), 0),
      ("folded", date_add(lit("2023-10-13").cast("date"), 1), 2))
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

  /** The starts of the jobs that `body` runs on this thread. */
  private def jobsOf(body: => Unit)
      : Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    val group = s"jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.SparkListenerJobStart]()
    @volatile var drained = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e)
          case Some(g) if g == group + "-drain" => drained = true
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      // listener events arrive in order: once this job's start is seen,
      // every job `body` started has been counted
      sc.setJobGroup(group + "-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus not drained")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  test("run into a 42-partition table starts no job over its directories") {
    val dir = history()
    assert(monthDirs(dir).size === 42)
    val batch = dailyBatch()
    val jobs = jobsOf(
      WeatherPipeline.run(spark, batch, dir, lit("2023-11-14").cast("date")))
    assert(jobs.nonEmpty)
    val tasks = jobs.map(_.stageInfos.map(_.numTasks).sum)
    assert(tasks.max < 40, s"tasks per job: ${tasks.mkString(", ")}")
    // a listing or schema-inference job runs while a read is resolved, so
    // outside any SQL execution; every job of `run` belongs to one of its
    // queries
    val outside = jobs.filter(
      _.properties.getProperty("spark.sql.execution.id") == null)
    assert(outside.isEmpty,
      s"jobs outside a query: ${outside.map(_.stageInfos.map(_.name)).mkString(", ")}")
  }

  test("readDates reads exactly the stored partitions it is asked for") {
    val dir = history()
    val schema = spark.read.parquet(dir).schema
    // months 2020-06 and 2023-10 are stored, 2023-12 is not
    val dates = Seq("2020-06-30", "2023-12-01", "2023-10-14", "2020-06-01")
    val got = WeatherSink.readDates(spark, dir, dates, schema).get
    assert(got.schema === schema)
    val want = spark.read.parquet(dir).filter(
      col("year") === 2020 && col("month") === 6 ||
        col("year") === 2023 && col("month") === 10)
    assert(want.count() === 4)
    assert(sortedRows(got) === sortedRows(want))
    val asked = Seq(monthDir(2020, 6), monthDir(2023, 10))
      .map(m => java.nio.file.Paths.get(dir, m))
    val files = got.inputFiles.toSeq
      .map(f => java.nio.file.Paths.get(new java.net.URI(f)))
    assert(files.map(_.getParent).sorted === asked.sorted, files.mkString(", "))
    assert(WeatherSink.readDates(spark, dir, Seq("2023-12-01"), schema).isEmpty)
    assert(WeatherSink.readDates(spark, dir + "-missing", dates, schema).isEmpty)
  }

  test("readDates with the table's schema starts no Spark job") {
    val dir = history()
    val schema = spark.read.parquet(dir).schema
    val jobs = jobsOf {
      val months = WeatherSink.readDates(spark, dir,
        Seq("2020-06-30", "2023-10-14"), schema).get
      // planning the read lists its two directories, and the filter on
      // the partition columns resolves against the given schema
      months.filter(col("month") === 6).queryExecution.executedPlan
    }
    assert(jobs.isEmpty,
      s"jobs: ${jobs.map(_.stageInfos.map(_.name)).mkString(", ")}")
  }

  test("weather store pushes date filters down to parquet") {
    // py:116-119's b-tree date index maps to the month partitions plus
    // parquet statistics: a date-filtered read of the whole table pushes
    // `date` into the scan, which then skips the other months' row groups
    // by their `date` min/max. The read still lists every month
    // directory and opens every month's file, so the sink's own reads
    // name their months by path (WeatherSink.readDates)
    val dir = tempDir("graft_prune").toString + "/t"
    // 2023-11-14 and 2023-11-15 in one month, 2023-10-14 in another
    WeatherSink.upsertInto(spark, Seq(monthsAgo(0), monthsAgo(0) + day,
      monthsAgo(1)).map(reading(_, 22.5, "2023-11-16 06:00:00"))
      .reduce(_ unionByName _), dir)
    val filtered = spark.read.parquet(dir)
      .filter(col("date") === lit("2023-11-14"))
    val plan = filtered.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator
      .find(_.contains("PushedFilters:")).getOrElse("")
    assert(pushed.contains("EqualTo(date,2023-11-14)"),
      s"date is not pushed to parquet:\n$plan")
    // runtime proof: the scan's own row count is the checked month's two
    // rows, so the other month's file yielded none
    assert(filtered.collect().length === 1) // collect() runs THIS plan
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .find(_.metrics.contains("numOutputRows")).get
    assert(scan.metrics("numOutputRows").value === 2L,
      s"scan output ${scan.metrics("numOutputRows").value} rows")
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

  test("quality report aggregates in one exchange") {
    val dir = tempDir("graft_report").toString + "/t"
    WeatherSink.upsertInto(spark,
      transformed(Fixtures.full, Fixtures.missingOptionals), dir)
    val plan = planOf(_ => true) {
      QualityChecks.report(spark.read.parquet(dir),
        lit("2023-11-14").cast("date"))
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    assert(nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
      plan.toString)
  }

  test("runWithRetry retries the DAG 2x with the 5-min delay, then alerts (C3)") {
    var slept = Vector.empty[Long]
    var alerts = Vector.empty[String]
    // nonexistent documents path -> empty extract -> C2 guard throws on
    // every attempt; the envelope must retry twice and then alert
    val e = intercept[Exception] {
      WeatherPipeline.runWithRetry(spark,
        documentsPath = "/nonexistent/docs.json",
        tablePath = tempDir("wp").toString,
        checkDate = lit("2023-11-14").cast("date"),
        sleep = d => slept :+= d, alert = m => alerts :+= m)
    }
    assert(slept === Vector(300000L, 300000L), "2 retries, 5 min apart (py:52-53)")
    assert(alerts.size === 1 && alerts.head.contains("after 3 attempts"))
  }
}
