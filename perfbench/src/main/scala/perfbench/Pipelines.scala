package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.WeatherIngest
import graft.model.WeatherModel
import graft.operators.WeatherTransform
import graft.pipeline.WeatherPipeline
import graft.quality.QualityChecks
import graft.sources.WeatherSink

import WeatherDocs._

/** The two pipeline workloads. Both time `WeatherPipeline.run` as a closed
  * loop with one client and check every result against the generator's
  * model; `daily_deep` feeds consecutive days into a year of history,
  * `backfill` feeds one large multi-month batch into a seeded table.
  */
final class Pipelines(spark: SparkSession, ctx: Context, tracer: Tracer) {
  import Pipelines._

  private val sizes = if (ctx.smoke) Sizes.smoke else Sizes.full
  private var setupOk = true
  private val root =
    ctx.workdir.resolve(s"${ctx.workload}-${if (ctx.trace) 1 else 0}")
  private val table = root.resolve("table")

  private def ts(epochSec: Long): Column = lit(new java.sql.Timestamp(epochSec * 1000L))
  private def date(day: Long): Column =
    lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)))

  private def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] check failed: $msg")
  }

  /** Compare a quality report with the model; returns false on mismatch. */
  private def checkReport(label: String, got: QualityChecks.Report,
      want: Quality): Boolean = {
    val expectedWarnings =
      if (want.regionCount < regions.size) 1 else 0
    val ok = got.regionCount == want.regionCount &&
      got.minTemp == want.minTemp && got.maxTemp == want.maxTemp &&
      got.nullCounts.values.forall(_ == 0L) &&
      got.warnings.size == expectedWarnings
    if (!ok) fail(s"$label quality report $got, expected $want " +
      s"with $expectedWarnings warning(s)")
    ok
  }

  /** Row count and fingerprint of the stored table against the model. */
  private def checkTable(model: Model): Boolean = {
    val rows = spark.read.parquet(table.toString).select(
      col("region"), unix_micros(col("data_timestamp")), col("temperature"),
      col("humidity"), col("pressure"), col("visibility"), col("wind_speed"),
      unix_micros(col("extraction_timestamp")), col("rainfall_1h"),
      col("rainfall_3h")).collect()
    val fp = rows.iterator.map { r =>
      Fingerprint.row(r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3).toLong, r.getInt(4).toLong,
        Option(r.get(5)).map(_.asInstanceOf[Int].toLong),
        Option(r.get(6)).map(_.asInstanceOf[Double]), r.getLong(7),
        r.getDouble(8), r.getDouble(9))
    }.sum
    val (wantRows, wantFp) =
      if (ctx.wrongExpectation) (model.rows.size + 1L, model.fingerprint ^ 1L)
      else (model.rows.size.toLong, model.fingerprint)
    val ok = rows.length == wantRows && fp == wantFp
    if (!ok) fail(s"table has ${rows.length} rows / fingerprint $fp, " +
      s"expected $wantRows / $wantFp")
    ok
  }

  private def want(model: Model, day: Long): Quality = {
    val q = model.quality(day)
    if (ctx.wrongExpectation) q.copy(regionCount = q.regionCount + 1) else q
  }

  /** One seeded start: generator, model and a table loaded with history. */
  private final class Seeded(val gen: Generator, val model: Model,
      val taken: mutable.Set[(String, Long)])

  /** Generate `days` of history from `firstDay` at `perDay` readings per
    * region and load it through the pipeline into `dest`.
    */
  private def seed(dest: Path, days: Int, perDay: Int): Seeded = {
    val gen = new Generator(ctx.seed, Shares())
    val model = new Model
    val taken = mutable.HashSet.empty[(String, Long)]
    val step = 86400L / perDay
    val base = for {
      d <- 0 until days
      slot <- 0 until perDay
      region <- regions
    } yield (region, (firstDay + d) * 86400L + slot * step +
      gen.jitter(step))
    val history = gen.batch(base, IndexedSeq.empty, 0L, 0L, taken)
    val extractedAt = (firstDay + days) * 86400L - 3600L
    model.apply(history, extractedAt)
    val docs = dest.getParent.resolve(dest.getFileName.toString + ".jsonl")
    writeJson(docs, history)
    val lastDay = firstDay + days - 1
    val res = WeatherPipeline.run(spark, docs.toString, dest.toString,
      date(lastDay), ts(extractedAt))
    setupOk &&= checkReport("history", res.quality, want(model, lastDay))
    Files.delete(docs)
    new Seeded(gen, model, taken)
  }

  /** Run setup `reps` times into fresh tables and keep the last one, then
    * warm up. Returns the median setup time plus the warm-up time.
    */
  private def setup(reps: Int, perDay: Int)(once: Path => Seeded)
      : (Seeded, Double) = {
    var last: Seeded = null
    val times = (1 to reps).map { i =>
      val dest = root.resolve(s"seed$i")
      val t0 = System.nanoTime()
      last = once(dest)
      val sec = (System.nanoTime() - t0) / 1e9
      if (i == reps) Files.move(dest, table)
      else deleteTree(dest)
      sec
    }
    (last, Stats.median(times) + warmUp(perDay))
  }

  /** One upsert run into a small side table, so the timed runs do not pay
    * the first compilation of the upsert path. Returns its seconds.
    */
  private def warmUp(perDay: Int): Double = {
    val t0 = System.nanoTime()
    val side = root.resolve("warm")
    val s = seed(side, 5, perDay)
    val day = firstDay + 5
    val base = regions.map(r => (r, day * 86400L + s.gen.jitter(86400L)))
    val batch = s.gen.batch(base, s.model.storedReadings, firstDay * 86400L,
      day * 86400L, s.taken)
    val docs = root.resolve("warm.jsonl")
    writeJson(docs, batch)
    s.model.apply(batch, day * 86400L + 3600)
    val res = WeatherPipeline.run(spark, docs.toString, side.toString,
      date(day), ts(day * 86400L + 3600))
    setupOk &&= checkReport("warm-up", res.quality, want(s.model, day))
    deleteTree(side)
    Files.delete(docs)
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------------
  // daily_deep

  def dailyDeep(): Result = {
    Files.createDirectories(root)
    val (seeded, setupS) = setup(sizes.setupReps, 1) { dest =>
      seed(dest, sizes.historyDays, 1)
    }
    import seeded._
    var day = firstDay + sizes.historyDays
    def nextBatch(): (Vector[Reading], Long, Path) = {
      val base = regions.map(r => (r, day * 86400L + 6 * 3600 +
        gen.jitter(12 * 3600)))
      val recent = model.rows.valuesIterator
        .filter(s => dayOf(s.r.dt) >= day - 30).map(_.r).toIndexedSeq
        .sortBy(r => (r.region, r.dt))
      val batch = gen.batch(base, recent, (day - 7) * 86400L, day * 86400L,
        taken)
      val docs = root.resolve(s"day-$day.jsonl")
      writeJson(docs, batch)
      (batch, day * 86400L + 20 * 3600, docs)
    }
    val loop = new Loop(ctx, tracer)
    loop.run { traced =>
      val (batch, extractedAt, docs) = nextBatch()
      model.apply(batch, extractedAt)
      val thisDay = day
      day += 1
      val r =
        if (traced == null) untracedRun(docs, date(thisDay), ts(extractedAt))
        else tracedRun(traced, docs, date(thisDay), ts(extractedAt), batch)
      Files.delete(docs)
      val ok = checkReport(s"day $thisDay", r.report, want(model, thisDay))
      OpResult(r.seconds, 1, if (ok && r.traceOk) 0 else 1, r.layers)
    }
    val tableOk = checkTable(model) && setupOk
    val dayS = Stats.median(loop.times.toSeq)
    loop.result(setupS, tableOk, dayS, dayS, storeBytesPerRow(model.rows.size),
      Map("days" -> (day - firstDay - sizes.historyDays).toDouble))
  }

  // ---------------------------------------------------------------------
  // backfill

  def backfill(): Result = {
    Files.createDirectories(root)
    val pristine = root.resolve("pristine")
    var batch: Vector[Reading] = null
    var extractedAt = 0L
    val docs = root.resolve("batch.jsonl")
    val (seeded, setupS) = setup(sizes.setupReps, sizes.backfillPerDay) { dest =>
      val s = seed(dest, sizes.backfillHistoryDays, sizes.backfillPerDay)
      val step = 86400L / sizes.backfillPerDay
      val start = firstDay + sizes.backfillHistoryDays
      val base = for {
        d <- 0 until sizes.backfillDays
        slot <- 0 until sizes.backfillPerDay
        region <- regions
      } yield (region, (start + d) * 86400L + slot * step + s.gen.jitter(step))
      val stored = s.model.storedReadings
      batch = s.gen.batch(base, stored, firstDay * 86400L, start * 86400L,
        s.taken)
      extractedAt = (start + sizes.backfillDays) * 86400L
      writeJson(docs, batch)
      s
    }
    Files.move(table, pristine)
    val model = seeded.model
    model.apply(batch, extractedAt)
    val checkDay = firstDay + sizes.backfillHistoryDays + sizes.backfillDays - 1
    val expected = want(model, checkDay)
    val loop = new Loop(ctx, tracer)
    loop.run { traced =>
      deleteTree(table)
      copyTree(pristine, table)
      val r =
        if (traced == null) untracedRun(docs, date(checkDay), ts(extractedAt))
        else tracedRun(traced, docs, date(checkDay), ts(extractedAt), batch)
      val ok = checkReport("backfill", r.report, expected)
      OpResult(r.seconds, 1, if (ok && r.traceOk) 0 else 1, r.layers)
    }
    val tableOk = checkTable(model) && setupOk
    val batchS = Stats.median(loop.times.toSeq)
    loop.result(setupS, tableOk, batchS, batchS,
      storeBytesPerRow(model.rows.size),
      Map("batch_docs" -> batch.size.toDouble,
        "docs_per_s" -> batch.size / math.max(batchS, 1e-9)))
  }

  // ---------------------------------------------------------------------
  // untraced and traced pipeline

  /** One pipeline operation: its wall time, quality report, per-layer
    * numbers and whether the traced run's own checks (Dataset actions,
    * per-module row counts) passed; the last two only when traced.
    */
  private final case class Op(seconds: Double, report: QualityChecks.Report,
      layers: Map[String, Double], traceOk: Boolean)

  /** Engine call paths of the last untraced operation's Dataset actions. */
  private var runPaths: Seq[String] = Nil

  /** `WeatherPipeline.run` itself, timed. In a traced run it also records
    * the engine call paths of its Dataset actions, which the next traced
    * operation must repeat.
    */
  private def untracedRun(docs: Path, checkDate: Column,
      extractionTime: Column): Op = {
    def timed(): Op = {
      val t0 = System.nanoTime()
      val res = WeatherPipeline.run(spark, docs.toString, table.toString,
        checkDate, extractionTime)
      Op((System.nanoTime() - t0) / 1e9, res.quality, Map.empty, true)
    }
    if (tracer == null) timed()
    else {
      val (op, sites) = tracer.actionSites(timed())
      runPaths = enginePaths(sites)
      op
    }
  }

  /** The engine frames of each action's call stack, without the frames of
    * `WeatherPipeline.run` or of this harness: the untraced and the traced
    * operation give the same paths when they make the same module calls.
    */
  private def enginePaths(sites: Seq[String]): Seq[String] = sites.map {
    // a frame reads [loader/][module/]class.method(file:line)
    _.linesIterator
      .map(f => f.substring(f.lastIndexOf('/', f.indexOf('(')) + 1))
      .filter(f => f.startsWith("graft.") &&
        !f.startsWith("graft.pipeline.WeatherPipeline"))
      .mkString(" < ")
  }.sorted

  /** `WeatherPipeline.run`'s calls, in its order, with a span around each
    * module's part. The operation fails when its actions' engine call
    * paths differ from those of the untraced operation before it, that is
    * when `WeatherPipeline.run` no longer makes these calls.
    */
  private def tracedRun(tr: Traced, docs: Path, checkDate: Column,
      extractionTime: Column, batch: Seq[Reading]): Op = {
    val t = tr.tracer
    val op = tr.op
    val path = docs.toString
    val (report, sites) = t.actionSites(t.span("pipeline", op) {
      val flat = t.span("ingest", op) {
        val raw = WeatherIngest.readDocuments(spark, path)
        val flat = WeatherIngest.flatten(raw, WeatherModel.regionDim(spark),
          extractionTime)
        flat.persist()
        require(flat.head(1).nonEmpty,
          "No weather data was successfully extracted")
        flat
      }
      try {
        val transformed = t.span("operators", op) {
          val transformed = WeatherTransform.transform(flat)
          require(transformed.head(1).nonEmpty,
            "No data received from extraction task")
          transformed
        }
        t.span("sources", op) {
          WeatherSink.upsertInto(spark, transformed, table.toString)
        }
      } finally flat.unpersist()
      t.span("quality", op) {
        val stored = spark.read.parquet(table.toString)
        QualityChecks.report(stored, checkDate)
      }
    })
    val paths = enginePaths(sites)
    val same = paths == runPaths
    if (!same) fail("traced actions differ from WeatherPipeline.run's; " +
      s"only untraced: ${runPaths.diff(paths).mkString("; ")}; only " +
      s"traced: ${paths.diff(runPaths).mkString("; ")}")
    val wall = t.opSpans(op).filter(_.parent == -1).map(_.seconds).sum
    val (layers, countsOk) = pipelineLayers(tr, path, extractionTime, batch)
    Op(wall, report, layers, same && countsOk)
  }

  /** Per-module numbers of one traced operation. Row counts come from
    * count jobs run after the spans closed. They are fixed by the input, so
    * each is checked against the generator's own count of the batch;
    * returns false with the numbers when one differs.
    */
  private def pipelineLayers(tr: Traced, path: String, extractionTime: Column,
      batch: Seq[Reading]): (Map[String, Double], Boolean) = {
    val t = tr.tracer
    val op = tr.op
    val raw = WeatherIngest.readDocuments(spark, path)
    val docsIn = raw.count()
    val rejected = raw.filter(WeatherIngest.errorColumn.isNotNull).count()
    val flat = WeatherIngest.flatten(raw, WeatherModel.regionDim(spark),
      extractionTime)
    val ingestOut = flat.count()
    val operatorsOut = WeatherTransform.transform(flat).count()
    val wantRejected = batch.count(_.missing.isDefined)
    val wantOut = batch.iterator.filter(r => r.missing.isEmpty && r.valid)
      .map(_.key).toSet.size
    val wantIngestOut = batch.size - wantRejected
    val countsOk = docsIn == batch.size && rejected == wantRejected &&
      ingestOut == wantIngestOut && operatorsOut == wantOut
    if (!countsOk)
      fail(s"layer counts docs=$docsIn rejected=$rejected " +
        s"flattened=$ingestOut out=$operatorsOut, expected ${batch.size} / " +
        s"$wantRejected / $wantIngestOut / $wantOut")
    val written = t.counter(op, "rows_written", Some("sources"))
    (t.engineLayers(op, ctx.cores) ++ Map(
      "ingest.self_s" -> t.self(op, "ingest"),
      "ingest.docs_in" -> docsIn.toDouble,
      "ingest.rows_out" -> ingestOut.toDouble,
      "ingest.rows_rejected" -> rejected.toDouble,
      "operators.self_s" -> t.self(op, "operators"),
      "operators.rows_out" -> operatorsOut.toDouble,
      "operators.rows_dropped" -> (ingestOut - operatorsOut).toDouble,
      "sources.self_s" -> t.self(op, "sources"),
      "sources.rows_read" -> t.counter(op, "rows_read", Some("sources")),
      "sources.rows_written" -> written,
      "sources.bytes_written" -> t.counter(op, "bytes_written", Some("sources")),
      "sources.files_written" -> t.counter(op, "files_written", Some("sources")),
      "sources.table_files" -> dataFiles(table).size.toDouble,
      "sources.write_amplification" ->
        (if (operatorsOut > 0) written / operatorsOut else 0.0),
      "quality.self_s" -> t.self(op, "quality"),
      "quality.files_read" -> t.counter(op, "files_read", Some("quality")),
      "pipeline.other_s" -> t.self(op, "pipeline")), countsOk)
  }

  private def storeBytesPerRow(rows: Int): Double =
    dataFiles(table).map(Files.size).sum.toDouble / math.max(1, rows)
}

object Pipelines {
  /** 2024-01-01, the first day of generated history. */
  val firstDay: Long = java.time.LocalDate.of(2024, 1, 1).toEpochDay

  final case class Sizes(setupReps: Int, historyDays: Int,
      backfillHistoryDays: Int, backfillDays: Int, backfillPerDay: Int)
  object Sizes {
    val full = Sizes(setupReps = 2, historyDays = 365,
      backfillHistoryDays = 30, backfillDays = 85, backfillPerDay = 96)
    val smoke = Sizes(setupReps = 2, historyDays = 20,
      backfillHistoryDays = 3, backfillDays = 4, backfillPerDay = 8)
  }

  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray
        .toSeq.map(_.asInstanceOf[Path])
      finally walk.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally walk.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { f =>
      val dest = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dest)
      else Files.copy(f, dest, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }
}
