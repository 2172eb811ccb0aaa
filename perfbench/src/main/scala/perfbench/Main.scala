package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.{SparkContext, SPARK_VERSION}
import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by run.py once the build is current.
  *
  * Arguments: `--tasks w:t,...` (workload and trace flag per task, all run
  * in one Spark session), `--seed`, `--seconds`, `--workdir`,
  * `--query-data`, `--setup-extra-s`, `--smoke 0|1`,
  * `--wrong-expectation 0|1`, `--out` (result JSON path).
  *
  * One local session with one core per available processor, configured as
  * the engine's own bench configures it: Spark local dirs through
  * `Scratch.localDirSparkConf`, UTC, shuffle partitions = cores.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workdir = Paths.get(opts("workdir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val (conf, _, localDirDetail) = graft.Scratch.localDirSparkConf(workdir.toString)
    conf.setMaster(s"local[$cores]")
      .setAppName("perfbench")
      .set("spark.sql.shuffle.partitions", cores.toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .set("spark.sql.warehouse.dir", workdir.resolve("warehouse").toString)
    SparkContext.getOrCreate(conf)
    val spark = SparkSession.builder().getOrCreate()
    Phase.mark("session up")
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    val tasks = opts("tasks").split(",").toSeq.map { t =>
      val Array(w, tr) = t.split(":")
      (w, tr == "1")
    }
    val results = try tasks.map { case (workload, trace) =>
      val ctx = Context(workload, opts("seed").toLong, opts("seconds").toDouble,
        trace, opts.get("smoke").contains("1"),
        opts.get("wrong-expectation").contains("1"), workdir,
        Paths.get(opts.getOrElse("query-data", workdir.resolve("qdata").toString)),
        opts.getOrElse("setup-extra-s", "0").toDouble, cores)
      val tracer = if (trace) { val t = new Tracer(spark); t.start(); t } else null
      val r = try workload match {
        case "daily_deep" => new Pipelines(spark, ctx, tracer).dailyDeep()
        case "backfill" => new Pipelines(spark, ctx, tracer).backfill()
        case "query_mix" =>
          val mix = new QueryMix(spark, ctx, tracer)
          writeOracle(workdir.resolve("oracle_sql.json"), mix.oracleSql)
          mix.run()
        case other => sys.error(s"unknown workload $other")
      } finally if (tracer != null) tracer.stop()
      (workload, trace, r)
    } finally {
      graft.Scratch.reap()
    }

    val host = Seq(
      "nproc" -> Json.num(cores),
      "jvm_max_heap_bytes" -> Json.num(Runtime.getRuntime.maxMemory.toDouble),
      "jdk" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark" -> Json.str(SPARK_VERSION),
      "local_dir" -> Json.str(localDirDetail))
    val rendered = results.map { case (w, trace, r) =>
      def metrics(m: Map[String, Double]) =
        Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      Json.obj(Seq(
        "workload" -> Json.str(w),
        "trace" -> Json.num(if (trace) 1 else 0),
        "correct" -> r.correct.toString,
        "attempted" -> Json.num(r.attempted),
        "failed" -> Json.num(r.failed),
        "metrics" -> metrics(r.metrics),
        "details" -> metrics(r.details),
        "spans" -> r.spans.mkString("[", ",", "]")))
    }
    Files.writeString(Paths.get(opts("out")),
      Json.obj(Seq("host" -> Json.obj(host),
        "tasks" -> rendered.mkString("[", ",", "]"))), StandardCharsets.UTF_8)
    Phase.mark("results written")
    spark.stop()
    Phase.mark("session stopped")
  }

  private def writeOracle(path: Path, sql: Map[String, String]): Unit =
    Files.writeString(path, Json.obj(sql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }), StandardCharsets.UTF_8)
}
