package graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSession

/** The one place a harness main builds its Spark session: Bench, Verify
  * and every `graft.tools` main go through [[session]], so the engine's
  * run configuration is set here and nowhere else (`HarnessSpec` fails
  * on a second builder).
  *
  * NOTE (measured, do not "optimize"): AQE's
  * coalescePartitions.parallelismFirst default (true) is correct here —
  * size-based coalescing packed the CPU-heavy window/percentile queries
  * into 1-2 post-shuffle partitions at bench SFs (rows are small, work
  * per row is not) and q18/q38 regressed ~2-3×.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` (default 4): local cores and shuffle partitions. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Session-core conf for `app` over the data at `sfDir`:
    * [[Scratch.localDirSparkConf]]'s local-dir routing plus master and
    * shuffle partitions from [[cpus]], UTC, no UI, and no streaming
    * checkpoint checksums. Builds no context. Returns
    * (conf, local dir, decision detail).
    *
    * Checksums off: Spark 4.1's checksum checkpoint file manager
    * doubles every streaming-metadata create/hsync/rename, and on a
    * loaded disk tmpdir q132 ran [23.0, 9.0, 7.7] s with checksums vs
    * [4.7, 4.2, 4.0] s without (BASELINE.md, Round-13 records). Replay
    * checkpoints live for one AvailableNow run and are reaped, so
    * corruption detection on them buys nothing; production deployments
    * with durable checkpoints should keep the Spark default.
    */
  def conf(app: String, sfDir: String): (SparkConf, String, String) = {
    val (conf, localDir, detail) = Scratch.localDirSparkConf(sfDir)
    conf
      .setMaster(s"local[$cpus]")
      .setAppName(app)
      .set("spark.sql.shuffle.partitions", cpus)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    (conf, localDir, detail)
  }

  /** The session for [[conf]], with log levels set. Returns
    * (session, local dir, decision detail).
    *
    * The SparkContext is built from the conf DIRECTLY, not through the
    * session builder (which copies settings into a fresh SparkConf):
    * the conf may mask an exported `SPARK_LOCAL_DIRS` so that
    * `spark.local.dir` wins, and a copy would lose the mask.
    *
    * WindowExec logs at ERROR: the engine's unpartitioned windows are
    * grid-sized by construction (enforced by PlanAuditSpec), but it
    * WARNs "No Partition Defined" on every execution — hundreds of
    * lines per suite that drown the one diagnostic line that matters.
    */
  def session(app: String, sfDir: String): (SparkSession, String, String) = {
    val (c, localDir, detail) = conf(app, sfDir)
    SparkContext.getOrCreate(c)
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    (spark, localDir, detail)
  }

  /** Create + write + hsync + rename latency of `cycles` small files in
    * `dir` — the streaming-checkpoint metadata pattern — as
    * (mean ms, p99 ms). Bench embeds it per scratch root in bench.json's
    * `disk_probe`, so a cross-run perf delta can be split into "code
    * changed" vs "host disk changed" from the artifact alone.
    */
  private[graft] def diskProbe(dir: java.io.File, cycles: Int): (Double, Double) = {
    dir.mkdirs()
    val payload = ("x" * 512).getBytes
    val lat = new Array[Double](cycles)
    var i = 0
    while (i < cycles) {
      val t0 = System.nanoTime()
      val tmp = new java.io.File(dir, s".tmp_$i")
      val fin = new java.io.File(dir, s"meta_$i")
      val fos = new java.io.FileOutputStream(tmp)
      try {
        fos.write(payload)
        fos.getFD.sync()
      } finally fos.close()
      if (!tmp.renameTo(fin)) sys.error(s"rename failed: $tmp -> $fin")
      lat(i) = (System.nanoTime() - t0) / 1e6
      i += 1
    }
    (0 until cycles).foreach { j =>
      new java.io.File(dir, s"meta_$j").delete()
    }
    dir.delete()
    val sorted = lat.sorted
    // 0-based order statistic: ceil(0.99·n) − 1 (the naive n·99/100
    // index reported the 99.25th percentile at n=400)
    val p99Idx = math.ceil(0.99 * cycles).toInt - 1 min (cycles - 1)
    (lat.sum / cycles, sorted(p99Idx))
  }
}
