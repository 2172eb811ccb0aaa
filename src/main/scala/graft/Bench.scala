package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON metric line.
  *
  * Methodology (round-2 fix): each query is materialized through a
  * `noop`-format write, which evaluates EVERY output column of the full
  * plan on the executors and discards the rows. The round-1 `.count()`
  * let Catalyst prune unreferenced projections, so projection-heavy
  * queries (q04/q05/q49) timed the scan instead of the operator under
  * test. Each query runs THREE times and reports the fastest run — the
  * first execution pays one-off costs (file listing, codegen
  * compilation, JIT) that single-shot timing conflates with the
  * operator; round-3 review showed min-of-2 still leaves 1.4-1.9×
  * round-over-round swings indistinguishable from host load, so the
  * estimator is min-of-3 (round-4 change). The metric line is also
  * written to `bench.json` so the harness parse cannot be defeated by
  * build-tool log prefixes.
  */
object Bench {
  /** 2 Hz stack sampler of the JVM's RUNNABLE threads other than its own:
    * per thread, the top `graft.` or `org.apache.spark` frame; [[finish]]
    * stops it and returns the eight most-sampled frames with counts.
    */
  private[graft] final class StallSampler extends Thread {
    setDaemon(true)
    private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    @volatile private var live = true
    private def interesting(cn: String): Boolean =
      cn.startsWith("org.apache.spark") || cn.startsWith("graft.")
    override def run(): Unit = {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      val self = getId // the sampler is RUNNABLE in every dump it takes
      while (live) {
        val infos = mx.dumpAllThreads(false, false)
        var i = 0
        while (i < infos.length) {
          val ti = infos(i)
          if (ti != null && ti.getThreadId != self &&
              ti.getThreadState == Thread.State.RUNNABLE) {
            val frames = ti.getStackTrace
            var j = 0
            var done = false
            while (j < frames.length && !done) {
              if (interesting(frames(j).getClassName)) {
                counts.merge(frames(j).getClassName + "." + frames(j).getMethodName,
                  1, (a, b) => a + b)
                done = true
              }
              j += 1
            }
          }
          i += 1
        }
        Thread.sleep(500)
      }
    }
    def finish(): Seq[(String, Int)] = {
      live = false
      join(2000)
      import scala.jdk.CollectionConverters._
      counts.asScala.toSeq.map { case (k, v) => (k, v.intValue) }
        .sortBy(-_._2).take(8)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Scale-validation knobs (driver never sets these, so the driver
    // contract — 3 runs, every query — is unchanged): SPARK_GRAFT_RUNS
    // trims repeats for long sf1 sweeps; SPARK_GRAFT_ONLY=q26,q99 runs a
    // prefix-matched subset.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // r14: shuffle/block-manager local dirs route to tmpfs under the
    // same guarded policy as Scratch.fastDir — see
    // Scratch.sparkLocalDir's scaladoc for the measured mechanism
    // (O(maps × reducers) shuffle temp-file creates on a disk whose
    // per-op latency swings 0.5-11 ms between runs). The decision is
    // embedded in bench.json as "local_dir" so a cross-round delta can
    // be attributed from the artifact.
    // r15: the conf comes from localDirSparkConf and the SparkContext is
    // built from it DIRECTLY (not via the session builder, which copies
    // settings into a fresh SparkConf) — when the launch environment
    // exports SPARK_LOCAL_DIRS pointing at the slow disk, the returned
    // conf masks that env read so spark.local.dir wins. The round-14
    // driver ran with SPARK_LOCAL_DIRS=/tmp/spark-local and the whole
    // tmpfs routing was silently bypassed (249 s vs 158 s suite).
    val (coreConf, localDir, localDirDetail) = Scratch.localDirSparkConf(sfDir)
    coreConf
      .setMaster(s"local[$cpus]")
      .setAppName("graft-bench")
      .set("spark.sql.shuffle.partitions", cpus)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      // r13 (CheckpointProbe adjudication of the r12 q132/q187 bench
      // regression): Spark 4.1 defaults the checksum checkpoint file
      // manager ON, which doubles every streaming-metadata
      // create/hsync/rename; on this host's disk-backed tmpdir that
      // cycle measures 3.0 ms mean / 15.9 ms p99 under load and q132
      // ran [23.0, 9.0, 7.7] s with checksums vs [4.7, 4.2, 4.0] s
      // without. Replay-harness checkpoints live for one AvailableNow
      // run and are reaped — corruption detection on them buys
      // nothing. Production deployments with durable checkpoints
      // should keep the Spark default.
      .set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // NOTE (measured, do not "optimize"): AQE's
    // coalescePartitions.parallelismFirst default (true) is correct
    // here — size-based coalescing (false) packed the CPU-heavy
    // window/percentile queries into 1-2 post-shuffle partitions at
    // bench SFs (rows are small, work per row is not) and q18/q38
    // regressed ~2-3×. Advisory-size coalescing only helps when
    // bytes, not compute, dominate.
    org.apache.spark.SparkContext.getOrCreate(coreConf)
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The engine's unpartitioned-window call sites are all grid-sized
    // by construction (enforced by PlanAuditSpec, not by reading logs),
    // but WindowExec WARNs "No Partition Defined" on every execution —
    // hundreds of lines per suite that drowned the ONE diagnostic line
    // that mattered in r10 (the failed query's error). The spec is the
    // invariant's guardian; the logger is noise here.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Pre-suite device probe (r14, VERDICT item 4): measure the
    // create+hsync+rename cycle — the streaming-checkpoint metadata
    // pattern — on both candidate scratch roots and embed the numbers
    // in bench.json, so a cross-round perf delta can be split into
    // "code changed" vs "host disk changed" from the artifact alone
    // (the r12→r13 adjudication needed three manual runs for this).
    // 200 cycles ≈ 0.1 s on a healthy disk — noise next to the suite.
    def probeRoot(dir: java.io.File): Option[(Double, Double)] =
      if (dir.isDirectory && dir.canWrite)
        try Some(graft.tools.CheckpointProbe.fsyncRenameBench(
          new java.io.File(dir, "graft_bench_probe"), 200))
        catch { case _: Throwable => None }
      else None
    val probeDisk = probeRoot(
      new java.io.File(System.getProperty("java.io.tmpdir")))
    val probeShm = probeRoot(new java.io.File("/dev/shm"))
    // Warm the JVM/codegen/parquet-footer paths AND the noop datasource
    // (its first use pays DataSourceV2 lookup/init) so the first timed
    // query is not charged for session startup.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Stall watchdog (round 5): the runs arrays occasionally catch a
    // mid-suite run at 5-50x its siblings — interpreter pinning of some
    // Spark-internal path that min-of-3 absorbs but cannot explain. A
    // 2 Hz in-process stack sampler runs during every execution; its
    // frame profile is KEPT only when the run lands >= 5 s, so a stalled
    // entry in `runs` arrives with the dominant frames that burned the
    // time (interpreted `*.eval` towers read completely differently from
    // first-run scan/codegen warm-up). Sampling cost is ~1 ms every
    // 500 ms — invisible next to any run worth profiling.
    // query-name#runIndex -> (seconds, dominant frames with sample counts)
    val stallProfiles = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Seq[(String, Int)])]
    // (time, succeeded, error) — a failed query must NOT report its
    // fail-fast elapsed time as a benchmark result (a broken build
    // would look faster); it reports -1 and is counted in "failed".
    // The error (class + message + first graft/spark frame) goes into
    // bench.json's "errors" map: r10's single bench failure was
    // undiagnosable post-hoc because the message went only to stderr,
    // whose harness-kept tail was warning spam.
    // SPARK_GRAFT_NOSAMPLER=1 disables the stall sampler (driver never
    // sets it): the r12→r13 drift adjudication needs one controlled run
    // with the sampler out of the picture to bound its overhead from
    // the artifact side (its design cost is ~1 ms per 500 ms).
    val noSampler = sys.env.get("SPARK_GRAFT_NOSAMPLER").contains("1")
    def once(name: String, runIdx: Int,
        fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): (Double, Boolean, Option[String]) = {
      val sampler = if (noSampler) null else new StallSampler
      if (sampler != null) sampler.start()
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          val frame = e.getStackTrace.find { f =>
            f.getClassName.startsWith("graft.") ||
              f.getClassName.startsWith("org.apache.spark")
          }.map(f => s" at $f").getOrElse("")
          val msg = s"${e.getClass.getName}: ${e.getMessage}$frame"
          System.err.println(s"[bench] $name#$runIdx failed: $msg")
          Some(msg)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      if (sampler != null) {
        val profile = sampler.finish()
        // keep the 15 SLOWEST profiled runs, not the first 15 (r13:
        // the sf10r sweep's early 5-10 s runs filled the buffer before
        // the 200-400 s rows it exists to explain arrived)
        if (sec >= 5.0) {
          stallProfiles(s"$name#$runIdx") = (sec, profile)
          if (stallProfiles.size > 15) {
            val evict = stallProfiles.minBy(_._2._1)._1
            stallProfiles.remove(evict)
          }
        }
      }
      (sec, err.isEmpty, err)
    }
    def f(d: Double): String = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // Per-query we keep ALL run times, not just the min: the round-4
    // bench artifact hid a run-over-run degradation signature (code
    // cache exhaustion) because min-of-3 discards the trend. A query
    // whose runs read [0.4, 3.1, 12.7] is a JVM-state pathology; one
    // that reads [3.3, 3.2, 3.1] is intrinsic cost. min stays the
    // headline estimator (first run pays one-off codegen/listing).
    var sinceGc = 0
    // Physical-strategy decisions (r12): operators with runtime plan
    // switches (bm25TopK sparse/dense) record every decision; draining
    // per query attributes them, and the artifact carries them so a
    // mis-cutover at a new scale is visible post-hoc. The warm-up
    // entry() run above may have recorded — clear before attributing.
    graft.StrategyLog.drain()
    val strategies = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[String]]
    val results: Seq[(String, Seq[(Double, Boolean, Option[String])])] =
      SparkEntry.queries.toSeq
        .filter { case (name, _) =>
          only.forall(_.exists(p => name == p || name.startsWith(p + "_")))
        }
        .map { case (name, fn) =>
          val runs = (0 until nRuns).map(i => once(name, i, fn))
          val decs = graft.StrategyLog.render(graft.StrategyLog.drain())
          if (decs.nonEmpty) strategies(name) = decs
          // r10: run-scoped staging dirs (streaming stages, format-
          // roundtrip files) are cleaned via deleteOnExit, which never
          // fires in this long-lived JVM; at sf10 q121 alone leaves
          // 12 GB per run and a full sweep filled the disk mid-suite
          // (4 queries died on ENOSPC). The query is finished — its
          // DataFrames are fully materialized through the noop write —
          // so its staging is garbage NOW. Reaping goes through the
          // Scratch registry (exactly the dirs THIS JVM allocated):
          // the r10 name-pattern reaper matched keyed cross-run stores
          // whose hash suffix rendered as 8 hex (q160's at sf0.1) and
          // could delete a concurrent graft JVM's staging mid-query.
          Scratch.reap()
          // Drop every lingering persisted RDD (localCheckpoint blocks
          // of the query that just finished — and of any before it).
          // Dead storage blocks otherwise pin unified memory until a
          // full GC collects their RDD references; with the GC nudge
          // gated (below), at sf10 enough pinned storage accumulated
          // that later hash aggregates could not acquire execution
          // pages and fell back to sort-based spilling — q130 ran 29 s
          // standalone at sf10r but >30 min mid-suite with 64 GB of
          // TimSort spill. Explicit unpersist is exactly scoped (each
          // query's checkpoints are dead once its noop write returns;
          // cross-run stores are parquet tables, never persisted RDDs),
          // costs no JIT churn, and needs no GC at all.
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // Nudge the ContextCleaner only when disk pressure warrants
          // it: shuffle files and localCheckpoint blocks are deleted
          // when their RDD references are GC-collected, and a
          // generously-sized heap can run an entire sf10 sweep without
          // a full GC — the r10 sweep filled 90 GB of /tmp blockmgr
          // with blocks of long-dead queries and died on ENOSPC. But
          // the r10 fix (System.gc() after EVERY query, 3e4170f)
          // unloaded generated-class loaders 193 times and doubled JIT
          // recompilation — the driver's r10 suite regressed 1.7×
          // (compile_ms 443 s → 804 s, code-cache peak DROPPED). So:
          // GC every 25 queries (bounds dead-block accumulation at
          // ~1/8th of a sweep) or immediately when tmpdir usable space
          // falls under 32 GiB (the ENOSPC guard proper).
          sinceGc += 1
          // watch BOTH candidate roots: scratch may sit on the disk
          // tmpdir while shuffle files sit on tmpfs (r14) — low space
          // on either warrants the ContextCleaner nudge
          val tmpFree = math.min(
            new java.io.File(
              System.getProperty("java.io.tmpdir")).getUsableSpace,
            new java.io.File(localDir).getUsableSpace)
          if (sinceGc >= 25 || tmpFree < (32L << 30)) {
            System.gc()
            sinceGc = 0
          }
          name -> runs
        }
    val mins = results.map { case (name, runs) =>
      name -> (if (runs.forall(_._2)) runs.map(_._1).min else -1.0)
    }
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, runs) =>
      "\"" + k + "\":[" + runs.map(r => f(r._1)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val failed = mins.count(_._2 < 0)
    val total = mins.collect { case (_, v) if v >= 0 => v }.sum
    // JIT health canary (round 5): the round-4 driver bench collapsed
    // 77.7 s -> 450 s because the forked JVM's code cache filled and
    // compilation was disabled — invisible in the artifact. Record
    // per-CodeHeap occupancy (peak vs max) and total JIT compile time
    // so "regression" and "JVM pathology" are distinguishable from the
    // bench.json alone. Any pool whose PEAK crossed 97% of max very
    // likely disabled or throttled compilation mid-run.
    import scala.jdk.CollectionConverters._
    val poolsJson = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map { p =>
        val peak = p.getPeakUsage; val max = peak.getMax
        val pct = if (max > 0) 100.0 * peak.getUsed / max else -1.0
        "\"" + p.getName.replace("'", "") + "\":{\"peak_mb\":" +
          f(peak.getUsed / 1048576.0) + ",\"max_mb\":" + f(max / 1048576.0) +
          ",\"peak_pct\":" + f(pct) + "}"
      }.mkString("{", ",", "}")
    val codeCacheFull = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .exists(p => p.getPeakUsage.getMax > 0 &&
        p.getPeakUsage.getUsed.toDouble / p.getPeakUsage.getMax > 0.97)
    val comp = java.lang.management.ManagementFactory.getCompilationMXBean
    val compileMs =
      if (comp != null && comp.isCompilationTimeMonitoringSupported) comp.getTotalCompilationTime
      else -1L
    // r12 (ADVICE): escape EVERY control char, not just \n\r\t — an
    // exception message carrying \f or a raw ANSI escape byte would
    // otherwise land unescaped in bench.json's errors map and make the
    // whole artifact unparseable, defeating the post-hoc diagnosability
    // the errors map exists to provide.
    def jstr(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append("\"").toString
    }
    // Per-run failure messages — the r10 gap: a failed bench row was
    // undiagnosable from the artifact alone.
    val errsJson = results.flatMap { case (k, runs) =>
      runs.zipWithIndex.collect { case ((_, false, Some(msg)), i) =>
        "\"" + k + "#" + i + "\":" + jstr(msg.take(500))
      }
    }.mkString("{", ",", "}")
    val stallsJson = stallProfiles.map { case (key, (sec, frames)) =>
      jstr(key) + ":{\"sec\":" + f(sec) + ",\"frames\":{" +
        frames.map { case (fr, n) => jstr(fr) + ":" + n }.mkString(",") + "}}"
    }.mkString("{", ",", "}")
    val strategiesJson = strategies.map { case (q, ds) =>
      jstr(q) + ":[" + ds.map(jstr).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val diskProbeJson = {
      def block(p: Option[(Double, Double)]): String = p match {
        case Some((mean, p99)) =>
          s"""{"mean_ms":${f(mean)},"p99_ms":${f(p99)}}"""
        case None => "null"
      }
      s"""{"tmpdir":${block(probeDisk)},"shm":${block(probeShm)}}"""
    }
    val localDirJson =
      s"""{"path":${jstr(localDir)},"detail":${jstr(localDirDetail)}}"""
    val line =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"runs":$runsJson,"errors":$errsJson,"stalls":$stallsJson,"strategies":$strategiesJson,"jit":{"compile_ms":$compileMs,"code_cache_full":$codeCacheFull,"pools":$poolsJson},"disk_probe":$diskProbeJson,"local_dir":$localDirJson,"failed":$failed,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench.json"), line + "\n")
    // The harness keeps only the last ~2000 chars of stdout, and the
    // full line above (97-query map + runs + stalls + JIT canary) is
    // several times that — round 5's artifact captured an unparseable
    // mid-line fragment ("parsed": null). stdout therefore gets ONE
    // compact, self-describing summary line that always fits the tail:
    // total/failed/sf plus the slowest per-query mins; the complete
    // per-query record stays in bench.json (committed with the repo).
    def f2(d: Double): String =
      BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val slowest = mins.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    // Failures are rare and load-bearing: put them on stdout too (the
    // 2000-char tail can afford one short message when failed > 0).
    val errBit = if (failed > 0) {
      val first = results.flatMap { case (k, runs) =>
        runs.collectFirst { case (_, false, Some(m)) => jstr(s"$k: ${m.take(160)}") }
      }.take(2).mkString("[", ",", "]")
      s""","errors_sample":$first"""
    } else ""
    val summary =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","failed":$failed$errBit,"n_queries":${mins.size},"sf":"$sfDir","queries":$slowest,"queries_truncated":true,"queries_full":"bench.json"}"""
    println(summary)
    spark.stop()
  }
}
