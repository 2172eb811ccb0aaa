package graft

/** Run-scoped scratch allocation under `java.io.tmpdir` with a per-JVM
  * registry, so cleanup deletes EXACTLY the directories this process
  * allocated — never another process's.
  *
  * Why a registry instead of a name pattern: the r10 Bench reaper
  * pattern-matched `graft_q\w*_<8hex>` against the SHARED tmpdir, which
  * (a) would delete a concurrently running graft JVM's staging
  * mid-query (`sbt test` next to a sweep on the same box), and (b) ate
  * keyed cross-run stores whose hash suffix happened to render as
  * exactly 8 hex chars — q160's `graft_q160_store_7418e66b` at sf0.1
  * ("/root/testdata/sf0.1".hashCode in hex) matched the pattern and was
  * wiped after every query, silently discarding the store it exists to
  * reuse. Registered paths have neither failure mode.
  *
  * Allocation only RESERVES the name (the caller creates the files);
  * [[reap]] drains the registry and recursively deletes whatever exists
  * at each registered path. Keyed cross-run stores (quantizers, sketch
  * stores, LSH catalogs) must NOT be allocated here — they are meant to
  * survive reaps.
  */
object Scratch {
  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  // r14: registered scratch is BY DEFINITION ephemeral to this JVM, so
  // reap whatever is still registered at exit — spec/tool JVMs without
  // a per-query reap loop (and killed runs on SIGTERM) were leaving
  // checkpoint/stage dirs behind, and since the fast root moved to
  // /dev/shm that residue is RAM that no reboot-less host ever
  // reclaims (~360 orphaned dirs observed before this hook). Bench /
  // Verify still reap per query; this is the backstop, scoped exactly
  // like every reap: only paths THIS process allocated.
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => reap(),
      "graft-scratch-reap"))
  }

  /** Allocate (but do not create) a fresh scratch path
    * `<prefix>_<8 hex>` under `java.io.tmpdir` and register it for
    * [[reap]].
    */
  def dir(prefix: String): java.io.File = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
    created.add(f)
    f
  }

  /** tmpfs candidate for latency-sensitive scratch, or None when
    * /dev/shm is absent or unwritable. Capacity is re-checked at EVERY
    * allocation (r13 review): tmpfs fills as the suite runs, and a
    * one-shot class-load check would keep routing staging onto a
    * nearly-full tmpfs mid-sweep — the ENOSPC failure class [[reap]]
    * exists to prevent, made harder to see because Bench's low-space
    * guard watches java.io.tmpdir, not /dev/shm.
    */
  private val shmCandidate: Option[java.io.File] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) Some(shm) else None
  }

  /** Default headroom a [[fastDir]] allocation asks of tmpfs: sized to
    * the LARGEST fast-root tenant (a replay query's staging — one
    * filtered table copy, a few hundred MB at sf10r) with 2× margin.
    * KB-scale tenants (sketch stores, checkpoints) pass their own
    * smaller figure so a busy tmpfs never exiles them to a disk that
    * is orders of magnitude slower per metadata op.
    *
    * r14 (closes the r13 VERDICT's "Scratch routing is invisible" and
    * ADVICE's blanket-16-GiB findings): the old guard demanded 16 GiB
    * usable for EVERY allocation — a KB-scale checkpoint would degrade
    * to the stalling disk because tmpfs had "only" 15 GiB free — and
    * logged nothing, so the r13 q164 regression could not be
    * adjudicated from the artifact. Now the threshold is per
    * allocation and every routing decision emits a StrategyLog line
    * (chosen root, measured usable space, requested need), which Bench
    * attributes to the query that allocated.
    */
  val defaultNeedBytes: Long = 1L << 30

  private def chooseFastRoot(prefix: String, needBytes: Long): String =
    shmCandidate match {
      case Some(shm) =>
        val usable = shm.getUsableSpace
        if (usable > needBytes) {
          StrategyLog.record("scratch", "tmpfs",
            f"$prefix need=${needBytes / 1048576}%dMiB usable=${usable / (1L << 30)}%dGiB")
          shm.getPath
        } else {
          StrategyLog.record("scratch", "disk",
            f"$prefix DEGRADED: tmpfs usable=${usable / 1048576}%dMiB < need=${needBytes / 1048576}%dMiB")
          System.getProperty("java.io.tmpdir")
        }
      case None =>
        StrategyLog.record("scratch", "disk", s"$prefix: no writable /dev/shm")
        System.getProperty("java.io.tmpdir")
    }

  /** [[dir]] on the fast (tmpfs-preferred) root: for scratch whose
    * TOTAL size stays small at every benched scale (streaming replay
    * stage/out dirs, KB-scale sketch stores). The r13 bench measured
    * the replay queries 2-4× slower in-suite than standalone with
    * every dominant stall frame in small-file create/rename on the
    * disk tmpdir; their staging I/O is latency-bound, not
    * capacity-bound, which is tmpfs's exact trade. Genuinely bulk
    * scratch (q121's format round-trip leaves ~12 GB per run at sf10)
    * may ALSO route here, but only with a `needBytes` derived from the
    * actual input size — tmpfs capacity is RAM, and the per-allocation
    * guard is the only thing standing between a data-proportional
    * tenant and ENOSPC on a busy host. `needBytes` is the
    * caller's worst-case footprint for THIS allocation; capacity is
    * re-checked per call so a filling tmpfs degrades new allocations
    * instead of failing writes with ENOSPC mid-query.
    */
  def fastDir(prefix: String,
      needBytes: Long = defaultNeedBytes): java.io.File = {
    val f = new java.io.File(chooseFastRoot(prefix, needBytes),
      s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
    created.add(f)
    f
  }

  /** [[fastDir]] with a `_cp` name infix: STREAMING-CHECKPOINT scratch.
    *
    * Why checkpoints specifically need the fast root (r13, adjudicated
    * in BASELINE.md's Round-13 records; superseded diagnosis in r14 —
    * [[graft.streaming.LocalNioCheckpointFileManager]]): every
    * streaming micro-batch commits offset/commit metadata and
    * state-store deltas through create-temp → hsync → rename. Replay
    * checkpoints are ephemeral (one AvailableNow run, then reaped) and
    * KB-to-MB-scale, hence the small default need.
    */
  def cpDir(prefix: String,
      needBytes: Long = 256L << 20): java.io.File =
    fastDir(s"${prefix}_cp", needBytes)

  /** Recursive byte count of a data directory (plain file walk — the
    * bench input dirs hold a few hundred parquet files at most).
    */
  private[graft] def duBytes(f: java.io.File): Long = {
    if (f.isFile) f.length
    else {
      val kids = f.listFiles()
      if (kids == null) 0L else kids.map(duBytes).sum
    }
  }

  /** Pure decision core of [[sparkLocalDir]], split out so the spec can
    * pin the policy without a real filesystem: given the input-data
    * size and tmpfs usable space, tmpfs hosts Spark's local dirs only
    * when it can absorb the suite's worst-case shuffle footprint —
    * `max(8 GiB, 32 × input)`. The 32× bound: the widest shuffle
    * amplification measured across the suite is ~8-10× input bytes
    * (shingle/n-gram explodes), and dead shuffle files of up to 25
    * queries can accumulate between Bench's GC nudges before the
    * ContextCleaner reclaims them; 32× with an 8 GiB floor covers both
    * with margin. Returns None when tmpfs must not be used.
    */
  private[graft] def localDirNeedBytes(inputBytes: Long): Long =
    math.max(8L << 30, inputBytes * 32)

  /** Root for `spark.local.dir` — shuffle files, block-manager spill,
    * broadcast pieces — chosen like [[fastDir]] chooses scratch roots:
    * tmpfs when present AND big enough for the workload, else the JVM
    * tmpdir (Spark's default). Returns (path, decision detail).
    *
    * Why (r14, measured): the sort-shuffle writers create
    * O(mapTasks × reducePartitions) temp files per exchange and merge
    * them (`BypassMergeSortShuffleWriter`/`UnsafeShuffleWriter` →
    * `copyFileStreamNIO` — the dominant stall frames of the regressed
    * queries), so a shuffle's wall-clock cost carries a
    * files × create-latency term. This host's disk tmpdir swings
    * 0.5 → 11 ms per create+hsync+rename between same-day runs
    * (bench.json `disk_probe` series) while /dev/shm holds steady at
    * ~0.03 ms; in the degraded window a single 32×32 exchange pays
    * ~10 s in file creates alone (q121 measured 17.8 s vs 3.9 s).
    * Interleaved A/B (committed in OPTIMIZATION_r14.md): with the disk
    * at 3.6 ms/op the 8-query subset ran 30.3 s on disk vs 24.7 s on
    * tmpfs — every query faster; with a healthy disk the delta is
    * inside host noise. Routing to tmpfs removes the variance class
    * rather than betting each run on the disk's mood.
    *
    * Production analogue: point `spark.local.dir` at the fastest
    * local device that can hold the shuffle working set (NVMe, or a
    * RAM disk for latency-bound small-shuffle workloads) — standard
    * deployment practice, parameterised here the same way.
    *
    * `SPARK_LOCAL_DIRS` handling (r15 — this was the round's single
    * biggest measured lever): the r14 policy treated the env var as an
    * absolute override, and the round-14 driver environment set
    * `SPARK_LOCAL_DIRS=/tmp/spark-local` — the DISK tmpdir — so every
    * driver-side measurement ran with the exact shuffle placement the
    * r14 change existed to avoid (driver full suite 249.4 s at 32
    * cores vs 157.99 s in the committed tmpfs artifact; the 8-core run
    * beat the 32-core run, 208.4 s, because 32×32 exchanges create
    * 16× more shuffle temp files than 8×8 on a ~2 ms/op disk). The env
    * var is therefore demoted from "absolute override" to "preferred
    * DISK candidate": the same capacity guard picks tmpfs when it can
    * absorb the workload, and the env-provided root replaces
    * `java.io.tmpdir` as the fallback when it cannot. Operators who
    * need the env var honored unconditionally (e.g. a cgroup where
    * /dev/shm is accounted against a tight memory limit) set
    * `SPARK_GRAFT_LOCAL_DIR_POLICY=env`, which restores Spark's native
    * precedence exactly.
    *
    * The guard is scale-adaptive, not host-constant: need grows with
    * the input directory's actual size, so a small-tmpfs host or a
    * big-data sweep degrades to the disk root (status quo) instead
    * of risking ENOSPC on RAM.
    */
  def sparkLocalDir(inputDir: String): (String, String) = {
    val envDir = sys.env.get("SPARK_LOCAL_DIRS")
    val envForced = sys.env.get("SPARK_GRAFT_LOCAL_DIR_POLICY").contains("env")
    if (envDir.isDefined && envForced)
      (envDir.get, s"env SPARK_LOCAL_DIRS=${envDir.get} (policy=env)")
    else {
      val diskRoot = envDir.getOrElse(System.getProperty("java.io.tmpdir"))
      val diskLabel =
        envDir.map(p => s"disk (env SPARK_LOCAL_DIRS=$p)").getOrElse("disk")
      val envNote = envDir.map(p =>
        s" [env SPARK_LOCAL_DIRS=$p demoted to disk-candidate;" +
          " SPARK_GRAFT_LOCAL_DIR_POLICY=env restores it]").getOrElse("")
      shmCandidate match {
        case Some(shm) =>
          val in = duBytes(new java.io.File(inputDir))
          val need = localDirNeedBytes(in)
          val usable = shm.getUsableSpace
          if (usable > need)
            (shm.getPath,
              f"tmpfs input=${in / 1048576}%dMiB need=${need / (1L << 30)}%dGiB usable=${usable / (1L << 30)}%dGiB$envNote")
          else
            (diskRoot,
              f"$diskLabel DEGRADED: tmpfs usable=${usable / (1L << 30)}%dGiB < need=${need / (1L << 30)}%dGiB")
        case None =>
          (diskRoot, s"$diskLabel: no writable /dev/shm")
      }
    }
  }

  /** Session-core SparkConf implementing [[sparkLocalDir]]'s decision.
    *
    * Spark core resolves local dirs as `SPARK_LOCAL_DIRS` env >
    * `spark.local.dir` conf (`Utils.getConfiguredLocalDirs`), so when
    * the policy chooses a root OTHER than the env var's, setting the
    * conf alone would be silently ignored. The returned conf then masks
    * exactly that one env read — Spark reads the env THROUGH the conf
    * (`ReadOnlySparkConf.getenv`, a public interface method kept
    * virtual precisely so a conf can redirect it), and `clone` is
    * overridden because `SparkContext` clones the conf it is given.
    * The mask is scoped to this SparkConf instance; the process env is
    * untouched and every other env read behaves normally.
    */
  def localDirSparkConf(
      inputDir: String): (org.apache.spark.SparkConf, String, String) = {
    val (dir, detail) = sparkLocalDir(inputDir)
    val masked = sys.env.get("SPARK_LOCAL_DIRS").exists(_ != dir)
    val conf =
      if (masked) new MaskedLocalDirsConf(true)
      else new org.apache.spark.SparkConf(true)
    conf.set("spark.local.dir", dir)
    (conf, dir, detail)
  }

  /** Delete every scratch path THIS JVM allocated since the last reap.
    * Callers invoke it between fully-materialized units of work (Bench
    * reaps after each query's runs complete), never while an allocated
    * path may still be read.
    */
  def reap(): Unit = {
    var f = created.poll()
    while (f != null) {
      rm(f)
      f = created.poll()
    }
  }

  private def rm(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rm)
    f.delete()
    ()
  }
}

/** SparkConf whose env view hides `SPARK_LOCAL_DIRS`, so that
  * `spark.local.dir` (set by [[Scratch.localDirSparkConf]] to the
  * policy-chosen root) takes effect even when the launching
  * environment exports the var. See the scaladoc there for why this
  * exists and how to opt out (`SPARK_GRAFT_LOCAL_DIR_POLICY=env`, in
  * which case this class is never instantiated).
  *
  * `getenv` is the public `ReadOnlySparkConf` interface method Spark
  * core uses for exactly this resolution
  * (`Utils.getConfiguredLocalDirs`); `clone` must preserve the subclass
  * because `SparkContext` clones its conf at construction.
  */
private[graft] final class MaskedLocalDirsConf(loadDefaults: Boolean)
    extends org.apache.spark.SparkConf(loadDefaults) {
  override def getenv(name: String): String =
    if (name == "SPARK_LOCAL_DIRS") null else System.getenv(name)
  override def clone: org.apache.spark.SparkConf = {
    val c = new MaskedLocalDirsConf(false)
    getAll.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
