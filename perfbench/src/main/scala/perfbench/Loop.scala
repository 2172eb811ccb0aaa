package perfbench

import java.nio.file.Path

import scala.collection.mutable

/** What one benchmark task was asked to do. */
final case class Context(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    smoke: Boolean,
    wrongExpectation: Boolean,
    workdir: Path,
    queryData: Path,
    setupExtraS: Double,
    cores: Int)

/** A traced operation: the tracer and the operation id its spans carry. */
final case class Traced(tracer: Tracer, op: Int)

/** Outcome of one closed-loop operation. */
final case class OpResult(seconds: Double, attempted: Int, failed: Int,
    layers: Map[String, Double] = Map.empty)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Map[String, Double], details: Map[String, Double],
    spans: Seq[String])

object Phase {
  private val t0 = System.nanoTime()
  /** Log a phase boundary with the seconds since the harness started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** The per-layer metric names, reported by every workload (0 where a
  * layer is not on the workload's path).
  */
object Layers {
  val names: Seq[String] = Seq(
    "ingest.self_s", "ingest.docs_in", "ingest.rows_out",
    "ingest.rows_rejected",
    "operators.self_s", "operators.rows_out", "operators.rows_dropped",
    "sources.self_s", "sources.rows_read", "sources.rows_written",
    "sources.bytes_written", "sources.files_written", "sources.table_files",
    "sources.write_amplification",
    "quality.self_s", "quality.files_read",
    "pipeline.other_s",
    "queries.construct_s", "queries.execute_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compile_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.core_utilization", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.max_task_skew",
    "jvm.gc_s", "jvm.jit_compile_s",
    "trace.wall_s", "trace.untraced_wall_s")
}

/** Closed loop with one client: each operation starts when the previous
  * one returns, until `seconds` have passed. In a traced run operations
  * alternate untraced and traced, so the run carries both wall times.
  */
final class Loop(ctx: Context, tracer: Tracer) {
  val times: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty[Double]
  val layers: mutable.ArrayBuffer[Map[String, Double]] =
    mutable.ArrayBuffer.empty[Map[String, Double]]
  var attempted = 0
  var failed = 0

  def run(op: Traced => OpResult): Unit = {
    Phase.mark(s"${ctx.workload} timed loop")
    val minOps = if (ctx.trace) 2 else 1
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traced = if (ctx.trace && i % 2 == 1) Traced(tracer, i) else null
      try {
        val r = op(traced)
        attempted += r.attempted
        failed += r.failed
        if (traced == null) times += r.seconds else layers += r.layers
      } catch {
        case e: Exception =>
          attempted += 1
          failed += 1
          System.err.println(s"[perfbench] operation $i failed: $e")
      }
      i += 1
    }
    Phase.mark(s"${ctx.workload} timed loop done after $i operations")
  }

  /** End-to-end metrics (untraced run) or per-layer medians (traced run). */
  def result(setupS: Double, extraChecksOk: Boolean, opP50S: Double,
      passS: Double, storeBytesPerRow: Double,
      details: Map[String, Double] = Map.empty): Result = {
    val failedAll =
      if (extraChecksOk || failed >= attempted) failed else failed + 1
    val metrics =
      if (!ctx.trace) Map(
        "setup_s" -> setupS,
        "op_p50_s" -> opP50S,
        "pass_s" -> passS,
        "store_bytes_per_row" -> storeBytesPerRow)
      else Layers.names.map { k =>
        k -> (if (k == "trace.untraced_wall_s") Stats.median(times.toSeq)
        else Stats.median(layers.toSeq.map(_.getOrElse(k, 0.0))))
      }.toMap
    Result(failedAll == 0, math.max(attempted, 1), failedAll, metrics,
      details ++ Map("ops" -> (times.size + layers.size).toDouble),
      if (ctx.trace) tracer.dump() else Nil)
  }
}
