package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: name, start, end, parent span and operation id. The
  * counters hold what the listeners and the JVM attributed to this span
  * while it was the innermost open one (children keep their own).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startNs: Long) {
  var endNs: Long = 0L
  val counters: mutable.Map[String, Double] =
    mutable.HashMap.empty[String, Double]

  def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def raise(k: String, v: Double): Unit = counters.synchronized {
    counters(k) = math.max(counters.getOrElse(k, 0.0), v)
  }
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder with a `SparkListener` and a
  * `QueryExecutionListener` that charge Spark counters to the innermost
  * open span. The listener bus is drained at every span boundary, so an
  * event is always delivered while the span that caused it is current.
  * Tracing adds no Spark jobs: it only times calls and reads events and
  * executed-plan metrics.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Span = _
  private var nextId = 0

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = jit.getTotalCompilationTime
  private var lastGc, lastJit, lastCodegen = 0L

  /** Charge the process-wide JVM counters accrued since the last boundary
    * to the span that was current in between.
    */
  private def flushJvm(): Unit = {
    val (gc, j, cg) = (gcMs, jitMs, CodeGenerator.compileTime)
    val s = current
    if (s != null) {
      s.add("jvm.gc_s", (gc - lastGc) / 1e3)
      s.add("jvm.jit_compile_s", (j - lastJit) / 1e3)
      s.add("codegen.compile_s", (cg - lastCodegen) / 1e9)
    }
    lastGc = gc; lastJit = j; lastCodegen = cg
  }

  private def charge(k: String, v: Double): Unit = {
    val s = current
    if (s != null) s.add(k, v)
  }

  def span[T](name: String, op: Int)(body: => T): T = {
    BusBridge.drain(sc)
    flushJvm()
    val parent = if (current == null) -1 else current.id
    val s = new Span(nextId, name, parent, op, System.nanoTime())
    nextId += 1
    val prev = current
    current = s
    try body
    finally {
      BusBridge.drain(sc)
      flushJvm()
      s.endNs = System.nanoTime()
      spans += s
      current = prev
    }
  }

  @volatile private var sites: mutable.ArrayBuffer[String] = _

  /** Run `body` and return the call stack of each SQL execution (Dataset
    * action) it started, sorted. Unlike jobs, whose number can depend on
    * the data, there is one execution per action the code makes.
    */
  def actionSites[T](body: => T): (T, Seq[String]) = {
    BusBridge.drain(sc)
    val collected = mutable.ArrayBuffer.empty[String]
    sites = collected
    try {
      val r = body
      BusBridge.drain(sc)
      (r, collected.synchronized(collected.toSeq.sorted))
    } finally sites = null
  }

  private val stageTaskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      charge("exec.jobs", 1)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val c = sites
        if (c != null) c.synchronized(c += x.details)
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      charge("exec.stages", 1)
      stageTaskTimes.remove(e.stageInfo.stageId).foreach { ts =>
        if (ts.size > 1) {
          val sorted = ts.sorted
          val median = math.max(1L, sorted(sorted.size / 2))
          val s = current
          if (s != null) s.raise("exec.max_task_skew", sorted.last.toDouble / median)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      charge("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        charge("exec.task_run_s", m.executorRunTime / 1e3)
        charge("exec.task_cpu_s", m.executorCpuTime / 1e9)
        charge("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        charge("exec.spill_bytes", m.diskBytesSpilled.toDouble)
        charge("rows_read", m.inputMetrics.recordsRead.toDouble)
        stageTaskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    charge("catalyst.analysis_s", phase(QueryPlanningTracker.ANALYSIS))
    charge("catalyst.optimization_s", phase(QueryPlanningTracker.OPTIMIZATION))
    charge("catalyst.planning_s", phase(QueryPlanningTracker.PLANNING))
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").foreach(m => charge("files_read", m.value.toDouble))
      case w: DataWritingCommandExec =>
        val ms = w.cmd.metrics
        ms.get("numFiles").foreach(m => charge("files_written", m.value.toDouble))
        ms.get("numOutputBytes").foreach(m => charge("bytes_written", m.value.toDouble))
        ms.get("numOutputRows").foreach(m => charge("rows_written", m.value.toDouble))
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    BusBridge.drain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  /** Duration minus the time covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def opSpans(op: Int): Seq[Span] = spans.iterator.filter(_.op == op).toSeq

  /** Counter `k` summed over the op's spans named `name` (any name if None). */
  def counter(op: Int, k: String, name: Option[String] = None): Double =
    opSpans(op).filter(s => name.forall(_ == s.name))
      .map(_.counters.getOrElse(k, 0.0)).sum

  def maxCounter(op: Int, k: String): Double =
    opSpans(op).map(_.counters.getOrElse(k, 0.0)).foldLeft(0.0)(math.max)

  def self(op: Int, name: String): Double =
    opSpans(op).filter(_.name == name).map(selfSeconds).sum

  /** The counters every workload reports for one operation. */
  def engineLayers(op: Int, cores: Int): Map[String, Double] = {
    val root = opSpans(op).filter(_.parent == -1)
    val wall = root.map(_.seconds).sum
    val sums = Seq("catalyst.analysis_s", "catalyst.optimization_s",
      "catalyst.planning_s", "codegen.compile_s", "exec.jobs", "exec.stages",
      "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
      "exec.shuffle_write_bytes", "exec.spill_bytes", "jvm.gc_s",
      "jvm.jit_compile_s").map(k => k -> counter(op, k)).toMap
    sums ++ Map(
      "exec.max_task_skew" -> maxCounter(op, "exec.max_task_skew"),
      "exec.core_utilization" ->
        (if (wall > 0) sums("exec.task_run_s") / (wall * cores) else 0.0),
      "trace.wall_s" -> wall)
  }

  /** Spans as JSON lines for the run artifact. */
  def dump(): Seq[String] = spans.toSeq.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",")
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""self_s":${Json.num(selfSeconds(s))},"counters":{$cs}}"""
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
