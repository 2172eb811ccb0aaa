package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The operator query mix: a fixed subset of `SparkEntry.queries`, one or
  * two per operator family, over generated tables. Each execution is
  * materialized through a `noop` write, as the contract bench does. Two
  * warm-up passes are setup; the first also yields each query's output
  * row count, which run.py compares with the DuckDB oracle's. The timed
  * part repeats whole passes in an order drawn from the seed.
  */
final class QueryMix(spark: SparkSession, ctx: Context, tracer: Tracer) {
  import QueryMix._

  private val names = if (ctx.smoke) smokeQueries else queries
  private val fns = graft.SparkEntry.queries
  private val dir = ctx.queryData.toString

  private def construct(name: String): DataFrame = fns(name)(spark, dir)
  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One untraced execution; None when the query failed. */
  private def once(name: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      execute(construct(name))
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    } finally graft.Scratch.reap()
  }

  /** Warm-up execution; its output row count is observed on the way to
    * the `noop` sink, so the count costs no extra job. -1 when it failed.
    */
  private def warmUp(name: String): Long =
    try {
      val rows = Observation(s"rows_$name")
      execute(construct(name).observe(rows, count(lit(1)).as("n")))
      rows.get("n").asInstanceOf[Long]
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        -1L
    } finally graft.Scratch.reap()

  def run(): Result = {
    val t0 = System.nanoTime()
    val counts = names.map(q => q -> warmUp(q))
    names.foreach(once) // a second pass, so the timed passes start warm
    val setupS = ctx.setupExtraS + (System.nanoTime() - t0) / 1e9
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val perQuery = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val loop = new Loop(ctx, tracer)
    loop.run { traced =>
      if (traced == null) {
        val times = order.map(q => q -> once(q))
        times.foreach { case (q, t) => t.foreach(perQuery(q) += _) }
        OpResult(times.flatMap(_._2).sum, times.size, times.count(_._2.isEmpty))
      } else {
        val t = traced.tracer
        val op = traced.op
        var failed = 0
        t.span("mix", op) {
          order.foreach { q =>
            try t.span("query", op) {
              val df = t.span("queries.construct", op)(construct(q))
              t.span("queries.execute", op)(execute(df))
            } catch {
              case e: Exception =>
                System.err.println(s"[perfbench] $q failed: $e")
                failed += 1
            } finally graft.Scratch.reap()
          }
        }
        val layers = t.engineLayers(op, ctx.cores) ++ Map(
          "queries.construct_s" -> t.self(op, "queries.construct"),
          "queries.execute_s" -> t.self(op, "queries.execute"))
        OpResult(layers("trace.wall_s"), order.size, failed, layers)
      }
    }
    val medians = names.filter(q => perQuery(q).nonEmpty)
      .map(q => Stats.median(perQuery(q).toSeq))
    val ok = counts.forall(_._2 >= 0)
    loop.result(setupS, ok, Stats.median(medians), medians.sum,
      storeBytesPerRow(),
      counts.map { case (q, n) => s"rows.$q" -> n.toDouble }.toMap ++
        names.filter(q => perQuery(q).nonEmpty)
          .map(q => s"p50_s.$q" -> Stats.median(perQuery(q).toSeq)))
  }

  private def storeBytesPerRow(): Double = {
    val tables = Files.list(ctx.queryData)
    val files = try tables.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".parquet")) finally tables.close()
    val bytes = files.map(Files.size).sum.toDouble
    val rows = files.map(f => spark.read.parquet(f.toString).count()).sum
    bytes / math.max(1L, rows)
  }

  /** The oracle SQL of every query in the mix, for run.py to check with. */
  def oracleSql: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
}

object QueryMix {
  /** One query per operator family: keyed dedup, date functions, upsert,
    * join + aggregate, top-k, the weather transform, near-duplicate text,
    * percentiles and range join. Left out: the streaming replays (q90,
    * q132), whose scratch goes to the tmpfs root outside the run's own
    * directory, and graph iteration (q105), whose 2.5-3 s per execution
    * would leave room for only one timed pass per run.
    */
  val queries: Seq[String] = Seq(
    "q02_dedup_keep_first", "q07_date_parts", "q11_upsert_last_writer",
    "q14_join_agg", "q17_top_k", "q20_weather_pipeline",
    "q31_simhash_neardup", "q38_percentiles", "q41_range_join")

  val smokeQueries: Seq[String] = Seq(
    "q03_validity_filter", "q14_join_agg", "q20_weather_pipeline")
}
