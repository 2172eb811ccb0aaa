package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.{Harness, Queries, Scratch, StrategyLog}

/** Dev runner over named registry queries, on the [[graft.Harness]]
  * session (set `SPARK_GRAFT_CPUS` as for Bench); everything goes to
  * stdout.
  *
  *  - `time <sfDir> <n> <query>...`: materialize each query through
  *    Bench's noop sink `n` times and print every run (Bench reports
  *    only min-of-3), plus its strategy decisions — bisects one query's
  *    regression without the whole suite.
  *  - `explain <sfDir> <query>...`: the formatted physical plan, i.e.
  *    the initial adaptive plan that code review can tie to the query.
  *  - `final-plan <sfDir> <query>...`: execute once, then print the
  *    FINAL adaptive plan — the only place AQE's runtime exchange and
  *    stage reuse is visible.
  *  - `audit <sfDir>`: for EVERY registry query, the interpreted-eval
  *    constructs its executed plan contains (higher-order lambdas,
  *    object or sort aggregates, cartesian products) — the input for
  *    PlanAuditSpec's whitelist.
  *
  * Every mode reaps the query's scratch before the next one.
  */
object Dev {
  private val usage = "usage: Dev time <sfDir> <n> <query>... | " +
    "explain <sfDir> <query>... | final-plan <sfDir> <query>... | audit <sfDir>"

  def main(args: Array[String]): Unit = {
    val reg = Queries.registry.toMap
    val (mode, sfDir, rest) = args.toSeq match {
      case m +: dir +: rest => (m, dir, rest)
      case _ => throw new IllegalArgumentException(usage)
    }
    val (n, names) = (mode, rest) match {
      case ("time", k +: qs) if k.toInt > 0 && qs.nonEmpty => (k.toInt, qs)
      case ("explain" | "final-plan", qs) if qs.nonEmpty => (0, qs)
      case ("audit", Seq()) => (0, Queries.registry.map(_._1))
      case _ => throw new IllegalArgumentException(usage)
    }
    names.filterNot(reg.contains).foreach { q =>
      sys.error(s"unknown query $q; known: ${reg.keys.toSeq.sorted}")
    }
    val (spark, localDir, detail) = Harness.session(s"graft-dev-$mode", sfDir)
    println(s"[dev] local_dir=$localDir ($detail)")
    // warm the JVM and the noop sink so the first timed run is not
    // charged for session startup
    if (mode == "time")
      try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    StrategyLog.drain()
    for (name <- names) {
      val fn = reg(name)._1
      mode match {
        case "time" =>
          val times = (1 to n).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[dev] $name runs=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}%.3f")
        case "explain" =>
          println(s"=== $name ===")
          println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        case "final-plan" =>
          val df = fn(spark, sfDir)
          // drive df's OWN QueryExecution (a noop write plans a separate
          // copy, leaving this one isFinalPlan=false)
          df.queryExecution.executedPlan.execute()
            .foreachPartition((_: Iterator[_]) => ())
          println(s"=== $name (final adaptive plan) ===")
          println(df.queryExecution.executedPlan.toString)
        case "audit" =>
          val flags = try {
            val p = fn(spark, sfDir).queryExecution.executedPlan.toString
            Seq("lambdafunction(" -> "LAMBDA", "ObjectHashAggregate" -> "OBJAGG",
              "SortAggregate" -> "SORTAGG", "CartesianProduct" -> "CARTESIAN")
              .collect { case (op, flag) if p.contains(op) => flag }
          } catch { case e: Throwable => Seq(s"ERR:${e.getClass.getSimpleName}") }
          if (flags.nonEmpty) println(s"[audit] $name: ${flags.mkString(",")}")
      }
      val decisions = StrategyLog.render(StrategyLog.drain())
      if (mode == "time") decisions.foreach(d => println(s"[dev]   strategy: $d"))
      Scratch.reap()
    }
    if (mode == "audit") println("[audit] done")
    spark.stop()
  }
}
