package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names, when given, restrict
    // the dump to that subset (dev iteration); the driver passes none.
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    // same session as Bench, including its guarded tmpfs local-dir
    // routing (placement only, results unaffected)
    val (spark, _, _) = Harness.session("graft-verify", sfDir)
    new java.io.File(outDir).mkdirs()
    // Physical-strategy decisions per query (r12) — see StrategyLog;
    // dumped as strategies.json so a sparse/dense mis-cutover is
    // visible next to the correctness artifacts.
    StrategyLog.drain()
    val strategies = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[String]]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        val decs = StrategyLog.render(StrategyLog.drain())
        if (decs.nonEmpty) strategies(name) = decs
        // r14: reap per query like Bench — Verify JVMs were the main
        // source of orphaned replay/checkpoint scratch (now partly on
        // tmpfs, i.e. RAM, where "cleaned at reboot" never comes). The
        // query's result parquet is fully written above, so its
        // scratch is garbage here by construction.
        Scratch.reap()
      }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val stratJson = strategies.map { case (k, ds) =>
      s"${Json.str(k)}: [${ds.map(Json.str).mkString(",")}]"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/strategies.json"), stratJson)
    spark.stop()
  }
}
