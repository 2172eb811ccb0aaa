package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Rewrite a testdata directory with a SPLITTABLE parquet layout
  * (VERDICT r9 item 5, promoted from the round-9 ad-hoc recipe to a
  * first-class tool).
  *
  * Why this exists: the driver-generated tables are ONE parquet row
  * group each at every SF (sf10: documents 500k rows / 1 rg, events
  * 10M / 1 rg, embeddings 200k / 1 rg). Spark cannot split inside a
  * row group, so every pre-shuffle stage — scan, codegen'd per-row
  * kernels, partial aggregates — runs as 1-2 tasks on these tables no
  * matter the config (`maxPartitionBytes` is powerless below row-group
  * granularity). That single-threads the whole per-row-kernel band and
  * masks real plan regressions behind a layout artifact: the r9 sweep
  * measured q23 at 128.5 s on the 1-rg sf10 input vs 9.0 s on the same
  * rows in 32 splits — a 14× difference with ZERO engine changes.
  * Production corpora arrive in many files/row groups and parallelize
  * for free, so scale baselines quoted against the 1-rg layout grade
  * the generator's artifact, not the engine. The engine policy stays
  * unchanged: no corpus `repartition` is inserted into query plans to
  * dodge input layout (at 100 TB that shuffle would be the bottleneck);
  * the LAYOUT is fixed once, here, at data-preparation time — exactly
  * where a production pipeline fixes it (file sizing at ingest).
  *
  * What it does: each table is rewritten as `parts` parquet FILES of
  * equal row share (file boundaries split exactly like row-group
  * boundaries, and one file ≈ one row group at these sizes). Rows are
  * round-robin distributed — content-identical, every query's result
  * is unchanged (the suite's outputs are order-independent; oracles
  * sort). Dimension-sized tables are left at 1 file: splitting a
  * 25-row table buys nothing and costs 31 empty-file opens.
  *
  * Usage: `SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.Relayout [srcDir dstDir parts]"`
  * (defaults: target/sf10 → target/sf10r, 32).
  */
object Relayout {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables big enough to split; the rest copy through at 1 file. */
  private val splitFloorRows = 10000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "target/sf10"
    val dst = if (args.length > 1) args(1) else "target/sf10r"
    val parts = if (args.length > 2) args(2).toInt else 32
    val (spark, _, _) = graft.Harness.session("graft-relayout", src)
    run(spark, src, dst, parts)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, parts: Int): Unit = {
    require(parts > 0, "parts must be positive")
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val n = df.count()
      val out =
        if (n < splitFloorRows) df.coalesce(1)
        else df.repartition(parts)
      out.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[relayout] $t: $n rows -> " +
        s"${if (n < splitFloorRows) 1 else parts} file(s)")
    }
  }
}
