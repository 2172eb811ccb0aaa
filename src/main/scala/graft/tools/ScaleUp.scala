package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver's sf0.1 testdata to an "sf1"
  * dataset for scale validation (VERDICT r7 item 5): every fact table is
  * replicated `factor`× with key offsets so that
  *
  *   - primary keys stay unique and foreign keys stay consistent
  *     (join fan-outs are UNCHANGED — orders per customer, lineitems per
  *     order, parts per supplier all keep their sf0.1 distribution);
  *   - dimension tables (`region`, `nation`) are copied verbatim, as in
  *     TPC-H where they are scale-invariant;
  *   - `documents` texts in replicas > 0 get a position+replica marker
  *     token spliced after every 3rd word, so no 4-token (or wider)
  *     shingle window survives across replicas: each replica keeps the
  *     ORIGINAL corpus's near-dup density, and cross-replica Jaccard is
  *     ~0. Duplicate structure therefore scales LINEARLY (10× docs →
  *     10× near-dup pairs), which is exactly what a scaling run must
  *     hold constant — naive replication would hand every doc 9 planted
  *     near-copies and make candidate-pair growth quadratic by
  *     construction, measuring the generator instead of the engine.
  *   - `embeddings` replicas > 0 are reflected through a deterministic
  *     per-(replica, dim) sign flip — diag(±1) is orthogonal, so
  *     within-replica cosine/L2 geometry is IDENTICAL to the original
  *     while cross-replica cosines decorrelate. ANN/near-dup structure
  *     again scales linearly.
  *
  * Everything is pure Column algebra over a `spark.range(factor)` cross
  * join — one distributed pass per table, no driver-side rows beyond the
  * per-table max-key scalars.
  *
  * Usage: `SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp [srcDir dstDir factor]"`
  * (defaults: /root/testdata/sf0.1 → target/sf1, 10×).
  */
object ScaleUp {

  import org.apache.spark.sql.Column

  /** diag(±1) reflection per replica: sign from a high bit of a real
    * 64-bit avalanche hash of (replica, dim). Orthogonal ⇒ within-replica
    * cosine/L2 geometry unchanged. NOTE: `(x*odd) % 2` is just parity of
    * x — it yields only TWO distinct flip patterns across replicas (all
    * odd replicas bit-identical), which silently duplicates vectors
    * verbatim and makes cross-replica ANN structure quadratic. xxhash64
    * has no such algebraic collapse: every replica gets an
    * independent-looking sign pattern ([[ScaleUpSpec]] pins pairwise
    * distinctness and ~balanced flip counts).
    */
  def reflectedEmbedding(embedding: Column, replica: Column): Column =
    transform(embedding, (x, i) =>
      when(shiftright(xxhash64(replica, i), 32).bitwiseAND(1) === 0, x)
        .otherwise(-x))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val (spark, _, _) = graft.Harness.session("graft-scaleup", src)
    run(spark, src, dst, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    def maxOf(t: String, key: String): Long =
      read(t).agg(max(col(key))).head.getLong(0) + 1

    // Dimension tables: scale-invariant, copied verbatim.
    write(read("region"), "region")
    write(read("nation"), "nation")

    val custOff = maxOf("customer", "c_custkey")
    val suppOff = maxOf("supplier", "s_suppkey")
    val partOff = maxOf("part", "p_partkey")
    val orderOff = maxOf("orders", "o_orderkey")

    // Replicate `t` factor× applying `f(df-with-__r)`; __r ∈ [0, factor).
    def replicate(t: String)(f: DataFrame => DataFrame): DataFrame = {
      val reps = spark.range(factor).toDF("__r")
      f(read(t).crossJoin(broadcast(reps))).drop("__r")
    }
    def off(key: String, step: Long): DataFrame => DataFrame =
      df => df.withColumn(key, col(key) + col("__r") * step)

    write(replicate("customer")(off("c_custkey", custOff)), "customer")
    write(replicate("supplier")(off("s_suppkey", suppOff)), "supplier")
    write(replicate("part")(off("p_partkey", partOff)), "part")
    write(replicate("orders")(
      off("o_orderkey", orderOff) andThen off("o_custkey", custOff)), "orders")
    write(replicate("lineitem")(
      off("l_orderkey", orderOff) andThen off("l_partkey", partOff)
        andThen off("l_suppkey", suppOff)), "lineitem")

    val eventOff = maxOf("events", "event_id")
    val userOff = maxOf("events", "user_id")
    write(replicate("events")(
      off("event_id", eventOff) andThen off("user_id", userOff)), "events")

    val docOff = maxOf("documents", "doc_id")
    write(replicate("documents") { df =>
      // Replica 0 is the original corpus byte-for-byte. Replicas > 0
      // splice a marker token after every 3rd word: `zz<r>x<i>` differs
      // per replica AND per position, so every >=4-token shingle window
      // contains a token unique to (replica, position) and cross-replica
      // near-dup similarity collapses to ~0 while within-replica
      // structure (including the corpus's natural exact/near dups,
      // which replicate with the same marker and stay dups) is intact.
      val words = split(col("text"), " ")
      val marked = array_join(
        flatten(zip_with(
          words,
          sequence(lit(0), greatest(size(words) - 1, lit(0))),
          (w, i) => when(i % 3 === 2,
              array(w, concat(lit("zz"), col("__r"), lit("x"), i)))
            .otherwise(array(w)))),
        " ")
      df.withColumn("text", when(col("__r") === 0, col("text")).otherwise(marked))
        .withColumn("doc_id", col("doc_id") + col("__r") * docOff)
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    val vecOff = maxOf("embeddings", "vec_id")
    write(replicate("embeddings") { df =>
      df.withColumn("embedding",
          when(col("__r") === 0, col("embedding"))
            .otherwise(reflectedEmbedding(col("embedding"), col("__r"))))
        .withColumn("vec_id", col("vec_id") + col("__r") * vecOff)
    }, "embeddings")

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => t -> spark.read.parquet(s"$dst/$t.parquet").count())
    counts.foreach { case (t, n) => println(s"[scaleup] $t: $n rows") }
  }
}
