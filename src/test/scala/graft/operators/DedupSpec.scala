package graft.operators

import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("keepFirst keeps exactly the first row per key under the given order") {
    val df = Seq(
      ("a", 1L, "old"), ("a", 2L, "new"), ("b", 5L, "only"),
      ("a", 1L, "old-dup"), ("c", 3L, "x"), ("c", 2L, "y"))
      .toDF("k", "v", "tag")
    val got = Dedup.keepFirst(df, Seq("k"), Seq(col("v").asc, col("tag").asc))
      .orderBy("k").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      === Seq(("a", 1L, "old"), ("b", 5L, "only"), ("c", 2L, "y")))
  }

  test("upsert: incoming wins per key by version; EXCLUDED wins version ties") {
    val existing = Seq(("k1", 10L, "e1"), ("k2", 10L, "e2"), ("k3", 10L, "e3"))
      .toDF("k", "ver", "payload")
    val incoming = Seq(("k1", 20L, "i1"), ("k2", 10L, "i2"))
      .toDF("k", "ver", "payload")
    val got = Dedup.upsert(existing, incoming, Seq("k"), "ver")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    // k1: newer incoming wins; k2: tie -> incoming (EXCLUDED) wins;
    // k3: untouched existing survives.
    assert(got === Seq(("k1", "i1"), ("k2", "i2"), ("k3", "e3")))
  }

  test("upsertWithDeletes: newest tombstone removes the key; stale ones don't") {
    val existing = Seq(("k1", 10L, "e1"), ("k2", 10L, "e2"), ("k3", 10L, "e3"))
      .toDF("k", "ver", "payload")
    val incoming = Seq(
      ("k1", 20L, "del", true),   // newer tombstone -> k1 gone
      ("k2", 5L, "late-del", true), // OLDER than existing -> ignored
      ("k3", 20L, "i3", false))   // plain update
      .toDF("k", "ver", "payload", "deleted")
    val got = Dedup.upsertWithDeletes(existing, incoming, Seq("k"), "ver",
        "deleted")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got === Seq(("k2", "e2"), ("k3", "i3")))
    // result schema carries neither the tombstone nor internal columns
    assert(Dedup.upsertWithDeletes(existing, incoming, Seq("k"), "ver",
      "deleted").columns.toSeq === Seq("k", "ver", "payload"))
  }

  test("upsert preserves schema and row count = distinct keys") {
    val existing = Seq(("a", 1L, 1.0), ("b", 1L, 2.0)).toDF("k", "ver", "x")
    val incoming = Seq(("b", 2L, 3.0), ("c", 1L, 4.0)).toDF("k", "ver", "x")
    val got = Dedup.upsert(existing, incoming, Seq("k"), "ver")
    assert(got.columns.toSeq === Seq("k", "ver", "x"))
    assert(got.count() === 3)
  }

  test("upsert clusterBy puts each listed value on its own task, in list order") {
    val existing = Seq(("a", 1L, 7), ("b", 1L, 3)).toDF("k", "ver", "g")
    val incoming = Seq(("a", 2L, 7), ("c", 1L, 5), ("d", 1L, 3))
      .toDF("k", "ver", "g")
    val got = Dedup.upsert(existing, incoming, Seq("k"), "ver",
        clusterBy = Some(Dedup.Slots(Seq("g"), Seq(Seq(3), Seq(5), Seq(7)))))
      .withColumn("task", spark_partition_id())
    assert(got.columns.toSeq === Seq("k", "ver", "g", "task"))
    assert(got.rdd.getNumPartitions === 3)
    assert(got.orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSeq ===
      Seq(("a", 2L, 2), ("b", 1L, 0), ("c", 1L, 1), ("d", 1L, 0)))
  }

  test("upsert clusterBy's generated code does not depend on the listed values") {
    // a batch that touches other months than the last one must reuse the
    // compiled code, not compile its stages again; the repartitions keep
    // the optimizer from computing the slots of local rows while planning
    val existing = Seq(("a", 1L, 7), ("b", 1L, 3)).toDF("k", "ver", "g")
      .repartition(1)
    val incoming = Seq(("a", 2L, 7), ("c", 1L, 5)).toDF("k", "ver", "g")
      .repartition(1)
    def code(values: Int*) = {
      val merged = Dedup.upsert(existing, incoming, Seq("k"), "ver",
        clusterBy = Some(Dedup.Slots(Seq("g"), values.map(Seq(_)))))
      merged.collect()
      codegenStringSeq(merged.queryExecution.executedPlan).map(_._2)
    }
    val ascending = code(3, 5, 7)
    assert(ascending.nonEmpty)
    assert(code(7, 5, 3) === ascending)
  }

  test("upsert clusterBy fails on a value it has no slot for") {
    val existing = Seq(("a", 1L, 7)).toDF("k", "ver", "g")
    val incoming = Seq(("b", 1L, 4)).toDF("k", "ver", "g")
    val e = intercept[Exception] {
      Dedup.upsert(existing, incoming, Seq("k"), "ver",
        clusterBy = Some(Dedup.Slots(Seq("g"), Seq(Seq(7))))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("no merge slot for (g) = 4")),
      messages(e).mkString("\n"))
  }
}
