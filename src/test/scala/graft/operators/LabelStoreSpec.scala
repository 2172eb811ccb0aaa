package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class LabelStoreSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def tmpDir(): String =
    tempDir("graft_labelstore").toString

  private def listing(store: String): Map[String, Set[String]] = {
    val root = Paths.get(store)
    Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("__pb="))
      .map { p: Path =>
        p.getFileName.toString ->
          Files.list(p).iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSet
      }.toMap
  }

  private def readLabels(store: String): Map[Long, Long] =
    spark.read.parquet(store).select("node", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("partial rewrite touches ONLY affected partitions' files") {
    val store = tmpDir() + "/labels"
    // components 1 (pb=1), 2 (pb=2), 40 (pb=8): distinct partitions
    val snapshot = Seq((1L, 1L), (5L, 1L), (2L, 2L), (6L, 2L),
      (40L, 40L), (41L, 40L)).toDF("node", "component")
    Graph.writeLabelStore(snapshot, "node", "component", store, parts = 16)
    val before = listing(store)
    assert(before.keySet === Set("__pb=1", "__pb=2", "__pb=8"))
    // batch touches only component 40's members
    Graph.updateLabelStore(store, Seq((41L, 99L)).toDF("src", "dst"),
      "src", "dst", parts = 16)
    val after = listing(store)
    // components 1 and 2 untouched: identical file names
    assert(after("__pb=1") === before("__pb=1"))
    assert(after("__pb=2") === before("__pb=2"))
    // component 40's partition was rewritten
    assert(after("__pb=8") !== before("__pb=8"))
    assert(readLabels(store) === Map(1L -> 1L, 5L -> 1L, 2L -> 2L,
      6L -> 2L, 40L -> 40L, 41L -> 40L, 99L -> 40L))
  }

  test("a merge across partitions rewrites both old partitions") {
    val store = tmpDir() + "/labels"
    val snapshot = Seq((17L, 17L), (33L, 17L), (20L, 20L), (50L, 50L))
      .toDF("node", "component")
    Graph.writeLabelStore(snapshot, "node", "component", store, parts = 16)
    val before = listing(store)
    // merge components 17 (pb=1) and 20 (pb=4) -> 17 (pb=1)
    Graph.updateLabelStore(store, Seq((33L, 20L)).toDF("src", "dst"),
      "src", "dst", parts = 16)
    val after = listing(store)
    assert(after("__pb=2") === before("__pb=2")) // component 50 untouched
    assert(readLabels(store) === Map(17L -> 17L, 33L -> 17L, 20L -> 17L,
      50L -> 50L))
    // the vacated partition must not resurrect stale rows
    val pb4 = spark.read.parquet(store)
      .where(col("__pb") === 4).count()
    assert(pb4 === 0L)
  }

  test("repeated updates converge to the full-recompute labeling") {
    val store = tmpDir() + "/labels"
    val rnd = new scala.util.Random(59)
    val n = 60
    val all = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val (old, rest) = all.splitAt(40)
    val full = Graph.connectedComponents(all.toDF("src", "dst"),
        "src", "dst").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val snap0 = Graph.connectedComponents(old.toDF("src", "dst"),
      "src", "dst").select(col("node"), col("component"))
    Graph.writeLabelStore(snap0, "node", "component", store, parts = 16)
    rest.grouped(20).foreach { batch =>
      Graph.updateLabelStore(store, batch.toDF("src", "dst"),
        "src", "dst", parts = 16)
    }
    val got = readLabels(store)
    full.foreach { case (node, comp) =>
      assert(got(node) === comp, s"node $node")
    }
  }

  test("parts is a stored property: manifest-driven updates at parts=64") {
    val store = tmpDir() + "/labels"
    // components 1, 130 (pb=2 at parts=64), 40: three partitions at 64
    val snapshot = Seq((1L, 1L), (5L, 1L), (130L, 130L), (131L, 130L),
      (40L, 40L), (41L, 40L)).toDF("node", "component")
    Graph.writeLabelStore(snapshot, "node", "component", store, parts = 64)
    assert(Files.exists(Paths.get(store, "_graft_labelstore.json")))
    val before = listing(store)
    assert(before.keySet === Set("__pb=1", "__pb=2", "__pb=40"))
    // NO parts argument: the updater reads 64 from the manifest
    Graph.updateLabelStore(store, Seq((41L, 99L)).toDF("src", "dst"),
      "src", "dst")
    val after = listing(store)
    assert(after("__pb=1") === before("__pb=1"))
    assert(after("__pb=2") === before("__pb=2"))
    assert(after("__pb=40") !== before("__pb=40"))
    assert(readLabels(store) === Map(1L -> 1L, 5L -> 1L, 130L -> 130L,
      131L -> 130L, 40L -> 40L, 41L -> 40L, 99L -> 40L))
    // a contradicting explicit parts is refused, not silently scattered
    val e = intercept[IllegalArgumentException] {
      Graph.updateLabelStore(store, Seq((99L, 100L)).toDF("src", "dst"),
        "src", "dst", parts = 16)
    }
    assert(e.getMessage.contains("parts=64"))
    // matching explicit parts still works (back-compat call shape)
    Graph.updateLabelStore(store, Seq((99L, 100L)).toDF("src", "dst"),
      "src", "dst", parts = 64)
    assert(readLabels(store)(100L) === 40L)
  }

  test("pre-manifest store: bare update errors, explicit parts heals it") {
    val store = tmpDir() + "/labels"
    Graph.writeLabelStore(Seq((1L, 1L)).toDF("node", "component"),
      "node", "component", store, parts = 16)
    Files.delete(Paths.get(store, "_graft_labelstore.json")) // r9-era store
    val e = intercept[RuntimeException] {
      Graph.updateLabelStore(store, Seq((1L, 2L)).toDF("src", "dst"),
        "src", "dst")
    }
    assert(e.getMessage.contains("manifest"))
    Graph.updateLabelStore(store, Seq((1L, 2L)).toDF("src", "dst"),
      "src", "dst", parts = 16) // heals: writes the manifest
    assert(Files.exists(Paths.get(store, "_graft_labelstore.json")))
    Graph.updateLabelStore(store, Seq((2L, 3L)).toDF("src", "dst"),
      "src", "dst") // manifest-driven from now on
    assert(readLabels(store) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
