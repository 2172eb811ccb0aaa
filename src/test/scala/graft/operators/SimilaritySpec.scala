package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class SimilaritySpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)), // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)), // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)), // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("dot and cosine match hand computation") {
    val r = vecs.filter(col("vec_id") === 0)
      .crossJoin(vecs.filter(col("vec_id") === 1)
        .select(col("embedding").as("b")))
      .select(Similarity.dot(col("embedding"), col("b")).as("d"),
        Similarity.cosine(col("embedding"), col("b")).as("c"))
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 0.9) < 1e-6)
    assert(math.abs(r.getDouble(1) - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6)
  }

  test("bruteForceTopK ranks by similarity, excludes self") {
    val got = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2))).toSeq
    // neighbor order for query 0: 1 (0.9), 4 (0.5), 2 (0.0), 3 (-1.0)
    assert(got === Seq((1L, 1), (4L, 2), (2L, 3), (3L, 4)))
  }

  test("lshTopK finds the same top neighbor as brute force for close vectors") {
    val brute = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 1)
      .collect()(0).getLong(1)
    val lsh = Similarity.lshTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 1,
        dim = 3, planes = 2)
      .collect()
    // with few planes the near-identical vector must land in the bucket
    assert(lsh.nonEmpty && lsh(0).getLong(1) === brute)
  }

  test("cosineNearDup finds scaled copies (cosine-invariant)") {
    val scaled = vecs.select((col("vec_id") + 100L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val pairs = Similarity.cosineNearDup(vecs.unionByName(scaled),
        "vec_id", "embedding", dim = 3, threshold = 0.999, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 to 4).foreach { i =>
      assert(pairs.contains((i.toLong, i + 100L)), s"missing ($i, ${i + 100})")
    }
  }

  test("cosineNearDup banded recall: every planted pair found across bands") {
    // 16-dim random-ish vectors + scaled copies; banding must find every
    // scaled copy (identical sign pattern in every band) regardless of
    // how individual planes slice the space
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val dups = base.map { case (i, v) => (i + 100L, v.map(_ * 0.5f)) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDup(df, "vec_id", "embedding",
        dim = 16, threshold = 0.999, planes = 6, bands = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { case (i, _) =>
      assert(pairs.contains((i, i + 100L)), s"missing planted pair ($i, ${i + 100})")
    }
  }

  test("cosineNearDup bucket guard fails fast on a degenerate corpus") {
    // all-identical vectors: every row lands in the same bucket of every
    // band -> the within-bucket join would be O(n^2); the guard must
    // raise before the quadratic join, not OOM inside it
    val same = (0L until 50L).map(i => (i, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.cosineNearDup(same, "vec_id", "embedding", dim = 3,
        threshold = 0.9, planes = 4, bands = 2, maxBucketRows = 10L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("LSH bucket exceeds")),
      s"wrong failure: ${e.getMessage}")
  }

  test("native FixedDot matches the HOF formulation incl. null semantics") {
    val rnd = new scala.util.Random(17)
    val pairs = (0L until 50L).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val both = pairs.select(
        Similarity.dotFixed(col("a"), col("b")).as("native"),
        Similarity.dotFixedHof(col("a"), col("b")).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val cos = pairs.select(
        Similarity.cosine(col("a"), col("b")).as("native"),
        Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .collect()
    cos.foreach(r => assert(r.getDouble(0) === r.getDouble(1),
      "native cosine must be bit-identical to the HOF formulation"))
    // edge cases: length mismatch and null element -> null on both paths
    val edges = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)), // mismatch
      (Array(1.0f), Array(1.0f)),       // fine
      (Array[Float](), Array[Float]())  // empty -> 0
    ).toDF("a", "b")
    val e = edges.select(Similarity.dotFixed(col("a"), col("b")).as("n"),
      Similarity.dotFixedHof(col("a"), col("b")).as("h")).collect()
    e.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
    }
  }

  test("GraftExtensions registers dot_fixed with a working builder") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val (name, className, builder, _) =
      new graft.expressions.GraftExtensions().functions.head
    assert(name === "dot_fixed")
    assert(className === "graft.expressions.FixedDot")
    val e = builder(Seq(
      Literal.create(Array(1.0f, 2.0f), ArrayType(FloatType)),
      Literal.create(Array(3.0f, 4.0f), ArrayType(FloatType))))
    // 1*3 + 2*4 = 11 -> 11e9 in fixed point
    assert(e.eval(null) === 11000000000L)
    intercept[IllegalArgumentException] { builder(Seq.empty) }
  }

  test("GraftExtensions registers scale_array and plane_dot builders") {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val fns = new graft.expressions.GraftExtensions().functions
      .map(f => f._1 -> f._3).toMap
    val vec = Literal.create(Array(1.0f, 2.0f), ArrayType(FloatType))
    val scaled = fns("scale_array")(Seq(vec, Literal(2.0f))).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(scaled.toFloatArray().toSeq === Seq(2.0f, 4.0f))
    val dot = fns("plane_dot")(Seq(vec,
      CreateArray(Seq(Literal(3.0), Literal(4.0))))).eval(null)
    assert(dot === 1.0 * 3 + 2.0 * 4)
    intercept[IllegalArgumentException] {
      fns("plane_dot")(Seq(vec, vec)) // weights must be literal
    }
  }

  test("native cosine matches HOF on edges: empty, mismatch, zero, double arrays") {
    val edges = Seq(
      (Array[Float](), Array(1.0f)),        // empty vs non-empty -> 0.0
      (Array(1.0f, 2.0f), Array(1.0f)),     // mismatch, norms > 0 -> null
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)), // zero norm -> 0.0
      (Array[Float](), Array[Float]())      // both empty -> 0.0
    ).toDF("a", "b")
    val e = edges.select(Similarity.cosine(col("a"), col("b")).as("n"),
      Similarity.cosineHof(col("a"), col("b")).as("h")).collect()
    e.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1), r.toString)
    }
    // double-typed vectors are accepted by both native kernels
    val dbl = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val r = dbl.select(Similarity.dotFixed(col("a"), col("b")).as("d"),
      Similarity.cosine(col("a"), col("b")).as("c")).collect()(0)
    assert(r.getLong(0) === 11000000000L)
    assert(math.abs(r.getDouble(1) - 11.0 / (math.sqrt(5) * math.sqrt(25))) < 1e-12)
  }

  test("IVF: centroids are unit norm; assignment is scale-invariant") {
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val df = (0L until 60L).map(i => (i, unit())).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
      dim = 8, nlist = 4, iters = 2)
    assert(cents.length === 4)
    cents.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    val scaled = df.select(col("vec_id"),
      transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val a = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Similarity.ivfAssign(scaled, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b, "cell assignment must be scale-invariant (argmax dot)")
  }

  test("IVF training gather: collect and treeAggregate paths are bit-identical") {
    // r12 (VERDICT r11 item 6): beyond ~10k cells the per-(cell, dim)
    // Lloyd sums go through an executor-side treeAggregate partial
    // merge instead of a driver collect. Long element adds are order-
    // independent, so the two gathers must agree exactly — and hence
    // produce bit-identical centroids downstream.
    val rnd = new scala.util.Random(17)
    val nlist = 5
    val dim = 3
    val rows = (0 until 200).map { _ =>
      (rnd.nextInt(nlist), rnd.nextInt(dim),
        rnd.nextLong() % 1000000L, 1L + rnd.nextInt(9))
    }
    // duplicate (cell, dim) keys pre-aggregated like trainIvfCentroids'
    // sumsDf (grouped) — aggregate here to mirror the real input shape
    val sumsDf = rows.toDF("__cell", "__d", "__s", "__n")
      .groupBy(col("__cell"), col("__d"))
      .agg(sum(col("__s")).as("__s"), sum(col("__n")).as("__n"))
      .repartition(7) // force multi-partition merge in the tree path
    val (s1, n1) = Similarity.gatherCellSums(sumsDf, nlist, dim,
      viaTree = false)
    val (s2, n2) = Similarity.gatherCellSums(sumsDf, nlist, dim,
      viaTree = true)
    assert(s1.toSeq === s2.toSeq)
    assert(n1.toSeq === n2.toSeq)
    assert(s1.exists(_ != 0L), "degenerate test data")
  }

  test("IVF topK with all cells probed matches brute force; nprobe=1 finds copies") {
    val rnd = new scala.util.Random(13)
    // L2-normalized, like the harness embeddings: dot = cosine, so an
    // identical copy's score is strictly maximal (the operator contract)
    val base = (0L until 30L).map { i =>
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (i, v.map(_ / n))
    }
    val dups = base.map { case (i, v) => (i + 100L, v.clone()) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
      dim = 8, nlist = 4, iters = 2)
    val queries = df.filter(col("vec_id") >= 100L && col("vec_id") < 105L)
    // exhaustive probing == brute force
    val ivf = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
        k = 3, cents, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
        k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(ivf === brute)
    // a verbatim copy shares its source's cell: nprobe=1 already finds it
    val top1 = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
        k = 1, cents, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (100L until 105L).foreach { q =>
      assert(top1.contains((q, q - 100L)), s"copy $q must retrieve its source")
    }
  }

  test("lshBucket is deterministic and scale-invariant") {
    val b = vecs.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 8, 3).as("b1"),
      Similarity.lshBucket(transform(col("embedding"), x => x * lit(3.0f)), 8, 3)
        .as("b2")).collect()
    b.foreach(r => assert(r.getLong(1) === r.getLong(2)))
  }

  test("ivfAssign drops degenerate vectors instead of planting them in cell 0") {
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val df = Seq(
      (1L, Array(0.9f, 0.1f, 0.0f)),   // healthy -> cell 0
      (2L, Array(0.1f, 0.9f, 0.0f)),   // healthy -> cell 1
      (3L, null.asInstanceOf[Array[Float]]), // null vector
      (4L, Array(0.5f, 0.5f))          // wrong dimension
    ).toDF("vec_id", "embedding")
    val got = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1),
      s"degenerate vectors must be dropped, got $got")
    // and they never reach an inverted list either
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val topk = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
        k = 10, centroids = cents, nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(!topk.contains(3L) && !topk.contains(4L),
      s"degenerate vectors surfaced in ivfTopK output: $topk")
  }

  test("ivfAssign stays linear in nlist (the 2^nlist when-max regression)") {
    // The centroid argmax was once a pairwise when-max reduce whose
    // expression size doubled per centroid — nlist=48 hung the analyzer
    // outright. The linear array_max form must handle it instantly and
    // still produce a valid cell per vector.
    val cents = Array.tabulate(48, 3)((c, d) => if (d == c % 3) 1.0 else 0.0)
    val got = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(got.values.forall(c => c >= 0 && c < 48))
    // ties resolve to the LOWEST cell: vec 0 = (1,0,0) scores 1.0 in
    // every cell with c % 3 == 0 and must land in cell 0.
    assert(got(0L) === 0)
  }

  test("semDedup drops the higher-id near-identical vector, keeps the rest") {
    // Two τ-groups (1≡2 exact copies, 4 = 0.5×3) plus two loners; the
    // greedy rule must drop exactly the higher id of each group with
    // its lower-id partner as survivor, regardless of how k-means
    // splits the four directions over the cells.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.5f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (6L, Array(0.0f, 0.0f, 0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(emb, "vec_id", "embedding",
        dim = 4, nlist = 2, tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 1L, 4L -> 3L))
  }

  test("semDedup cell guard fails fast on a degenerate mega-cell") {
    // mass-duplicate embeddings with nlist too small: every vector ties
    // into one cell, the pair join would be O(n^2) in that cell — the
    // guard must raise with the cell id BEFORE the quadratic join
    val same = (0L until 40L).map(i => (i, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.semDedup(same, "vec_id", "embedding", dim = 3,
          nlist = 2, tau = 0.9, maxCellRows = 10L, saltCellRows = 10L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m =>
        m != null && m.contains("SemDeDup cell exceeds")),
      s"wrong failure: ${e.getMessage}")
    // the healthy default path over the same corpus must NOT raise
    assert(Similarity.semDedup(same, "vec_id", "embedding", dim = 3,
      nlist = 2, tau = 0.9).count() === 39L)
  }

  test("semDedup within-cell split: planted hot cell, same answer, spread keys") {
    // one planted cell holds 10% of a 600-row corpus (the other rows sit
    // in 59 healthy cells) — the split must (a) keep the output
    // bit-identical to the unsplit run and (b) spread the hot cell's
    // pair join over multiple (cell, salt) keys instead of one straggler
    val rnd = new scala.util.Random(23)
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(8)(r.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val hot = (0L until 60L).map { i =>
      // near-identical family: tiny jitter on one base direction
      val base = unit(99)
      val j = unit(i.toInt + 1000)
      (i, base.zip(j).map { case (x, y) => x + 0.001f * y }, 0)
    }
    val cold = (60L until 600L).map(i => (i, unit(i.toInt), 1 + rnd.nextInt(59)))
    val withCell = (hot ++ cold).toDF("vec_id", "embedding", "cell")
    val split = Similarity.semDedupWithinCells(withCell, "vec_id",
        "embedding", tau = 0.999, maxCellRows = 1000000L,
        saltCellRows = 30L, salt = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsplit = Similarity.semDedupWithinCells(withCell, "vec_id",
        "embedding", tau = 0.999, maxCellRows = 1000000L,
        saltCellRows = 1000000L, salt = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(split === unsplit, "split must not change the answer")
    assert(split.nonEmpty && split.forall(_._2 === 0L),
      "hot-cell family prunes to its lowest id")
    // the hot cell's left leg spans >1 salt key => >1 shuffle partition key
    val hotSalts = withCell.filter(col("cell") === 0)
      .select(pmod(xxhash64(col("vec_id")), lit(4L)).as("s"))
      .distinct().count()
    assert(hotSalts >= 2L, "hot cell must spread over multiple salt keys")
  }

  private def mpCorpus(seed: Int, n: Int, dim: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i => i -> Array.fill(dim)(rnd.nextFloat() * 2 - 1))
  }

  test("multi-probe: exact-copy query always finds its twin at any probe count") {
    val corpus = mpCorpus(5, 60, 16).toDF("vec_id", "embedding")
    val queries = mpCorpus(5, 60, 16).filter(_._1 % 10 == 0)
      .map { case (id, v) => (id + 1000L, v) }.toDF("vec_id", "embedding")
    for (probes <- Seq(1, 3, 5)) {
      val top = Similarity.lshMultiProbeTopK(corpus, queries,
          "vec_id", "embedding", k = 1, dim = 16, probes = probes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(top === Map(1000L -> 0L, 1010L -> 10L, 1020L -> 20L,
        1030L -> 30L, 1040L -> 40L, 1050L -> 50L), s"probes=$probes")
    }
  }

  test("multi-probe recovers neighbors that straddle one hyperplane") {
    // seeded search for a (query, neighbor) pair whose buckets differ:
    // probes=1 must miss it, a larger probe budget must recover it —
    // the Lv et al. recall claim, demonstrated deterministically
    val dim = 16
    val corpus = mpCorpus(11, 200, dim)
    val cdf = corpus.toDF("vec_id", "embedding")
    def neighbors(qid: Long, q: Array[Float], probes: Int): Set[Long] =
      Similarity.lshMultiProbeTopK(cdf,
          Seq((qid, q)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 200, dim = dim, probes = probes)
        .collect().map(_.getLong(1)).toSet
    // probe sets are nested: more probes can only ADD candidates
    var demonstrated = false
    var i = 0
    while (!demonstrated && i < 40) {
      val (id, v) = corpus(i)
      val q = v.clone() // same direction, its own query id
      val p1 = neighbors(9000L + id, q, 1)
      val p8 = neighbors(9000L + id, q, 8)
      assert(p1.subsetOf(p8), s"probe sets must be nested (id=$id)")
      // the twin itself is always in p1; look for a cosine-relevant
      // neighbor only the flipped buckets contain
      if ((p8 -- p1).nonEmpty) demonstrated = true
      i += 1
    }
    assert(demonstrated,
      "no query gained candidates from multi-probe across 40 seeds — " +
        "probe generation is broken")
  }

  // ----- r9: data-derived scale knobs + persisted quantizer ------------

  test("NearestCell loop kernel matches the unrolled struct-argmax bit for bit") {
    val dim = 8
    val rnd = new scala.util.Random(31)
    def unitD(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cents = Array.fill(24)(unitD())
    // planted exact tie (duplicate UNIT centroids 7 == 19): row 300 IS
    // cents(7), so its dot is 1.0 in cells 7/19 and < 1 everywhere else
    // (Cauchy-Schwarz, strict for non-parallel unit vectors) — both
    // paths must resolve the tie to the LOWER cell id; degenerate rows
    // must be null in both paths
    cents(19) = cents(7).clone()
    val rows = (0L until 300L).map(i =>
      (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1))) ++ Seq(
      (300L, cents(7).clone()), // exact tie between cells 7 and 19
      (301L, null.asInstanceOf[Array[Double]]),
      (302L, Array(1.0, 2.0))) // wrong dimension
    // repartition: force real whole-stage codegen, not LocalRelation eval
    val df = rows.toDF("vec_id", "embedding").repartition(3)
    val both = df.select(col("vec_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.NearestCell(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              col("embedding")), cents)).as("kernel"),
        Similarity.cellColumnUnrolled(col("embedding"), cents).as("unrolled"))
      .collect()
    assert(both.length === 303)
    both.foreach { r =>
      val k = if (r.isNullAt(1)) null else r.getInt(1)
      val u = if (r.isNullAt(2)) null else r.getInt(2)
      assert(k === u, s"vec ${r.getLong(0)}: kernel=$k unrolled=$u")
    }
    val tie = both.find(_.getLong(0) == 300L).get
    assert(tie.getInt(1) === 7, "exact tie must resolve to the lowest cell")
    assert(both.filter(r => r.getLong(0) >= 301L).forall(_.isNullAt(1)))
  }

  test("autoNlist ~ sqrt(N) with clamps; autoPlanes holds bucket occupancy") {
    assert(Similarity.autoNlist(0L) === 16)
    assert(Similarity.autoNlist(100L) === 16)
    assert(Similarity.autoNlist(10000L) === 100)
    assert(Similarity.autoNlist(1000000L) === 1000)
    assert(Similarity.autoNlist(Long.MaxValue / 4) === 65536)
    // monotone non-decreasing
    val ns = Seq(0L, 10L, 1000L, 123456L, 10000000L).map(Similarity.autoNlist(_))
    assert(ns === ns.sorted)
    assert(Similarity.autoPlanes(0L) === 8)
    assert(Similarity.autoPlanes(15000L) === 8)   // 15000/2^8 = 58 <= 64
    assert(Similarity.autoPlanes(150000L) === 12) // 150000/2^12 = 36 <= 64
    assert(Similarity.autoPlanes(Long.MaxValue / 2) === 24) // clamp
    val ps = Seq(0L, 15000L, 150000L, 1500000L, 15000000L)
      .map(Similarity.autoPlanes(_))
    assert(ps === ps.sorted)
    // expected occupancy bound holds whenever the clamp isn't active
    for (n <- Seq(20000L, 333333L, 5000000L)) {
      val p = Similarity.autoPlanes(n)
      assert((n >> p) <= 64L, s"occupancy ${n >> p} at n=$n planes=$p")
    }
  }

  test("quantizer store: train once, load bit-identical, retrain on corpus change") {
    val dir = tempDir("graft_qstore_spec")
      .toString
    val rnd = new scala.util.Random(41)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val df = (0L until 80L).map(i => (i, unit())).toDF("vec_id", "embedding")
    val first = Similarity.trainOrLoadIvfCentroids(df, "vec_id", "embedding",
      dim = 8, nlist = 4, storeDir = dir, iters = 2)
    val storeKeys = new java.io.File(dir).list().toSeq
    assert(storeKeys.size === 1 && storeKeys.head.startsWith("ivf_nlist=4"))
    // second call must LOAD (no retrain): same store content, identical model
    val second = Similarity.trainOrLoadIvfCentroids(df, "vec_id", "embedding",
      dim = 8, nlist = 4, storeDir = dir, iters = 2)
    assert(first.length === second.length)
    first.zip(second).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    assert(new java.io.File(dir).list().toSeq === storeKeys)
    // a corpus change (one extra row) misses the fingerprint and retrains
    val grown = df.unionByName(Seq((999L, unit())).toDF("vec_id", "embedding"))
    Similarity.trainOrLoadIvfCentroids(grown, "vec_id", "embedding",
      dim = 8, nlist = 4, storeDir = dir, iters = 2)
    assert(new java.io.File(dir).list().length === 2,
      "grown corpus must produce a second store entry")
    // re-ordering the SAME rows keeps the fingerprint (order-independent)
    val shuffled = df.orderBy(rand(7))
    val third = Similarity.trainOrLoadIvfCentroids(shuffled, "vec_id",
      "embedding", dim = 8, nlist = 4, storeDir = dir, iters = 2)
    assert(new java.io.File(dir).list().length === 2)
    first.zip(third).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
  }

  test("semDedupAuto == semDedup at the derived nlist (store or fresh)") {
    val dir = tempDir("graft_qstore_spec2")
      .toString
    val rnd = new scala.util.Random(43)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val base = (0L until 120L).map(i => (i, unit()))
    val copies = base.filter(_._1 % 10 == 0)
      .map { case (i, v) => (i + 1000L, v.clone()) }
    val emb = (base ++ copies).toDF("vec_id", "embedding")
    val derived = Similarity.autoNlist(132L)
    assert(derived === 16)
    val auto = Similarity.semDedupAuto(emb, "vec_id", "embedding", dim = 8,
        tau = 0.999, storeDir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = Similarity.semDedup(emb, "vec_id", "embedding", dim = 8,
        nlist = derived, tau = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === manual)
    assert(auto === base.filter(_._1 % 10 == 0)
      .map { case (i, _) => (i + 1000L, i) }.toSet)
    // second run hits the store and keeps the identical answer
    val again = Similarity.semDedupAuto(emb, "vec_id", "embedding", dim = 8,
        tau = 0.999, storeDir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === auto)
  }

  test("corpusFingerprint with vecCol flips on in-place vector change") {
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // same ids, same count, one VALUE changed — the r10 ADVICE case
    val b = Seq((1L, Array(1.0f, 0.5f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idOnlyA = Similarity.corpusFingerprint(a, "vec_id")
    val idOnlyB = Similarity.corpusFingerprint(b, "vec_id")
    assert(idOnlyA === idOnlyB, "id-only keying is blind to payload (by design)")
    val fullA = Similarity.corpusFingerprint(a, "vec_id",
      vecCol = Some("embedding"))
    val fullB = Similarity.corpusFingerprint(b, "vec_id",
      vecCol = Some("embedding"))
    assert(fullA !== fullB, "payload-folded fingerprint must flip")
    // order independence still holds with the payload folded in
    val fullShuffled = Similarity.corpusFingerprint(a.orderBy(rand(5)),
      "vec_id", vecCol = Some("embedding"))
    assert(fullShuffled === fullA)
  }

  test("quantizer store: torn/invalid entries fall back to retrain") {
    val dir = tempDir("graft_qstore_val")
      .toString
    val rnd = new scala.util.Random(47)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val df = (0L until 60L).map(i => (i, unit())).toDF("vec_id", "embedding")
    val first = Similarity.trainOrLoadIvfCentroids(df, "vec_id", "embedding",
      dim = 8, nlist = 4, storeDir = dir, iters = 1)
    val key = new java.io.File(dir).list().head
    val path = s"$dir/$key"
    // corruption 1: truncated store (fewer rows than nlist)
    spark.read.parquet(path).limit(2).write.mode("overwrite")
      .parquet(s"$path.__replace")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path.__replace"),
      new org.apache.hadoop.fs.Path(path))
    spark.catalog.refreshByPath(path)
    val afterTrunc = Similarity.trainOrLoadIvfCentroids(df, "vec_id",
      "embedding", dim = 8, nlist = 4, storeDir = dir, iters = 1)
    first.zip(afterTrunc).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // ... and the retrain REPAIRED the store: next load is valid again
    val reloaded = Similarity.trainOrLoadIvfCentroids(df, "vec_id",
      "embedding", dim = 8, nlist = 4, storeDir = dir, iters = 1)
    first.zip(reloaded).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // corruption 2: wrong schema entirely
    Seq(("junk", 1)).toDF("a", "b").write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    val afterJunk = Similarity.trainOrLoadIvfCentroids(df, "vec_id",
      "embedding", dim = 8, nlist = 4, storeDir = dir, iters = 1)
    first.zip(afterJunk).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // no temp dirs left behind by the atomic-rename writes
    assert(new java.io.File(dir).list().forall(!_.startsWith(".tmp_")))
  }

  test("adaptiveTopK: exact arm below threshold is bruteForceTopK bit-for-bit") {
    val dir = tempDir("graft_qstore_ad1")
      .toString
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 50L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    val adaptive = Similarity.adaptiveTopK(corpus, queries, "vec_id",
        "embedding", k = 3, dim = 8, storeDir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(adaptive === exact)
    assert(new java.io.File(dir).list() === null
      || new java.io.File(dir).list().isEmpty,
      "exact arm must not touch the quantizer store")
  }

  test("adaptiveTopK: IVF arm above threshold finds the planted twin") {
    val dir = tempDir("graft_qstore_ad2")
      .toString
    val rnd = new scala.util.Random(59)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val base = (0L until 300L).map(i => (i, unit()))
    val corpus = base.toDF("vec_id", "embedding")
    // queries are bit-identical twins of every 30th corpus vector: they
    // land in their source's argmax cell under ANY centroids, so the
    // IVF arm must rank the source first — generator-robust, like q102
    val queries = base.filter(_._1 % 30 == 0)
      .map { case (i, v) => (i + 10000L, v.clone()) }
      .toDF("vec_id", "embedding")
    val got = Similarity.adaptiveTopK(corpus, queries, "vec_id",
        "embedding", k = 1, dim = 8, storeDir = dir,
        exactThreshold = 100L) // force the IVF arm at 300 rows
    val top1 = got.filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    base.filter(_._1 % 30 == 0).foreach { case (i, _) =>
      assert(top1.get(i + 10000L) === Some(i),
        s"twin of $i must be its own rank-1 neighbor")
    }
    assert(new java.io.File(dir).list().exists(_.startsWith("ivf_nlist=")),
      "IVF arm must persist its quantizer")
    // output schema matches the exact arm (generator-agnostic contract)
    assert(got.columns.toSeq ===
      Seq("query_id", "neighbor_id", "rank", "score_fp"))
  }
}
