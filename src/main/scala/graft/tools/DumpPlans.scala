package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: regenerate PLANS.md from the ACTUAL executed plans of the
  * showcase queries, so the documented plans cannot drift from the code.
  * Run: `SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.DumpPlans"` (writes
  * ./PLANS.md; the committed plans were captured at 8 cores).
  */
object DumpPlans {

  /** query name → the scale property its plan demonstrates. */
  private val showcase: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      ("Flagship aggregation: two-phase HashAggregate (map-side partials "
        + "before one shuffle on the group key); every money sum is exact "
        + "cents arithmetic (BIGINT) finished by one double division — no "
        + "decimal-typed output column anywhere (driver-hash unsafe)."),
    "q03_validity_filter" ->
      ("Both range predicates reach the parquet scan (PushedFilters) and "
        + "the scan reads only the four projected columns (ReadSchema) — "
        + "at 100 TB this is the difference between scanning 4 columns of "
        + "the row group and all 16."),
    "q13_join_broadcast" ->
      ("Dimension enrichment: explicit broadcast() → BroadcastHashJoin, "
        + "map-side at any fact-table scale; no shuffle of the fact side."),
    "q17_top_k" ->
      ("Global top-k compiles to TakeOrderedAndProject: per-partition "
        + "heaps + driver merge of k rows — never a global sort."),
    "q20_weather_pipeline" ->
      ("The full reference transform (dedup → validity filters → scalar "
        + "tower → date parts) fuses into whole-stage-codegen spans; the "
        + "keep-first dedup's row_number()=1 uses WindowGroupLimit "
        + "pushdown (per-partition limit before the shuffle)."),
    "q26_minhash_neardup" ->
      ("Relational MinHash: shingles explode to rows, each shingle string "
        + "hashed ONCE to a long, the 128 families hash that fixed-width "
        + "key inside a codegen'd grouped min-aggregate with map-side "
        + "partials; band self-join reuses one exchange (ReusedExchange); "
        + "candidate pairs carry bare ids; verification re-joins per-doc "
        + "shingle sets and repartitions to defeat AQE coalescing."),
    "q28_ann_topk" ->
      ("Exact ANN baseline: the 5-vector query side broadcasts; the "
        + "corpus streams map-side through the fixed-point dot product; "
        + "per-query top-k via window. Broadcast NLJ is the labeled "
        + "exact-baseline design; the scale path is LSH (q29)."),
    "q29_cosine_neardup" ->
      ("Banded cosine LSH: 4 independent 12-plane families bucket every "
        + "vector (posexplode over the band array); a per-(band, bucket) "
        + "count window — riding the same exchange as the candidate join "
        + "— raise_errors before any bucket can go quadratic; candidates "
        + "carry ids only, vectors re-join for exact cosine verification."),
    "q32_asof_join" ->
      ("Backward as-of join as union + per-key window: one exchange per "
        + "side, no range/cross join; the window picks the latest "
        + "right-side row at or before each event time."),
    "q41_range_join" ->
      ("Point-in-interval join via domain binning: intervals explode to "
        + "overlapped bins (fail-fast capped), points land in one bin, "
        + "the join is a hash EQUI-join on the bin id (AQE-skew-"
        + "splittable) with the exact predicate as residual — Spark's "
        + "default plan for this condition is a broadcast nested loop."),
    "q53_ivf_ann" ->
      ("IVF ANN: corpus assigned to nearest-centroid inverted lists via "
        + "static dot-product aggregates over exploded rows; queries "
        + "probe nprobe cells (broadcast) and score only those lists — "
        + "the data-adaptive counterpart of the LSH bucket path."),
    "q48_packing" ->
      ("Sequence packing: the running-sum window is PARTITIONED by the "
        + "doc-id shard, so packing parallelizes per shard instead of "
        + "collapsing to one global-order partition (the round-1 WARN); "
        + "chunking itself is a no-shuffle 1→N generator."),
    "q55_dup_clusters" ->
      ("Dup-cluster resolution: near-dup edges derive from the staged "
        + "Jaccard tower through an explode barrier (a Generate blocks "
        + "predicate pushdown from re-inlining the tower — 23 s → 2.8 s); "
        + "the large-star/small-star rounds are groupBy(min)+equi-joins "
        + "whose converged edge set enters the final plan as a "
        + "checkpointed scan, not an unrolled join tree."),
    "q56_bm25_topk" ->
      ("BM25: one explode+groupBy builds the (doc, term, tf) postings — "
        + "an inverted index, shuffled once on the term; df is a narrow "
        + "second aggregate; query terms and corpus stats broadcast; "
        + "per-query top-k uses the WindowGroupLimit rank pushdown."),
    "q57_decontam" ->
      ("Decontamination: both sides explode to distinct n-grams hashed "
        + "to fixed-width 60-bit keys in the post-explode projection "
        + "(codegen, shingle text never shuffles); the eval side "
        + "broadcasts so the corpus streams map-side; per-doc distinct "
        + "counts aggregate with partials."),
    "q67_bloom_semijoin" ->
      ("Runtime-filter pattern: the bloom word table (≤ m/32 rows by "
        + "construction, independent of build-side cardinality) builds "
        + "with one bit_or groupBy and broadcasts to all k probe joins "
        + "through a single reused exchange (ReusedExchange ×3); the "
        + "probe side never shuffles for membership."),
    "q71_stratum_sample" ->
      ("Fixed-k per-stratum sampling: the rank≤k predicate pushes into "
        + "the per-stratum sort as WindowGroupLimit, so sort state is "
        + "O(k) per stratum — a stratum of a billion rows keeps 20."),
    "q66_resample_ffill" ->
      ("Grid densification: per-key spans reuse the bucketing "
        + "aggregate's exchange; sequence+explode generates the dense "
        + "grid distributed (Generate, no driver round-trip); the ffill "
        + "window shuffles once on the key."),
    "q77_winnow_overlap" ->
      ("Round-4 rewrite: k-grams via lead() windows, md5 in a FLAT "
        + "codegen projection (never inside a lambda — interpreted HOF "
        + "call sites measured unstable), winnow min as a ROWS frame on "
        + "the same (doc,pos) window, distinct+size on the established "
        + "partitioning; pair side pins repartition(n, fp) so AQE can't "
        + "coalesce it and uses a window doc-freq guard so both "
        + "self-join legs reuse ONE wide exchange."),
    "q88_salted_join" ->
      ("Skew-resilient join: big side salted from row position, dim "
        + "replicated ×B, SHUFFLE_MERGE join on (key, salt) — the hot "
        + "key spreads over B reducers; a broadcast would bypass the "
        + "mechanism, so the hint pins the shuffled shape."),
    "q89_bucketed_join" ->
      ("Bucketed storage join: both sides written bucketed+sorted on "
        + "the key; the join subtree runs with ZERO Exchange (the "
        + "bucket layout IS the shuffle, paid once at write time)."),
    "q104_substring_dedup" ->
      ("Span-level dedup as a strictly LINEAR pipeline — zero joins: "
        + "tokenize → positional windows → hash in one codegen'd scan, "
        + "occurrence count as an unordered window over the fixed-width "
        + "hash exchange (the groupBy+flag-join form measured THREE "
        + "corpus scans: pruning and inferred not-null filters diverge "
        + "the consumer subtrees past ReuseExchange), then per-doc "
        + "gaps-and-islands span merge on one narrow doc_id exchange."),
    "q106_shuffle_shard" ->
      ("Deterministic shuffle-shard export: within-shard ranks via the "
        + "q70 chunked pattern (range partition → local row_number → "
        + "broadcast offsets), so no shard ever funnels through a "
        + "single-task sort; the permutation is provably identical to "
        + "the naive global window (q106 oracle pins it)."),
    "q93_boilerplate" ->
      ("Corpus-frequency boilerplate (C4-style): document frequency is "
        + "the only wide shuffle (partial-aggregated over per-doc "
        + "DISTINCT shingles); the tiny heavy-hitter set broadcasts "
        + "BACK to the exploded stream, which therefore never crosses "
        + "the network raw."),
    "q94_bigram_lm" ->
      ("Self-trained bigram-LM fluency: per-(doc,bigram) occurrences "
        + "collapse first (partial agg), corpus counts aggregate from "
        + "that reduced stream, the unigram-prefix table broadcasts; "
        + "probabilities are fixed-point so every per-doc sum is an "
        + "order-independent integer."),
    "q112_triangle_count" ->
      ("Degree-ordered triangle counting: edges orient low-(deg,id) → "
        + "high, so the wedge self-join enumerates each triangle once "
        + "from its lowest corner and hub out-degrees stay O(sqrt m) — "
        + "equi-joins and hash aggregates only, no cross product; the "
        + "oriented edge list localCheckpoints once and feeds both "
        + "wedge legs and the closing probe."),
    "q117_skyline" ->
      ("Pareto frontier without a global sort: same-x dominance "
        + "collapses in one partial-aggregated groupBy; the strict "
        + "prefix running-min runs per range-chunk in parallel with a "
        + "broadcast prefix of per-chunk minima (q70 decomposition); "
        + "one semi-join restores surviving rows."),
    "q118_incremental_cc" ->
      ("Label-store update path: the batch's endpoints probe the "
        + "stored labeling via broadcast semi-joins (store scanned, "
        + "never exchanged), only touched components' members re-enter "
        + "CC, untouched labels splice through an anti-join — history "
        + "pairs are never re-read."),
    "q136_fuzzy_decontam" ->
      ("Fuzzy decontamination: the benchmark (eval-suite) side explodes "
        + "to an inverted shingle index and BROADCASTS — eval sets are "
        + "small by nature, so the corpus streams map-side through one "
        + "equi-join on the shingle; best-match rank-1 compiles to "
        + "WindowGroupLimit. Exact (recall-lossless), unlike LSH."),
    "q138_token_drift" ->
      ("Snapshot drift: both halves' counts come from ONE conditional-sum "
        + "vocab aggregate; the grand totals re-aggregate the SAME "
        + "exchange (ReusedExchange in the final adaptive plan) and "
        + "broadcast back as a single row; top-50 is TakeOrdered, never "
        + "a global sort."),
    "q148_vocab_growth" ->
      ("Heaps curve without a global cumsum: token first-occurrence is a "
        + "vocab-keyed min aggregate; power-of-4 bucketing is a generated "
        + "integer CASE tower; the only window runs over ≤11 bucket rows "
        + "— corpus row order never needs a single-partition sort."),
    "q124_pmi_pairs" ->
      ("Collocation mining: ONE corpus pass emits bigrams; joint "
        + "counts partial-aggregate, both marginals and the total are "
        + "vocabulary-sized broadcasts, and the top-k is "
        + "TakeOrderedAndProject — the corpus never crosses the "
        + "network after the first aggregate."),
    "q169_geo_nearest" ->
      ("Nearest-site geo assignment is MAP-ONLY: the 15-site argmin "
        + "unrolls into one flat codegen'd projection (least + a "
        + "name-ordered CASE chain) — no dim join, no per-point "
        + "shuffle; the only exchange is the 15-group partial-agg "
        + "rollup."),
    "q171_weighted_sample" ->
      ("Weighted sampling: the ≤8 md5 ticket draws unroll statically "
        + "(masked to MaxValue past the weight, n-ary least) — no "
        + "explode, no lambda — and the global top-k is "
        + "TakeOrderedAndProject (per-partition heaps, driver merge of "
        + "k)."),
    "q172_prefix_order" ->
      ("Prefix-cache locality: adjacent-pair LCP via the native "
        + "byte-walk kernel (common_prefix_chars, zero allocation); "
        + "BOTH pairings window inside hash-partitioned block/bucket "
        + "keys — the only SinglePartition exchanges are the two 2-row "
        + "scalar rollups."),
    "q176_haar_bursts" ->
      ("Haar burst profile: one partial-aggregated pass builds 32 "
        + "conditional day-count columns (|types| rows out); the "
        + "31-coefficient transform, argmax chain and energy unroll "
        + "statically into flat ±1 integer algebra — no recursion, no "
        + "second pass over events."),
    "q178_join_cardinality" ->
      ("Cardinality audit: the EXACT join size is Σ c_A(k)·c_B(k) "
        + "over the two key histograms — the fact tables aggregate "
        + "FIRST and only histogram rows cross the network; the join "
        + "itself is never materialized."))

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val (spark, _, _) = graft.Harness.session("graft-dumpplans", dir)
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of showcase queries\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` against `")
      .append(dir).append("` — regenerate after plan-affecting changes;\n")
      .append("PlanAuditSpec asserts the load-bearing properties on every")
      .append(" test run.\n")
    val registry = graft.Queries.registry.toMap
    showcase.foreach { case (name, commentary) =>
      val df = registry(name)._1(spark, dir)
      df.collect() // finalize AQE so the dumped plan is the executed one
      sb.append(s"\n## $name\n\n$commentary\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.trim)
      sb.append("\n```\n")
    }
    // durable commentary survives regeneration: PLANS_NOTES.md holds
    // the methodology/history sections and is appended verbatim
    val notes = Paths.get("PLANS_NOTES.md")
    if (Files.exists(notes)) {
      val body = Files.readString(notes)
      sb.append("\n")
        .append(body.linesIterator.drop(2).mkString("\n")) // skip title
        .append("\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${showcase.size} plans)")
    spark.stop()
  }
}
