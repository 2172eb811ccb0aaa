package graft

import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-9 batch-4 queries (q168+). The
  * value-level gate is the DuckDB oracle at sf0.001/sf0.01; these pin the
  * properties the oracle cannot isolate: island merge/touch semantics,
  * the md5-60 geo assignment against an independent JVM reimplementation,
  * exact Benford ppm arithmetic, and weighted-ticket sampling monotonics.
  */
class AuditQueriesSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def fixtureDir(): String =
    tempDir("graft_auditfix").toString

  private def jl(v: Long): java.lang.Long = java.lang.Long.valueOf(v)

  /** Independent md5-60 (java.security, not Spark) for cross-checks. */
  private def md5_60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private val t0 = 1700000000000000000L // µs-aligned epoch nanos

  private def writeEvents(dir: String, rows: Seq[(Long, Long, Long)]): Unit =
    rows.map { case (id, ns, user) =>
      (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        ns / 1000000000L, ns % 1000000000L)), user)
    }.toDF("event_id", "ts", "user_id")
      .write.parquet(s"$dir/events.parquet")

  test("q168 interval merge: overlap merges, gap splits, touch merges") {
    val dir = fixtureDir()
    val sec = 1000000000L
    // user 0: id 0 -> dur 1 s at t0; id 2 -> dur 3 s at t0+0.5 s
    // (overlaps, island covers [t0, t0+3.5 s]); id 4 -> dur 5 s at
    // t0+10 s (gap -> new island). covered = 3.5 s + 5 s.
    // user 1: id 6 -> dur 7 s at t0; id 7200 -> dur 1 s at EXACTLY
    // t0+7 s (start == prev max end -> touch MERGES). covered = 8 s.
    writeEvents(dir, Seq(
      (0L, t0, 0L), (2L, t0 + sec / 2, 0L), (4L, t0 + 10 * sec, 0L),
      (6L, t0, 1L), (7200L, t0 + 7 * sec, 1L)))
    val out = Queries.registry.toMap.apply("q168_interval_merge")
      ._1(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(0L) === ((3L, 2L, 3500000000L + 5000000000L)), out.toString)
    assert(out(1L) === ((2L, 1L, 8000000000L)), out.toString)
  }

  test("q169 geo nearest matches an independent JVM argmin") {
    val dir = fixtureDir()
    val keys = (0L until 40L).toSeq
    keys.map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    val sites = graft.model.WeatherModel.regions.map { case (n, la, lo) =>
      (n, math.round(la * 1e6), math.round(lo * 1e6)) }
    // reimplement point derivation + argmin with java.security md5
    val expected = keys.map { k =>
      val plat = -4700000L + md5_60(s"geo-lat-v1:$k") % 9700001L
      val plon = 33900000L + md5_60(s"geo-lon-v1:$k") % 8000001L
      sites.map { case (n, sla, slo) =>
        ((plat - sla) * (plat - sla) + (plon - slo) * (plon - slo), n)
      }.min
    }
    val expByRegion = expected.groupBy(_._2).map { case (r, ds) =>
      r -> ((ds.size.toLong, ds.map(_._1).min, ds.map(_._1).max,
        ds.map(_._1).sum)) }
    val out = Queries.registry.toMap.apply("q169_geo_nearest")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out === expByRegion, s"got $out\nwant $expByRegion")
  }

  test("q170 benford: exact ppm shares and deltas on a fixed digit mix") {
    val dir = fixtureDir()
    // cents: 100,199,150 (digit 1) x3; 2550 (digit 2) x1 -> 750000 /
    // 250000 ppm observed against 301030 / 176091 expected
    Seq((1L, 1L, 1.00), (1L, 2L, 1.99), (2L, 1L, 1.50), (2L, 2L, 25.50))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Queries.registry.toMap.apply("q170_benford_audit")
      ._1(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, 750000L, 301030L, 448970L)), out.toString)
    assert(out(2L) === ((1L, 250000L, 176091L, 73909L)), out.toString)
  }

  test("q171 weighted sample: tickets are min over w independent draws") {
    val dir = fixtureDir()
    // doc 0/1/2: w=1; doc 3: n_chars 1600 -> w=4 (more tickets -> its
    // min ticket is stochastically smaller; here we assert EXACT values)
    Seq((0L, "a", "s", 10L), (1L, "b", "s", 499L), (2L, "c", "s", 500L),
      (3L, "d", "s", 1600L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("q171_weighted_sample")
      ._1(spark, dir).collect()
    assert(out.length === 4)
    val got = out.map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    def ticket(id: Long, w: Long): Long =
      (0L until w).map(i => md5_60(s"ws-v1:$id:$i")).min
    assert(got(0L) === ((1L, ticket(0, 1))))
    assert(got(1L) === ((1L, ticket(1, 1))))
    assert(got(2L) === ((2L, ticket(2, 2)))) // 500 DIV 500 = 1 -> w=2
    assert(got(3L) === ((4L, ticket(3, 4))))
    // output ordering is (ticket, doc_id) ascending
    val tickets = out.map(_.getLong(3)).toSeq
    assert(tickets === tickets.sorted, tickets.toString)
  }

  test("q172 prefix order: exact adjacent LCP under both pairings") {
    val dir = fixtureDir()
    // id_order (one 100-block): (0,1) lcp 5, (1,2) lcp 0, (2,3) lcp 0
    //   -> n 3, total 5
    // prefix_sorted (bucket "aa" order: doc0 "aaaa bbbb", doc3
    //   "aaaa bbbb x", doc1 "aaaa cccc"): (0,3) lcp 9, (3,1) lcp 5;
    //   bucket "zz" is a singleton -> n 2, total 14
    Seq((0L, "aaaa bbbb"), (1L, "aaaa cccc"), (2L, "zzzz"),
      (3L, "aaaa bbbb x"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("q172_prefix_order")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out("id_order") === ((3L, 5L, 1666666L)), out.toString)
    assert(out("prefix_sorted") === ((2L, 14L, 7000000L)), out.toString)
  }

  test("q173 cdc apply: latest seq wins, winning D drops the row") {
    val dir = fixtureDir()
    // keys 0..9 at 10.00 (1000 cents). U(+10%) for %5==0 -> 0,5.
    // D for %7==0 -> 0,7. key 0: D wins (gone); key 5: U wins (1100);
    // key 7: D wins (gone). Survivors 8 rows, cents 7*1000 + 1100.
    (0L to 9L).map(k => (k, "P", 10.00))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = Queries.registry.toMap.apply("q173_cdc_apply")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getString(0), out(0).getLong(1), out(0).getLong(2))
      === (("P", 8L, 8100L)), out(0).toString)
  }

  test("q174 top-p vocab: strict 90% mass cutoff, tie order token asc") {
    val dir = fixtureDir()
    // s1: a x9, b x1 -> total 10; 'a' retained (prev 0), 'b' NOT
    //   (prev_cum*10 = 90 is NOT < tot*9 = 90) -> retained 1, 900000 ppm
    // s2: x,y once each -> total 2; both retained (0<18, 10<18)
    Seq((0L, ("a " * 9).trim, "s1"), (1L, "b", "s1"), (2L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("q174_topp_vocab")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out("s1") === ((2L, 1L, 900000L)), out.toString)
    assert(out("s2") === ((2L, 2L, 1000000L)), out.toString)
  }

  private def writeTypedEvents(dir: String,
      rows: Seq[(Long, Long, Long, String)]): Unit =
    rows.map { case (id, ns, user, tpe) =>
      (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        ns / 1000000000L, ns % 1000000000L)), user, tpe)
    }.toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")

  test("q176 haar: closed-form coefficients, argmax ties to finest level") {
    val dir = fixtureDir()
    val dayNs = 86400L * 1000000000L
    // type A: c0=3, c1=1 -> d1_0=2, d2_0=d3_0=d4_0=d5_0=4; babs=4,
    //   first match (finest-level priority skips d1_0 at |2|) is
    //   level 2 pos 0 coef 4; energy 4 + 4*16 = 68; total 4.
    // type B: c16=2 -> d1_8=d2_4=d3_2=d4_1=2, d5_0=-2; babs=2, first
    //   match level 1 pos 8 coef 2; energy 5*4 = 20; total 2.
    writeTypedEvents(dir, Seq(
      (0L, 0L, 0L, "A"), (1L, 1000L, 0L, "A"), (2L, 2000L, 0L, "A"),
      (3L, dayNs, 0L, "A"),
      (4L, 16L * dayNs, 1L, "B"), (5L, 16L * dayNs + 5000L, 1L, "B")))
    val out = Queries.registry.toMap.apply("q176_haar_bursts")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out("A") === ((4L, 2L, 0L, 4L, 68L)), out.toString)
    assert(out("B") === ((2L, 1L, 8L, 2L, 20L)), out.toString)
  }

  test("q177 transitions: per-user lag pairs, exact outgoing shares") {
    val dir = fixtureDir()
    // user 0: A -> B -> A; user 1: A -> A. from A: {A:1, B:1} (500000
    // ppm each); from B: {A:1} (1000000 ppm).
    writeTypedEvents(dir, Seq(
      (0L, t0, 0L, "A"), (1L, t0 + 1000L, 0L, "B"),
      (2L, t0 + 2000L, 0L, "A"),
      (3L, t0, 1L, "A"), (4L, t0 + 1000L, 1L, "A")))
    val out = Queries.registry.toMap.apply("q177_transition_matrix")
      ._1(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      ("A", "A") -> ((1L, 500000L)), ("A", "B") -> ((1L, 500000L)),
      ("B", "A") -> ((1L, 1000000L))), out.toString)
  }

  test("q178 join cardinality: exact actual vs uniform estimate") {
    val dir = fixtureDir()
    // the null-key row is excluded from rows/ndv/actual on BOTH
    // engines (COUNT(DISTINCT) skips nulls; null keys never join)
    Seq((jl(1L), jl(1L)), (jl(1L), jl(1L)), (jl(2L), jl(5L)),
      (null: java.lang.Long, null: java.lang.Long))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 7L), (2L, 7L), (3L, 8L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq(Tuple1(1L)).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    Seq(Tuple1(7L)).toDF("c_custkey")
      .write.parquet(s"$dir/customer.parquet")
    val out = Queries.registry.toMap.apply("q178_join_cardinality")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))).toMap
    // lineitem*orders: 3x3 / max(2,3) = 3 est; actual 2*1 + 1*1 = 3
    assert(out("lineitem*orders") ===
      ((3L, 3L, 2L, 3L, 3L, 3L, 1000000L)), out.toString)
    // lineitem*part: 3x1 / max(2,1) = 1 est; actual c_l(1)*1 = 2
    assert(out("lineitem*part") ===
      ((3L, 1L, 2L, 1L, 1L, 2L, 500000L)), out.toString)
    // orders*customer: 3x1 / max(2,1) = 1 est; actual c_o(7)*1 = 2
    assert(out("orders*customer") ===
      ((3L, 1L, 2L, 1L, 1L, 2L, 500000L)), out.toString)
  }

  test("q179 zipf slope: closed-form bucketed-mean OLS") {
    val dir = fixtureDir()
    // counts a:8 b:4 c:2 d:1 -> ranks 1..4; x=bitlen(rank)=1,2,2,3;
    // y=bitlen(count)=4,3,2,1. buckets: (1,4000),(2,2500),(3,1000).
    // n=3 sx=6 sy=7500 sxy=12000 sxx=14 -> num=-9000 den=6
    // -> slope = -9000*1000/6 = -1500000 ppm (exact).
    val text = (("a " * 8) + ("b " * 4) + ("c " * 2) + "d").trim
    Seq((0L, text, "s1")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("q179_zipf_slope")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getString(0), out(0).getLong(1), out(0).getLong(2))
      === (("s1", 3L, -1500000L)), out(0).toString)
  }

  test("q180 TWAP: values weighted by exact hold durations") {
    val dir = fixtureDir()
    val sec = 1000000000L
    // user 0: v=1.00 held 2 s, v=3.00 held 3 s, v=0.50 open-ended
    // -> twa = (100*2000 + 300*3000) / 5000 = 220 cents.
    // user 1: single event -> no interval, drops out.
    Seq((0L, t0, 0L, 1.00), (1L, t0 + 2 * sec, 0L, 3.00),
      (2L, t0 + 5 * sec, 0L, 0.50), (3L, t0, 1L, 9.99))
      .map { case (id, ns, u, v) =>
        (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          ns / 1000000000L, ns % 1000000000L)), u, v)
      }.toDF("event_id", "ts", "user_id", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = Queries.registry.toMap.apply("q180_time_weighted_avg")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3)) === ((0L, 2L, 5000L, 220L)), out(0).toString)
  }

  test("q181 cusum: deviation peaks at the pre-jump day, exact ppm") {
    val dir = fixtureDir()
    val dayNs = 86400L * 1000000000L
    // type A over days 0,1,2 with counts 1,1,4 (jump on day 2):
    // cum*D - i*N = 3-6=-3, 6-12=-6, 18-18=0 -> max |dev| 6 at day 1
    // (the level shift is AFTER day 1); ppm = 6e6 / (3*6) = 333333.
    val rows = Seq((0L, 0L), (1L, dayNs), (2L, 2 * dayNs),
      (3L, 2 * dayNs + 1000L), (4L, 2 * dayNs + 2000L),
      (5L, 2 * dayNs + 3000L))
    writeTypedEvents(dir, rows.map { case (id, ns) => (id, ns, 0L, "A") })
    val out = Queries.registry.toMap.apply("q181_cusum_changepoint")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getString(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4))
      === (("A", 3L, 6L, 1L, 333333L)), out(0).toString)
  }

  test("q182 rfm: quartiles within nation, segment code composition") {
    val dir = fixtureDir()
    // one nation, 4 customers, 1 order each; r/f/m all order by
    // custkey (f ties broken by custkey) -> segments 111/222/333/444
    Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))
      .toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    (1L to 4L).map { k =>
      (k * 10, k, java.sql.Timestamp.valueOf(s"2024-01-0$k 00:00:00"),
        k * 10.00)
    }.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = Queries.registry.toMap.apply("q182_rfm_segments")
      ._1(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      (5L, 111L) -> ((1L, 1000L)), (5L, 222L) -> ((1L, 2000L)),
      (5L, 333L) -> ((1L, 3000L)), (5L, 444L) -> ((1L, 4000L))),
      out.toString)
  }

  test("q183 dup calibration: fingerprint dups land in their deciles") {
    val dir = fixtureDir()
    // 4 docs in one source -> NTILE(10) gives tiles 1..4, one doc
    // each (order by n_chars, doc_id). docs 0,1 share a fingerprint.
    Seq((0L, "same text", "s1", 4L), (1L, "same  text", "s1", 4L),
      (2L, "uniq a", "s1", 6L), (3L, "uniq b", "s1", 7L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("q183_dup_calibration")
      ._1(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      ("s1", 1L) -> ((1L, 1L, 1000000L)),
      ("s1", 2L) -> ((1L, 1L, 1000000L)),
      ("s1", 3L) -> ((1L, 0L, 0L)),
      ("s1", 4L) -> ((1L, 0L, 0L))), out.toString)
  }

  test("q184 conversion lag: strictly-after pairing, interpolated pcts") {
    val dir = fixtureDir()
    val sec = 1000000000L
    // user 0 converts in 90 s, user 1 in 10 s; user 2 purchased BEFORE
    // viewing (not a conversion); user 3 never purchases.
    // p50 = 10 + 0.5*80 = 50.0; p95 = 10 + 0.95*80 = 86.0.
    writeTypedEvents(dir, Seq(
      (0L, t0, 0L, "view"), (1L, t0 + 90 * sec, 0L, "purchase"),
      (2L, t0, 1L, "view"), (3L, t0 + 10 * sec, 1L, "purchase"),
      (4L, t0, 2L, "purchase"), (5L, t0 + sec, 2L, "view"),
      (6L, t0, 3L, "view")))
    val out = Queries.registry.toMap.apply("q184_conversion_lag")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getDouble(2),
      out(0).getDouble(3)) === ((4L, 2L, 50.0, 86.0)), out(0).toString)
  }

  test("q185 simpson: divide-first ppm, small sources report NULL") {
    val dir = fixtureDir()
    // s1: 'a' x1000 + 'b' x1 -> N=1001, rep=999000, N(N-1)=1001000
    //   -> 999000 DIV (1001000 DIV 1e6 = 1) = 999000 ppm
    // s2: N=2 -> below the 1e6 envelope -> NULL
    val big = ("a " * 1000).trim + " b"
    Seq((0L, big, "s1"), (1L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = Queries.registry.toMap.apply("q185_simpson_diversity")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out("s1") === ((1001L, 2L, 999000L)), out.toString)
    assert(out("s2") === ((2L, 2L, -1L)), out.toString)
  }

  test("q186 bloom FPR: matches an independent JVM bit-array replay") {
    val dir = fixtureDir()
    (0L until 200L).map(k => (k, 1L)).toDF("l_orderkey", "l_linenumber")
      .write.parquet(s"$dir/lineitem.parquet")
    (0L until 200L).map(k => (k, 1L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    // independent replay with java.security md5
    val evens = (0L until 200L by 2)
      .sortBy(k => (md5_60(s"bf-v1:$k"), k)).take(1000)
    val odds = (1L until 200L by 2)
      .sortBy(k => (md5_60(s"bp-v1:$k"), k)).take(2000)
    val bits = scala.collection.mutable.Set[Long]()
    for (k <- evens; i <- 0 until 4) bits += md5_60(s"$i:$k") % 16384
    val fp = odds.count(k =>
      (0 until 4).forall(i => bits(md5_60(s"$i:$k") % 16384)))
    val out = Queries.registry.toMap.apply("q186_bloom_fpr_audit")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getLong(0), out(0).getLong(2), out(0).getLong(3),
      out(0).getLong(4)) ===
      ((100L, 100L, fp.toLong, fp.toLong * 1000000L / 100L)),
      s"${out(0)} vs independent fp=$fp")
  }

  test("q187 stream topk: replayed counts rank with user-id tie-break") {
    val dir = fixtureDir()
    // type A: user 1 x3, user 2 x2, users 3/4 x1 each -> top3 ends at
    // user 3 (tie with 4 broken by id)
    writeTypedEvents(dir, Seq(
      (0L, t0, 1L, "A"), (1L, t0 + 1, 1L, "A"), (2L, t0 + 2, 1L, "A"),
      (3L, t0, 2L, "A"), (4L, t0 + 1, 2L, "A"),
      (5L, t0, 3L, "A"), (6L, t0, 4L, "A")))
    val out = Queries.registry.toMap.apply("q187_stream_topk")
      ._1(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3))))
    assert(out.toSeq === Seq(
      ("A", 1L) -> ((1L, 3L)), ("A", 2L) -> ((2L, 2L)),
      ("A", 3L) -> ((3L, 1L))), out.toSeq.toString)
  }

  test("q188 neardup PR: matches an independent simhash/jaccard replay") {
    val dir = fixtureDir()
    // doc 0's token SET survives the drop (trailing repeats) -> ham 0,
    // jaccard 1; the rest have mixed overlap - the expected PR table
    // is fully recomputed here with java.security md5.
    val texts = Seq(
      (0L, "alpha beta alpha alpha"),
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "x y z"),
      (3L, (1 to 40).map(i => s"tok$i").mkString(" ")))
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def toks(s: String): Seq[String] =
      s.split(" ").filter(_.nonEmpty).toSeq
    def simhash(ts: Seq[String]): Long = (0 until 60).map { b =>
      val votes = ts.distinct
        .map(t => if (((md5_60(t) >> b) & 1) == 1) 1 else -1).sum
      if (votes > 0) 1L << b else 0L
    }.sum
    val pairs = texts.map { case (_, txt) =>
      val ta = toks(txt)
      val tb = ta.take(math.max(ta.length - 2, 1))
      val (sa, sb) = (ta.distinct.toSet, tb.distinct.toSet)
      val i = (sa intersect sb).size
      val pos = i * 10 >= (sa.size + sb.size - i) * 7
      val ham = java.lang.Long.bitCount(simhash(ta) ^ simhash(tb))
      (ham, pos)
    }
    val expected = (0L to 3L).map { h =>
      val pred = pairs.count(_._1 <= h).toLong
      val ap = pairs.count(_._2).toLong
      val tp = pairs.count(p => p._1 <= h && p._2).toLong
      h -> ((pred, ap, tp,
        if (pred > 0) tp * 1000000L / pred else -1L,
        if (ap > 0) tp * 1000000L / ap else -1L))
    }.toMap
    val out = Queries.registry.toMap.apply("q188_neardup_pr")
      ._1(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out === expected, s"got $out\nwant $expected")
  }

  test("q189 gini: closed-form concentrated histogram + NULL envelope") {
    val dir = fixtureDir()
    // 999 single-item orders + one 1001-item order: n=1000, N=2000,
    // S = 499500 + 1000*1001 = 1500500 -> gini = 999000 / 2 = 499500.
    // one supplier -> n*N = 2000 under the 1e6 envelope -> NULL.
    val rows = (1L to 999L).map(k => (k, k, 1L)) ++
      (0L until 1001L).map(i => (1000L, 1000L, 1L))
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Queries.registry.toMap.apply("q189_gini_concentration")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out("items_per_order") === ((1000L, 2000L, 499500L)),
      out.toString)
    assert(out("items_per_part") === ((1000L, 2000L, 499500L)),
      out.toString)
    assert(out("items_per_supplier") === ((1L, 2000L, -1L)), out.toString)
  }

  test("q190 date gaps: missing spine days per type, first gap reported") {
    val dir = fixtureDir()
    val dayNs = 86400L * 1000000000L
    // type A active days 0,1,3,4 -> span 5, 1 missing (day 2);
    // type B days 10,11 -> no gaps, first_gap NULL
    writeTypedEvents(dir, Seq(
      (0L, 0L, 0L, "A"), (1L, dayNs, 0L, "A"), (2L, 3 * dayNs, 0L, "A"),
      (3L, 4 * dayNs, 0L, "A"),
      (4L, 10 * dayNs, 0L, "B"), (5L, 11 * dayNs, 0L, "B")))
    val out = Queries.registry.toMap.apply("q190_date_gaps")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out("A") === ((5L, 1L, 2L)), out.toString)
    assert(out("B") === ((2L, 0L, -1L)), out.toString)
  }

  test("q191 GDD: exact cents accumulation, base-10C clamp, stress days") {
    val dir = fixtureDir()
    val dayNs = 86400L * 1000000000L
    // region r0 (user 0). day 0: temps 15.0 / 35.0 (values 20, 40) ->
    // mean 25C, GDD +15.00, tmax >= 30C stress day. day 1: temp 2.0
    // (value 7) -> mean below base, clamped to 0, no stress.
    // month 197001: n_days 2, gdd_cents 1500, heat_stress_days 1.
    Seq((0L, 0L, 0L, 20.0), (1L, 1000L, 0L, 40.0),
      (2L, dayNs, 0L, 7.0))
      .map { case (id, ns, u, v) =>
        (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          ns / 1000000000L, ns % 1000000000L)), u, v)
      }.toDF("event_id", "ts", "user_id", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = Queries.registry.toMap.apply("q191_growing_degree_days")
      ._1(spark, dir).collect()
    assert(out.length === 1)
    assert((out(0).getString(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4))
      === (("r0", 197001L, 2L, 1500L, 1L)), out(0).toString)
  }

  test("q175 ri audit: planted orphans are counted per edge") {
    val dir = fixtureDir()
    Seq(Tuple1(1L)).toDF("r_regionkey")
      .write.parquet(s"$dir/region.parquet")
    Seq((1L, 1L)).toDF("n_nationkey", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 1L), (2L, 99L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq(Tuple1(1L)).toDF("p_partkey")
      .write.parquet(s"$dir/part.parquet")
    Seq((10L, 1L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L, 1L), (11L, 2L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Queries.registry.toMap.apply("q175_ri_audit")
      ._1(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out === Map(
      "customer->nation" -> ((2L, 1L, 500000L)),
      "lineitem->orders" -> ((2L, 1L, 500000L)),
      "lineitem->part" -> ((2L, 1L, 500000L)),
      "lineitem->supplier" -> ((2L, 0L, 0L)),
      "nation->region" -> ((1L, 0L, 0L)),
      "orders->customer" -> ((1L, 0L, 0L)),
      "supplier->nation" -> ((1L, 0L, 0L))), out.toString)
  }
}
