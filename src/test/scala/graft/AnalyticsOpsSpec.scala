package graft

import graft.operators.{Dedup, Funnels, GraphOps, Linkage, QualityChecks, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit coverage for the round-4 analytics additions: fixed-point
  * PageRank (+ transition-edge builder), cohort retention, blocked fuzzy
  * linkage, the stats profile, z-score outliers, and BM25 ranking. The
  * cross-engine arithmetic of each is hash-gated by its registry row;
  * these specs pin the SEMANTICS on constructed inputs where the answer
  * is known in closed form. */
class AnalyticsOpsSpec extends SparkSpec {

  import spark.implicits._

  private val Scale = 1000000000000L

  test("pageRank: symmetric 2-cycle splits the mass evenly, sum ~ scale") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val ranks = GraphOps.pageRankScaled(edges, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks("a") === ranks("b"))
    val total = ranks.values.sum
    assert(total <= Scale && total > Scale - 100,
      s"floor dust should be a handful of ulps: $total vs $Scale")
  }

  test("pageRank: a node every edge points at outranks the spokes") {
    // hub: a,b,c each -> d; d -> a (so d has out-mass and nothing
    // dangles). Mass oscillates a<->d with period 2 and decays by
    // d^2 = 0.7225 per round trip, so run enough iterations for the
    // fixpoint gap (d ~ 0.480 vs a ~ 0.445) to dominate the transient
    val edges = Seq(("a", "d", 1L), ("b", "d", 1L), ("c", "d", 1L), ("d", "a", 1L))
      .toDF("src", "dst", "w")
    val ranks = GraphOps.pageRankScaled(edges, iters = 24)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks("d") > ranks("a"), s"hub must outrank: $ranks")
    assert(ranks("a") > ranks("b"), s"d's only successor outranks plain spokes: $ranks")
    assert(ranks("b") === ranks("c"), s"symmetric spokes tie exactly: $ranks")
  }

  test("pageRank: edge weights steer the split") {
    // a sends 3/4 of its mass to b, 1/4 to c; b,c return to a
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val ranks = GraphOps.pageRankScaled(edges, iters = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks("b") > ranks("c"), s"heavier edge must carry more mass: $ranks")
  }

  test("transitionEdges counts consecutive per-entity steps in ts order") {
    val ev = Seq(
      (1L, "view", 10L, 100L), (1L, "click", 20L, 101L), (1L, "buy", 30L, 102L),
      (2L, "view", 10L, 200L), (2L, "click", 15L, 201L),
      (3L, "solo", 99L, 300L) // single event: no transition
    ).toDF("uid", "state", "ts", "eid")
    val edges = GraphOps.transitionEdges(ev, "uid", "state", "ts", "eid")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(edges === Map(("view", "click") -> 2L, ("click", "buy") -> 1L))
  }

  test("retention counts distinct users per (cohort day, offset)") {
    val day = 86400000000L
    val ev = Seq(
      (1L, 0L), (1L, 10L), (1L, day + 5L), // user 1: day 0 twice, day 1
      (2L, day), (2L, 3 * day),            // user 2: cohort day 1, back day 3
      (3L, 0L)                             // user 3: day 0 only
    ).toDF("user_id", "ts_us")
    val rows = Funnels.retention(ev, "user_id", "ts_us", maxOffsetDays = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows === Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  test("nextEventExamples: lag-3 history oldest-first, short prefixes dropped") {
    val ev = Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "view"), (1L, 30L, 3L, "click"),
      (1L, 40L, 4L, "buy"), (1L, 50L, 5L, "view"),
      (2L, 10L, 6L, "view"), (2L, 20L, 7L, "click") // only 2 events: nothing emitted
    ).toDF("user_id", "us", "event_id", "event_type")
    val got = Funnels.nextEventExamples(ev, "user_id", "us", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(got === Set(
      (1L, 4L, "view>view>click", "buy"),
      (1L, 5L, "view>click>buy", "view")))
  }

  test("blockedPairs: edit-distance gate within blocks, oversized blocks skipped") {
    val recs = Seq(
      (1L, "smith", "b1"), (2L, "smyth", "b1"), (3L, "jones", "b1"),
      (4L, "brown", "big"), (5L, "browne", "big"), (6L, "browm", "big"), (7L, "brown", "big")
    ).toDF("id", "name", "blk")
    val pairs = Linkage.blockedPairs(recs, "id", "name", Seq("blk"), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 1)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "jones matches nothing at dist 1")
    assert(pairs.contains((4L, 7L, 0)), "exact dupes are distance 0")
    // full set pins the banded-threshold + length-gate rewrite: the
    // insertion pair (brown, browne) sits exactly at the length-gate
    // boundary |Δlen| = maxDist and must survive with its exact dist
    assert(pairs === Set((1L, 2L, 1), (4L, 5L, 1), (4L, 6L, 1), (4L, 7L, 0),
      (5L, 7L, 1), (6L, 7L, 1)), s"exact pair set changed: $pairs")
    // now cap blocks at 3: the 4-record block must vanish, b1 survives
    val capped = Linkage.blockedPairs(recs, "id", "name", Seq("blk"), maxDist = 1,
        maxBlockSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)), s"oversized block must be skipped: $capped")
  }

  test("shapeMoments: symmetric distribution has zero skew and kurtosis -1.5 for 3-point uniform") {
    val df = Seq(("g", "1.00"), ("g", "2.00"), ("g", "3.00")).toDF("g", "value")
    val r = QualityChecks.shapeMoments(df, "g", "value").collect().head
    assert(r.getLong(1) === 3L && r.getDouble(2) === 2.0)
    assert(math.abs(r.getDouble(3)) < 1e-12, s"symmetric data: skew ~ 0, got ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) + 1.5) < 1e-12,
      s"3-point uniform kurtosis is -1.5, got ${r.getDouble(4)}")
  }

  test("log2Histogram: power-of-two buckets with exact ranges, zero in bucket 0") {
    val df = Seq((1L, "0.01"), (2L, "0.02"), (3L, "0.03"), (4L, "40.95"), (5L, "0.00"))
      .toDF("id", "value")
    val out = QualityChecks.log2Histogram(df, "value")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      0 -> ((0L, 0L, 1L)),        // the 0.00 row
      1 -> ((1L, 1L, 1L)),        // 1 cent
      2 -> ((2L, 3L, 2L)),        // 2 and 3 cents
      12 -> ((2048L, 4095L, 1L))  // 4095 cents
    ))
  }

  test("mannWhitneyU: hand-computed tie-averaged ranks, exact integer U and tie term") {
    // A: 1.00 2.00 3.00, B: 2.00 4.00 -> sorted ranks 1, 2.5, 2.5, 4, 5
    // R_a = 1 + 2.5 + 4 = 7.5 -> u2_a = 2R_a - 2*n_a(n_a+1)/2 = 15 - 12 = 3
    // one tie group of size 2 -> ties = 2^3 - 2 = 6
    val df = Seq(("a", "1.00"), ("a", "2.00"), ("a", "3.00"),
      ("b", "2.00"), ("b", "4.00")).toDF("g", "value")
    val r = QualityChecks.mannWhitneyU(df, "g", "value", "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 2L, 3L, 6L)))
    val z = r.getDouble(4)
    assert(z < 0.0 && z > -1.0, s"small sample, A slightly lower: z=$z")
  }

  test("madOutliers: robust fence survives one wild value; degenerate mad flags non-medians") {
    val df = Seq((1L, "10.00"), (2L, "10.50"), (3L, "9.50"), (4L, "10.10"),
      (5L, "9.90"), (6L, "10.20"), (7L, "9999.00")).toDF("event_id", "value")
    val out = QualityChecks.madOutliers(df, "value", Seq("event_id"), k = 10L)
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(7L), "only the wild row is outside median +- 10*MAD")
    // >half the mass on one value -> mad = 0 -> every non-median value flagged
    val dg = Seq((1L, "5.00"), (2L, "5.00"), (3L, "5.00"), (4L, "6.00"))
      .toDF("event_id", "value")
    val dOut = QualityChecks.madOutliers(dg, "value", Seq("event_id"), k = 10L)
      .collect().map(_.getLong(0)).toSet
    assert(dOut === Set(4L))
  }

  test("sourceOverlapMatrix: distinct shared hashes per unordered pair, multiplicity ignored") {
    val docs = Seq(
      ("same text", "a"), ("same text", "b"), ("same text", "b"), // dup within b counts once
      ("other text", "a"), ("other text", "c"),
      ("only in a", "a")
    ).toDF("text", "source")
    val out = QualityChecks.sourceOverlapMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("a", "b") -> 1L, ("a", "c") -> 1L),
      s"one shared doc per pair, no (b,c) edge, pairs ordered a<b: $out")
  }

  test("statsProfile: typed min/max slots, nulls counted, one row per column") {
    val df = Seq(
      (Some(1.0), Some("x")), (Some(5.0), None), (None, Some("a"))
    ).toDF("num", "str")
    val out = QualityChecks.statsProfile(df, Seq("num"), Seq("str"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("num", "str"))
    val n = out("num")
    assert(n.getLong(1) === 3L && n.getLong(2) === 1L && n.getLong(3) === 2L)
    assert(n.getDouble(4) === 1.0 && n.getDouble(5) === 5.0 && n.isNullAt(6) && n.isNullAt(7))
    val s = out("str")
    assert(s.getLong(2) === 1L && s.getLong(3) === 2L)
    assert(s.isNullAt(4) && s.isNullAt(5) && s.getString(6) === "a" && s.getString(7) === "x")
  }

  test("zScoreOutliers flags the planted spike; degenerate groups yield nothing") {
    val base = (1 to 50).map(i => (i.toLong, "g", 10.0 + (if (i % 2 == 0) 0.5 else -0.5)))
    val rows = base ++ Seq((99L, "g", 50.0),      // the spike
      (100L, "const", 1.0), (101L, "const", 1.0), // zero variance
      (102L, "single", 7.0))                      // n = 1
    val out = QualityChecks.zScoreOutliers(
        rows.toDF("event_id", "event_type", "value"),
        "event_type", "value", Seq("event_id"), threshold = 3.0)
      .collect().map(r => r.getLong(0)).toSet
    assert(out === Set(99L), s"only the spike is 3 sigma out: $out")
  }

  test("keySkewReport: frequency-of-frequencies with row mass per tier") {
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val rows = graft.operators.SkewJoin.keySkewReport(df, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((3L, 1L, 3L), (2L, 1L, 2L), (1L, 1L, 1L)))
  }

  test("referentialOrphans: missing parents and NULL fks both count") {
    val child = Seq(Some(1L), Some(2L), Some(7L), Some(8L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = QualityChecks.referentialOrphans(child, "fk", parent, "pk", "t")
      .collect().head
    assert(r.getString(0) === "t" && r.getLong(1) === 5L && r.getLong(2) === 3L)
  }

  test("histogramQuantiles: closed-form bins on 1..100") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = QualityChecks.histogramQuantiles(df, "v", binWidthCents = 1000L,
        pcts = Seq(50, 95))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // values v have cents v*100, bin = v div 10: bin 0 holds 1..9 (9 rows),
    // bin k holds 10k..10k+9. p50 threshold 50 → first cum ≥ 50 is bin 5
    // (cum 59); p95 threshold 95 → bin 9 (cum 99)
    assert(out(50) === ((5L, 5000L, 59L)), s"$out")
    assert(out(95) === ((9L, 9000L, 99L)), s"$out")
  }

  test("exactQuantiles: matches brute-force order statistics, ties included") {
    // heavy ties + an outlier run: cents = 100*{1,1,1,2,2,3,...,3(x5),50}
    val vs = Seq(1, 1, 1, 2, 2, 3, 3, 3, 3, 3, 50).map(_.toDouble)
    val sorted = vs.sorted.map(v => (v * 100).toLong)
    val df = vs.toDF("v")
    for (width <- Seq(1L, 7L, 100L, 1000000L)) { // degenerate through one-bucket
      val out = QualityChecks.exactQuantiles(df, "v", width, Seq(1, 50, 90, 100))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      for (p <- Seq(1, 50, 90, 100)) {
        val k = (vs.size * p + 99) / 100
        assert(out(p) === ((k.toLong, sorted(k - 1))),
          s"pct $p width $width: $out vs rank $k -> ${sorted(k - 1)}")
      }
    }
  }

  test("exactQuantiles: percentiles landing in distinct brackets") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val out = QualityChecks.exactQuantiles(df, "v", bucketWidthCents = 5000L,
        pcts = Seq(10, 50, 99))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out === Map(10 -> 10000L, 50 -> 50000L, 99 -> 99000L), s"$out")
  }

  test("rangeShards: 1..1000 into 8 exactly balanced shards") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val out = QualityChecks.rangeShards(df, "v", bucketWidthCents = 5000L, shards = 8)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.size === 8)
    for (i <- 0 until 8) {
      val (nRows, minV, maxV) = out(i)
      assert(nRows === 125L, s"shard $i: $out")
      assert(minV === (i * 125 + 1) * 100L && maxV === (i + 1) * 125 * 100L,
        s"shard $i: $out")
    }
  }

  test("rangeShards: a mega-tie never straddles a shard boundary") {
    // 900 copies of one value + 100 distinct: splits land inside the tie
    // run, but shard assignment is by value, so all 900 stay together
    val df = (Seq.fill(900)(5.0) ++ (1 to 100).map(i => 100.0 + i)).toDF("v")
    val out = QualityChecks.rangeShards(df, "v", bucketWidthCents = 100L, shards = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out(0) === 900L, s"$out") // the whole tie run in shard 0
    assert(out.values.sum === 1000L, s"$out")
  }

  test("ksTest: identical groups give d = 0, disjoint ranges give d = 1") {
    val same = (1 to 50).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
      .toDF("g", "v")
    val r0 = QualityChecks.ksTest(same, "g", "v", "a", "b").collect().head
    assert(r0.getLong(2) === 0L && r0.getDouble(3) === 0.0)
    val disjoint = ((1 to 30).map(i => ("a", i.toDouble)) ++
      (1 to 20).map(i => ("b", 1000.0 + i))).toDF("g", "v")
    val r1 = QualityChecks.ksTest(disjoint, "g", "v", "a", "b").collect().head
    assert(r1.getLong(0) === 30L && r1.getLong(1) === 20L)
    assert(r1.getLong(2) === 600L && r1.getDouble(3) === 1.0)
  }

  test("ksMatrix: every pair row equals the pairwise ksTest, fused pass") {
    // 3 groups with ties, shifts and unequal sizes -> 3 pair rows
    val rows = ((1 to 40).map(i => ("a", (i % 11).toDouble)) ++
      (1 to 25).map(i => ("b", (i % 7 + 2).toDouble)) ++
      (1 to 30).map(i => ("c", (i % 13).toDouble))).toDF("g", "v")
    val got = QualityChecks.ksMatrix(rows, "g", "v", Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    for (((a, b), v) <- got) {
      val ref = QualityChecks.ksTest(rows, "g", "v", a, b).collect().head
      assert(v === ((ref.getLong(0), ref.getLong(1), ref.getLong(2),
        ref.getDouble(3))), s"pair ($a,$b): matrix $v vs ksTest $ref")
    }
  }

  test("ksTest: closed-form mid-shift, exact integer numerator") {
    // a = {1,2,3,4}, b = {3,4,5,6}: sup gap at v=2 or v=4 -> |2*4-0*4|=8
    val df = (Seq(1, 2, 3, 4).map(i => ("a", i.toDouble)) ++
      Seq(3, 4, 5, 6).map(i => ("b", i.toDouble))).toDF("g", "v")
    val r = QualityChecks.ksTest(df, "g", "v", "a", "b").collect().head
    assert(r.getLong(2) === 8L && r.getDouble(3) === 0.5, s"$r")
  }

  test("chunkDocs: stride windows with short tails, content hashed") {
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val rows = graft.operators.Curation.chunkDocs(
        Seq((7L, text)).toDF("doc_id", "text"), chunkSize = 16, stride = 8)
      .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    // 20 tokens, stride 8: starts 0/8/16 → lengths 16, 12, 4
    assert(rows === Map(0 -> 16, 1 -> 12, 2 -> 4))
  }

  test("ewma: sequential fold in event order, init = first value") {
    val ev = Seq(
      (1L, 10L, 100L, 8.0), (1L, 20L, 101L, 4.0), (1L, 30L, 102L, 0.0),
      (2L, 5L, 200L, 7.5) // single event: ewma = the value itself
    ).toDF("user_id", "ts_us", "event_id", "value")
    val got = graft.operators.TimeSeries
      .ewma(ev, "user_id", "ts_us", "event_id", "value", alpha = 0.25)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // user 1: s1=8, s2=8*.75+4*.25=7, s3=7*.75+0*.25=5.25 (exact binary)
    assert(got === Map(1L -> 5.25, 2L -> 7.5))
  }

  test("gapFillHourlyLocf: grid spans first..last hour, holes carry forward") {
    val hr = 3600000000L
    val ev = Seq(
      (1L, 0L * hr + 5L, 10.0, 100L), (1L, 0L * hr + 9L, 11.0, 101L), // hour 0: latest wins
      (1L, 3L * hr + 1L, 40.0, 102L),                                 // hours 1,2 are holes
      (2L, 2L * hr, 7.0, 200L)                                        // single-hour entity
    ).toDF("user_id", "ts_us", "value", "event_id")
    val rows = graft.operators.TimeSeries
      .gapFillHourlyLocf(ev, "user_id", "ts_us", "value", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(rows === Map(
      (1L, 0L) -> ((11.0, true)), (1L, 1L) -> ((11.0, false)),
      (1L, 2L) -> ((11.0, false)), (1L, 3L) -> ((40.0, true)),
      (2L, 2L) -> ((7.0, true))))
  }

  test("cooccurrence: forward-window pairs with rational association") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val rows = TextAnalysis.cooccurrence(docs, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // doc1 pairs d1: (a,b),(b,a),(a,b); d2: (a,a),(b,b); doc2 d1: (a,c)
    assert(rows.keySet === Set(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b"), ("a", "c")))
    assert(rows(("a", "b"))._1 === 2L)
    // assoc(a,b) = (2 * 6) / (3 * 2) = 2.0 (T=6 tokens, c_a=3, c_b=2)
    assert(rows(("a", "b"))._2 === 2.0)
  }

  test("assignContiguousIds: dense 0-based ids in total order, across partitions") {
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("sort_key", expr("(k * 7919) % 1000")) // permuted order
      .repartition(8)
    val got = graft.operators.Ids.assignContiguousIds(df, Seq("sort_key", "k"))
      .collect().map(r => (r.getLong(2), r.getLong(1))).sortBy(_._1)
    assert(got.map(_._1).toSeq === (0L until 1000L), "ids must be dense 0..n-1")
    assert(got.map(_._2).toSeq === got.map(_._2).sorted.toSeq,
      "ids must follow the sort-key order")
  }

  test("pseudonymizeKAnon: small QI groups suppress, ids pseudonymize") {
    val ev = Seq(
      (1L, "a", 10.0), (2L, "a", 11.0), (3L, "a", 12.0), // group a: 3 users
      (4L, "b", 13.0)                                    // group b: 1 user < k
    ).toDF("user_id", "qi", "v")
    val rows = graft.operators.Curation
      .pseudonymizeKAnon(ev, "user_id", Seq("qi"), k = 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2), r.getBoolean(3)))
    assert(!rows.map(_._1).toSet.exists(Set(1L, 2L, 3L, 4L)), "raw ids must not leak")
    assert(rows.count(_._2.isEmpty) === 1 && rows.count(_._4) === 1,
      s"exactly group b suppresses: ${rows.toSeq}")
    assert(rows.filter(_._2.contains("a")).map(_._3).toSet === Set(10.0, 11.0, 12.0),
      "measures pass through untouched")
  }

  test("correlationMatrix: exact ±1 on linear columns, 3 pairs") {
    val df = (1 to 100).map(i => (i.toDouble, i * 2.0, 100.0 - i))
      .toDF("x", "y", "z")
    val rows = graft.operators.QualityChecks.correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows.size === 3)
    assert(math.abs(rows(("x", "y")) - 1.0) < 1e-12, s"perfect correlation: $rows")
    assert(math.abs(rows(("x", "z")) + 1.0) < 1e-12, s"perfect anti-correlation: $rows")
  }

  test("normalizeText lowercases, strips punctuation, collapses spaces") {
    val df = Seq((1L, "Hello, World!!  It's 2024: 10.0.0.1")).toDF("doc_id", "text")
    val got = graft.operators.Curation.normalizeText(df, "text")
      .select("norm").collect().head.getString(0)
    assert(got === "hello world it s 2024 10 0 0 1")
  }

  test("countMin: one-sided error — cramped width overestimates, ample width is exact") {
    val docs = Seq((1L, (1 to 30).map(i => s"tok$i tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cramped = TextAnalysis.countMinEstimates(docs, rows = 2, width = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(cramped.nonEmpty && cramped.forall { case (est, exact) => est >= exact },
      "CM estimates are never under")
    assert(cramped.exists { case (est, exact) => est > exact },
      "30 tokens into 4 cells must collide somewhere")
    val ample = TextAnalysis.countMinEstimates(docs, rows = 4, width = 4096)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ample.forall { case (est, exact) => est === exact },
      "with ample width every estimate is exact")
  }

  test("bm25: term frequency wins at equal length; rare terms outweigh common ones") {
    val filler = (1 to 20).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, s"spark spark spark $filler"),   // tf=3 for spark
      (2L, s"spark pad0 pad00 $filler"),    // tf=1 for spark, same length
      (3L, s"rare pad0 pad00 $filler"),     // tf=1 for rare (df=1)
      (4L, s"spark rare spark $filler")
    ).toDF("doc_id", "text")
    val ranks = TextAnalysis.bm25TopDocs(docs, Seq("spark", "rare"), topK = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // doc 4 holds both terms; doc 1 beats doc 2 on tf; doc 3's single
    // rare hit (df=2 vs spark's df=3) beats doc 2's single common hit
    assert(ranks(4L) === 1, s"both-terms doc must rank first: $ranks")
    assert(ranks(1L) < ranks(2L), s"higher tf must outrank at equal length: $ranks")
    assert(ranks(3L) < ranks(2L), s"rarer term must outweigh commoner: $ranks")
  }

  test("lmQualityScore: common-vocabulary docs outscore rare-token docs, exactly") {
    // corpus tokens: a x5, b x1, z x1 (N=7); p_scaled = cnt*1e6 // 7
    val docs = Seq(
      (1L, "a a a a", "s"), (2L, "a b", "s"), (3L, "z", "s")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.lmQualityScore(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pA = 5L * 1000000L / 7L // 714285
    val pB = 1L * 1000000L / 7L // 142857
    assert(got(1L) === ((4L, pA)), s"all-common doc scores p_a exactly: $got")
    assert(got(2L) === ((2L, (pA + pB) / 2)), s"mixed doc averages: $got")
    assert(got(3L) === ((1L, pB)), s"rare-only doc scores the floor: $got")
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("importanceWeights: target-vocabulary docs weigh high, absent buckets get the smoothed floor") {
    // polyHash("aa") % 256 = 32, polyHash("bb") % 256 = 64 — distinct cells
    val docs = Seq(
      (1L, "aa aa", "t"), (2L, "bb bb", "o"), (3L, "aa bb", "o")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.importanceWeights(docs, targetSource = "t")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // raw: aa-cell 3, bb-cell 3; target: aa-cell 2, bb-cell absent
    val rAa = (2L + 1L) * 1000000L / (3L + 1L) // 750000
    val rBb = (0L + 1L) * 1000000L / (3L + 1L) // 250000 (add-one floor)
    assert(got === Map(1L -> rAa, 2L -> rBb, 3L -> (rAa + rBb) / 2),
      s"exact smoothed ratios expected: $got")
  }

  test("hllDistinct: raw estimate lands within HLL error bounds and registers stay bounded") {
    // 2000 distinct values, all in one group; m=64 → standard error
    // 1.04/sqrt(64) ~ 13%; allow 3 sigma. Duplicates must not move the
    // sketch (set semantics).
    val vals = (1L to 2000L) ++ (1L to 500L)
    val df = vals.map(v => ("g", v)).toDF("grp", "v")
    val out = QualityChecks.hllDistinct(df, "grp", "v").collect()
    assert(out.length === 1)
    val (nReg, est) = (out(0).getInt(1), out(0).getDouble(2))
    assert(nReg <= 64, s"register count must stay bounded: $nReg")
    assert(est > 2000 * 0.6 && est < 2000 * 1.4,
      s"raw HLL estimate off for 2000 distinct: $est")
    val dedupedEst = QualityChecks.hllDistinct(
      (1L to 2000L).map(v => ("g", v)).toDF("grp", "v"), "grp", "v")
      .collect()(0).getDouble(2)
    assert(dedupedEst === est, "duplicates must not move the sketch")
  }

  test("learnBpeMerges: frequency-ordered merges, greedy non-overlapping apply") {
    val docs = Seq((1L, "ab ab ab cd", "s")).toDF("doc_id", "text", "source")
    val merges = TextAnalysis.learnBpeMerges(docs, nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // round 3 finds no pair left — the table stops at 2 learned merges
    assert(merges.toSeq === Seq((1, "a", "b", "ab", 3L), (2, "c", "d", "cd", 1L)), merges.mkString(","))

    // greedy left-to-right: "a a a" merges to "aa a" (not "a aa"), so
    // round 2's top pair is (aa, a)
    val tri = Seq((1L, "aaa aaa", "s")).toDF("doc_id", "text", "source")
    val triMerges = TextAnalysis.learnBpeMerges(tri, nMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(triMerges.toSeq === Seq((1, "a", "a", "aa", 4L), (2, "aa", "a", "aaa", 2L)),
      triMerges.mkString(","))
  }

  test("bpeEncode: learned merges collapse symbol counts in learned order") {
    // merges learned: (a,b)->ab then (c,d)->cd; encoding "ab ab ab cd"
    // gives 4 words, symbols 1+1+1+1 = 4 (each word fully merged);
    // "abcd" (unseen word) becomes [ab, cd] = 2 symbols
    val docs = Seq((1L, "ab ab ab cd", "s"), (2L, "abcd", "s"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.bpeEncode(docs, nMerges = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((4L, 4L, 1.0)))
    assert(out(2L) === ((1L, 2L, 2.0)))
  }

  test("triangleCount: K4 has 4 triangles; a hub star closes exactly its leaf edges") {
    def census(edges: Seq[(Long, Long)]) = GraphOps
      .triangleCount(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    val k4 = for { i <- 1L to 4L; j <- 1L to 4L if i < j } yield (i, j)
    assert(census(k4) === ((4L, 6L, 4L, 4L)), "K4: C(4,3)=4 triangles, wedges == triangles")
    // star hub 0 -> leaves 1..5 plus one leaf-leaf edge: 1 triangle;
    // duplicate + reversed edges must not change the census
    val star = (1L to 5L).map(l => (0L, l)) ++ Seq((1L, 2L), (2L, 1L), (0L, 1L))
    val (n, e, _, t) = census(star)
    assert((n, e, t) === ((6L, 6L, 1L)), s"star census: n=$n e=$e t=$t")
  }

  test("coOccurrencePairs == distinct + self-join reference, duplicates collapse") {
    // duplicated (group, item) rows must count ONCE per group (the old
    // form's distinct()); support filter keeps only pairs in >= 2 groups
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L), // dup (10,2)
      (20L, 1L), (20L, 2L),
      (30L, 2L), (30L, 3L), (30L, 3L),            // dup (30,3)
      (40L, 1L), (40L, 2L), (40L, 3L)
    ).toDF("g", "it")
    val got = GraphOps.coOccurrencePairs(rows, "g", "it", 2, "a", "b", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dp = rows.distinct()
    val ref = dp.as("x").join(dp.as("y"),
        col("x.g") === col("y.g") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("a"), col("y.it").as("b"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === ref, s"got $got vs reference $ref")
    assert(got === Set((1L, 2L, 3L), (2L, 3L, 3L), (1L, 3L, 2L)))
  }

  test("embeddingDimStats: constant dim has zero variance, planted dim has exact moments") {
    import graft.operators.Similarity
    val rows = (1 to 10).map { i =>
      val a = Array.fill(64)(0.5f)                      // constant everywhere...
      a(5) = if (i % 2 == 0) 1.0f else 0.0f             // ...except dim 5 alternates
      (i.toLong, a)
    }
    val got = Similarity.embeddingDimStats(rows.toDF("vec_id", "embedding"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(0) === ((5120L, 0.5, 0.0)), s"constant dim: mean .5, var 0: ${got(0)}")
    // dim 5: quantized values 1024 and 0, five each -> mean .5, var .25
    assert(got(5) === ((5120L, 0.5, 0.25)), s"alternating dim: var .25: ${got(5)}")
  }

  test("tokenDriftL1: disjoint vocabularies show full drift, identical ones none") {
    val docs = Seq(
      (1L, "aa aa", "x"), (2L, "aa", "x"),   // source x: all mass on aa's bucket
      (3L, "bb bb bb", "y"),                 // source y: all mass on bb's bucket
      (9L, "zz", "other")                    // filtered out
    ).toDF("doc_id", "text", "source")
    val rows = TextAnalysis.tokenDriftL1(docs, "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    // two buckets, each fully one-sided: l1 = 1e6 on both
    assert(rows.length === 2 && rows.forall(_._4 === 1000000L), rows.mkString(","))
    val same = TextAnalysis.tokenDriftL1(
      Seq((1L, "aa bb", "x"), (2L, "aa bb", "y")).toDF("doc_id", "text", "source"), "x", "y")
      .collect().map(_.getLong(5))
    assert(same.forall(_ === 0L), "identical distributions drift zero")
  }

  test("vocabCoverage: OOV is exactly the mass outside the top-k vocab") {
    val docs = Seq((1L, "a a b", "s"), (2L, "c", "s")).toDF("doc_id", "text", "source")
    // vocabSize=1 -> vocab = {a} (count 2 beats the count-1 tie)
    val got = TextAnalysis.vocabCoverage(docs, vocabSize = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((3L, 1L, 1.0 / 3.0)), s"doc1: only 'b' is OOV: $got")
    assert(got(2L) === ((1L, 1L, 1.0)), s"doc2 is fully OOV: $got")
  }

  test("bfsLevels: exact hop distances, first discovery wins, cap honored") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 4L), (9L, 9L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val lv = GraphOps.bfsLevels(edges, seeds, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 1->2->4 beats 1->2->3->4 (so 4 is level 2, and 5 reaches at 3
    // exactly on the cap); 9's self-loop component is unreachable
    assert(lv === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3))
  }

  // overlapping triangles + hub + duplicate/reversed edges + a 2-path
  private def censusEdges = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 1L),
    (2L, 1L), (5L, 6L), (6L, 7L)) ++ (10L to 40L).map(i => (1L, i)))
    .toDF("a", "b")

  test("triangleCount: driver-local census == distributed census") {
    val edges = censusEdges
    val local = GraphOps.triangleCount(edges, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    // localMaxEdges = 0 forces the distributed census on the same input
    val dist = GraphOps.triangleCount(edges, "a", "b", localMaxEdges = 0L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(local === dist, s"local $local vs distributed $dist")
  }

  test("triangleCount: wedge gate falls through to the distributed census") {
    // the edge gate passes (a few dozen edges), but localMaxWedges = 0
    // rejects the local wedge loop: the census runs distributed and must
    // equal the driver-local one
    val edges = censusEdges
    def census(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).head
    def joins(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    val localDf = GraphOps.triangleCount(edges, "a", "b")
    val gatedDf = GraphOps.triangleCount(edges, "a", "b", localMaxWedges = 0L)
    assert(joins(localDf) === 0, "the driver-local census is a one-row leaf")
    assert(joins(gatedDf) > 0, "the wedge-gated census must run the distributed joins")
    val (local, gated) = (census(localDf), census(gatedDf))
    assert(local === gated, s"local $local vs wedge-gated $gated")
    assert(local._4 === 2L, s"two triangles (1-2-3, 1-3-4), got $local")
  }

  test("pageRankScaled: driver-local fixed point == distributed, string nodes") {
    // the q87 shape: string-typed nodes, weighted edges, enough
    // iterations for the integer dust to matter
    val edges = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L),
      ("a", "c", 1L), ("d", "a", 5L), ("b", "d", 4L))
      .toDF("src", "dst", "w")
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = ranksOf(GraphOps.pageRankScaled(edges, iters = 9))
    val dist = ranksOf(GraphOps.pageRankScaled(edges, iters = 9,
      localMaxEdges = 0L))
    assert(local === dist, s"local $local vs distributed $dist")
  }

  test("kCorePeel: driver-local peel == distributed peel, duplicates count") {
    // K4 core + pendant chain + a duplicated edge row (degrees count rows)
    val e0 = (for { i <- 1L to 4L; j <- 1L to 4L if i != j } yield (i, j)) ++
      Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L), (4L, 5L))
    val edges = e0.toDF("src", "dst")
    def peel(lme: Long) = GraphOps.kCorePeel(edges, k = 3, rounds = 3,
      localMaxEdges = lme)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = peel(Dedup.DefaultCcLocalMaxEdges)
    val dist = peel(0L)
    assert(local === dist, s"local $local vs distributed $dist")
    assert(local.keySet === Set(1L, 2L, 3L, 4L), s"K4 survives: $local")
  }

  test("bfsLevels: driver-local form == distributed frontier form") {
    // long path + branching + multiple seeds + unreachable island
    val edges = ((0L until 200L).map(i => (i, i + 1)) ++
      Seq((50L, 300L), (300L, 301L), (900L, 901L))).toDF("src", "dst")
    val seeds = Seq(0L, 100L).toDF("id")
    val local = GraphOps.bfsLevels(edges, seeds, maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // localMaxEdges = 0 forces the distributed loop on the same input
    val dist = GraphOps.bfsLevels(edges, seeds, maxDepth = 8, localMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(local === dist)
    assert(local(108L) === 8 && local(8L) === 8 && !local.contains(900L))
  }
}
