package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.model._
import graft.operators.KMeans
import org.apache.spark.graftnative.TaskMetricsProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset

/** The k-medoids loop on the feature-tuple histogram (driver rounds, no
  * Spark job per iteration) returns exactly what the distributed loop
  * returns: same trajectory, iterations, convergence flag and final
  * assignment. Each case runs the same input through both loops by
  * setting the histogram gates. */
class KMeansHistogramSpec extends SparkSpec {

  private def tf(id: Long, time: Int, tags: Int, lang: String, video: Int) =
    TweetFeatures(id, tags, lang, video, 0, 0, 0, time)

  /** Event features of the TESTDATA.md fixture at one scale factor. */
  private def sf(scale: String): Dataset[TweetFeatures] = {
    import spark.implicits._
    Tables.eventFeatures(spark, s"/root/testdata/sf$scale").as[TweetFeatures]
  }

  private def histogram(features: Dataset[TweetFeatures], cfg: KMeansConfig) =
    KMeans.run(features, cfg, maxTuples = 1 << 16, maxCandidateRows = 1L << 24)

  private def distributed(features: Dataset[TweetFeatures], cfg: KMeansConfig) =
    KMeans.run(features, cfg, maxTuples = 0, maxCandidateRows = 0L)

  private def assignments(r: KMeans.Result): Map[Long, Int] =
    r.assignments.collect().map(row => row.getLong(0) -> row.getInt(1)).toMap

  /** Asserts both loops agree on the full Result; returns the histogram run. */
  private def assertSameResult(features: Dataset[TweetFeatures], cfg: KMeansConfig): KMeans.Result = {
    val h = histogram(features, cfg)
    val d = distributed(features, cfg)
    assert(h.path.exists(_.histogram))
    assert(d.path.exists(!_.histogram))
    assert(h.path.map(p => (p.tuples, p.candidateRows)) === d.path.map(p => (p.tuples, p.candidateRows)))
    assert(h.trajectory === d.trajectory)
    assert(h.centroids === d.centroids)
    assert(h.iterations === d.iterations)
    assert(h.converged === d.converged)
    assert(assignments(h) === assignments(d))
    h
  }

  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TaskMetricsProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      TaskMetricsProbe.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("sf0.001 golden: histogram loop == distributed loop, and is the default path") {
    val features = sf("0.001")
    val cfg = KMeansConfig(k = 3, seeds = Seq(0L, 327L, 654L))
    val h = assertSameResult(features, cfg)
    assert(h.centroids.map(_.id) === Seq(563L, 659L, 365L) && h.iterations === 4)
    val default = KMeans.run(features, cfg)
    assert(default.path === h.path)
    assert(default.trajectory === h.trajectory)
  }

  test("sf0.01 SampledMedoid(256) and SampledMedoid(16): histogram == distributed") {
    val features = sf("0.01")
    val seeds = KMeans.deterministicSeeds(features.toDF(), 3)
    for (s <- Seq(256, 16))
      assertSameResult(features, KMeansConfig(k = 3, seeds = seeds, strategy = SampledMedoid(s)))
  }

  test("tied totals, within one tuple and across tuples: the smallest id wins") {
    import spark.implicits._
    // one axis (time) only, so every distance and total is an exact integer
    val rows =
      Seq(tf(10, 0, 0, "en", 0), tf(11, 0, 0, "en", 0), tf(12, 0, 0, "en", 0),
        tf(5, 2, 0, "en", 0), tf(20, 2, 0, "en", 0), tf(21, 2, 0, "en", 0)) ++ // T(0) = T(2) = 6
        Seq(tf(40, 50, 0, "en", 0), tf(41, 52, 0, "en", 0),
          tf(33, 51, 0, "en", 0), tf(31, 51, 0, "en", 0), tf(35, 51, 0, "en", 0)) // T(51) = 2
    val features = spark.createDataset(rows)
    for (strategy <- Seq(Medoid, SampledMedoid(1), SampledMedoid(2), SampledMedoid(256))) {
      val r = assertSameResult(features, KMeansConfig(k = 2, seeds = Seq(10L, 40L), strategy = strategy))
      if (strategy == Medoid || strategy == SampledMedoid(256))
        assert(r.centroids.map(_.id) === Seq(5L, 31L))
    }
  }

  test("a cluster that empties mid-run keeps its centroid; null languages follow SQL equality") {
    import spark.implicits._
    // Round 1: E and F form cluster 0, N (null language, d(N, N) = 1)
    // cluster 1; cluster 0's medoid moves to E. Round 2: N is now at
    // distance 1 from both E and itself, so first-wins sends it to
    // cluster 0 and cluster 1 empties, keeping N as its centroid. With
    // d(N, N) = 1 above the 0.5 limit the run never converges.
    val rows = (10L to 14L).map(tf(_, 0, 0, null, 0)) ++
      Seq(tf(20, 0, 0, "en", 0), tf(21, 0, 0, "en", 0), tf(30, 0, 1, "en", 0))
    val features = spark.createDataset(rows)
    for (strategy <- Seq(Medoid, SampledMedoid(8))) {
      val r = assertSameResult(features, KMeansConfig(k = 2, seeds = Seq(30L, 10L),
        convergenceLimit = 0.5, maxIterations = 3, strategy = strategy))
      assert(r.trajectory.map(_.map(_.id)) ===
        Seq(Seq(30L, 10L), Seq(20L, 10L), Seq(20L, 10L), Seq(20L, 10L)))
      assert(!r.converged)
      assert(assignments(r).values.toSet === Set(0))
    }
  }

  test("random null-language rows: histogram == distributed") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val langs = Array("en", "tr", null)
    val rows = (1L to 2000L).map(i =>
      tf(i, rnd.nextInt(4), rnd.nextInt(10), langs(rnd.nextInt(3)), rnd.nextInt(2)))
    val features = spark.createDataset(rows)
    for (strategy <- Seq(Medoid, SampledMedoid(8)))
      assertSameResult(features, KMeansConfig(k = 3, seeds = Seq(1L, 2L, 3L), strategy = strategy))
  }

  test("over the tuple gate the distributed loop runs, with exact counts; the result is unchanged") {
    import spark.implicits._
    val n = KMeans.HistogramMaxTuples + 904
    val features = spark.createDataset((0 until n).map(i =>
      tf(i.toLong, i % 4, i, if (i % 5 == 0) null else "en", i % 2)))
    val cfg = KMeansConfig(k = 3, seeds = Seq(0L, 1500L, 3000L), strategy = SampledMedoid(16))
    val gated = KMeans.run(features, cfg)
    assert(gated.path === Some(KMeans.LoopPath(histogram = false, n.toLong, n.toLong)))
    val h = histogram(features, cfg)
    assert(h.path === Some(KMeans.LoopPath(histogram = true, n.toLong, n.toLong)))
    assert(h.trajectory === gated.trajectory && h.iterations === gated.iterations)
    assert(assignments(h) === assignments(gated))
    // the candidate-row gate reads exact counts as well
    val overCandidates = KMeans.run(sf("0.001"),
      KMeansConfig(k = 3, seeds = Seq(0L, 327L, 654L), strategy = SampledMedoid(256)),
      maxTuples = KMeans.HistogramMaxTuples, maxCandidateRows = 10L)
    assert(overCandidates.path.exists(p => !p.histogram && p.candidateRows > 10L))
  }

  test("Spark jobs of the histogram loop do not grow with the iteration count") {
    val features = sf("0.001")
    def jobs(maxIterations: Int) = jobsDuring(KMeans.run(features,
      KMeansConfig(k = 3, seeds = Seq(0L, 327L, 654L), maxIterations = maxIterations)))
    val (one, oneJobs) = jobs(1)
    val (all, allJobs) = jobs(20)
    assert(one.iterations === 1 && all.iterations === 4)
    assert(allJobs === oneJobs)
  }

  test("the cluster verb's summary line names the path and its exact counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("clicluster").toString
    // 3 tuples: (0, en) x 3, (0, tr) x 1, (3, en) x 2
    graft.sources.TweetIngest.writeFeatures(spark.createDataset(Seq(
      tf(1, 0, 0, "en", 0), tf(2, 0, 0, "en", 0), tf(3, 0, 0, "en", 0),
      tf(4, 0, 0, "tr", 0), tf(5, 3, 0, "en", 0), tf(6, 3, 0, "en", 0))), s"$dir/features")
    def summary(strategy: String): String = {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out)(Cli.run(spark, List("cluster", s"$dir/features", "2",
        s"$dir/out-$strategy", "--seeds", "1,5", "--strategy", strategy)))
      out.toString.linesIterator.find(_.startsWith("[graft] cluster:")).get
    }
    assert(summary("sampled:2").endsWith("path=histogram tuples=3 candidates=5"))
    assert(summary("medoid").endsWith("path=histogram tuples=3 candidates=3"))
    assert(summary("mean").endsWith("path=distributed"))
  }
}
