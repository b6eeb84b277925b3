package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Distances
import graft.model._

/** Iterative k-medoids clustering — the reference's flagship query
  * (`Cluster.java:280-389` and its k∈{2,4,5} clones), re-expressed as one
  * driver loop over cached features.
  *
  * Structural change vs the reference (SURVEY §3.2): the per-row HBase
  * chatter (k point-`Get`s per scanned row in the assign mapper, 1 per value
  * in reducers, O(n²) in the medoid reducer) collapses into
  *   - assignment: a zero-shuffle narrow map over the feature table with the
  *     k centroids inlined as literals (k ≤ 5 — cheaper than a broadcast
  *     join, and fully inside whole-stage codegen);
  *   - medoid update, on the feature-tuple histogram: the distance reads
  *     only (time, numOfHashtags, language, hasVideo), all low-cardinality,
  *     so a row's cluster and a candidate's total distance depend only on
  *     its feature TUPLE. [[run]] reads the features into the
  *     distinct-tuple histogram (member count + candidate rows per tuple:
  *     one counting query for the gates, one candidate query) and runs
  *     every round on the driver with no Spark job — O(|tuples|²) work
  *     per round, exact;
  *   - above the histogram gates (exact counts, [[HistogramMaxTuples]],
  *     [[HistogramMaxCandidateRows]]) and for [[Mean]], each round is a
  *     distributed update instead: ONE shuffle on the cluster key
  *     (self-join + partial aggregation) instead of n² RPCs.
  *
  * Deviations from reference defects, all per SURVEY §2.8: true argmin
  * (ref. never updates `minDistance`, `Cluster.java:109-115`), true medoid
  * (ref. double-iterates a single-pass MR iterator, `Cluster.java:237-257`),
  * centroids travel driver-side via `collect()` (ref. smuggles them through
  * task `Configuration`, `Cluster.java:269-277` — broken on a real cluster).
  */
object KMeans {

  final case class Result(
      assignments: DataFrame, // (id LONG, cluster INT)
      centroids: Seq[TweetFeatures],
      iterations: Int,
      converged: Boolean,
      trajectory: Seq[Seq[TweetFeatures]], // centroids per iteration, for golden tests
      path: Option[LoopPath]) // None for Mean, which builds no histogram

  /** Which loop [[run]] took, with the exact histogram counts its gate
    * read: distinct feature tuples and candidate rows Σ_t min(n_t, s)
    * (one per tuple for [[Medoid]]). */
  final case class LoopPath(histogram: Boolean, tuples: Long, candidateRows: Long) {
    def summary: String = s"path=${if (histogram) "histogram" else "distributed"} " +
      s"tuples=$tuples candidates=$candidateRows"
  }

  /** Gates of the histogram loop. Its driver state is one entry per
    * distinct tuple plus the candidate rows, and a round costs
    * O(|tuples|²) distance evaluations (16.8 M at the limit). */
  val HistogramMaxTuples = 4096
  val HistogramMaxCandidateRows = 1L << 20

  private val tupleCols = Seq("time", "numOfHashtags", "language", "hasVideo")

  private val featureCols = Seq("id", "numOfHashtags", "language", "hasVideo",
    "replyCount", "retweetCount", "likeCount", "time")

  /** Distance of each row's features to one centroid, as a codegen'd
    * column expression (J1 with k literal rows — no join needed). */
  private def distTo(c: TweetFeatures, hw: Double): Column =
    Distances.weightedDistance(
      col("time"), col("numOfHashtags"), col("language"), col("hasVideo"),
      lit(c.time), lit(c.numOfHashtags), lit(c.language), lit(c.hasVideo), hw)

  /** A1 — nearest-centroid assignment: first index achieving the minimum
    * distance (first-wins ties, deterministic). Narrow: no shuffle, no UDF.
    * Keeps the feature columns so the downstream medoid update needs no
    * re-join (the reference instead re-fetched every row from HBase,
    * `Cluster.java:171-177`). */
  def assignWithFeatures(features: DataFrame, centroids: Seq[TweetFeatures],
      hashtagWeight: Double = 0.8): DataFrame = {
    val dArr = array(centroids.map(distTo(_, hashtagWeight)): _*)
    features.select(
      (array_position(dArr, array_min(dArr)) - 1).cast("int").as("cluster") +:
        featureCols.map(col): _*)
  }

  /** Assignment pairs only — the reference's inter-job TSV shape. */
  def assign(features: DataFrame, centroids: Seq[TweetFeatures],
      hashtagWeight: Double = 0.8): DataFrame =
    assignWithFeatures(features, centroids, hashtagWeight).select("id", "cluster")

  /** Iteration-stable assignment for [[run]]'s loop: the same
    * arithmetic as [[assignWithFeatures]], but the k centroids ride a
    * ONE-ROW broadcast frame (BroadcastNestedLoopJoin of exactly one
    * row) instead of being inlined as literals. Inlined literals bake
    * the centroid VALUES into the generated source, so every iteration
    * — and the final assignment — compiles and JITs a fresh set of
    * whole-stage-codegen classes for the entire fused pipeline above it
    * (assign → candidate windows → medoid scoring join): measured at
    * sf0.1/local[32], iteration 1 of a cold flagship run spends
    * 5.8 s where the warmed identical plan runs 1.4 s, and a bench
    * chunk re-pays that warm-up on every rep once neighboring queries
    * evict the 100-entry codegen cache. With the centroids read from
    * the joined row the generated source is IDENTICAL across
    * iterations and reps, so iteration 2 reuses iteration 1's
    * compiled (and JIT-warmed) classes. Values, tie-breaks and output
    * schema are bit-identical (KMeansSpec pins the trajectory golden);
    * single-shot callers (q05 etc.) keep the literal form, which is
    * optimal when the plan runs once. */
  private def assignWithFeaturesParam(df: DataFrame,
      centroids: Seq[TweetFeatures], hashtagWeight: Double): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(centroids.indices.flatMap(i => Seq(
      StructField(s"_c${i}_time", IntegerType, nullable = false),
      StructField(s"_c${i}_tags", IntegerType, nullable = false),
      StructField(s"_c${i}_lang", StringType, nullable = true),
      StructField(s"_c${i}_video", IntegerType, nullable = false))))
    val values = centroids.flatMap(c =>
      Seq(c.time, c.numOfHashtags, c.language, c.hasVideo))
    val paramRow = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(values: _*)), schema)
    val dArr = array(centroids.indices.map(i =>
      Distances.weightedDistance(
        col("time"), col("numOfHashtags"), col("language"), col("hasVideo"),
        col(s"_c${i}_time"), col(s"_c${i}_tags"), col(s"_c${i}_lang"),
        col(s"_c${i}_video"), hashtagWeight)): _*)
    df.crossJoin(broadcast(paramRow)).select(
      (array_position(dArr, array_min(dArr)) - 1).cast("int").as("cluster") +:
        featureCols.map(col): _*)
  }

  /** A3 — exact medoid per cluster: the member minimizing the sum of
    * distances to all co-members; ties break to the smallest id
    * (deterministic; the MR reference's tie behavior is undefined).
    *
    * Relational formulation: self-join on the cluster key, partial-agg the
    * pairwise distances (map-side combine is automatic), then `min_by` per
    * cluster. O(Σ n_c²) compute but only ONE shuffle; for clusters too large
    * for n², use [[SampledMedoid]] or [[Mean]] via [[updateCentroids]].
    */
  def medoids(members: DataFrame, hashtagWeight: Double = 0.8): DataFrame =
    medoidOf(members, members, hashtagWeight)

  private def tweetDist(hw: Double)(l: String => Column, r: String => Column): Column =
    Distances.weightedDistance(
      l("time"), l("numOfHashtags"), l("language"), l("hasVideo"),
      r("time"), r("numOfHashtags"), r("language"), r("hasVideo"), hw)

  private def medoidOf(candidates: DataFrame, members: DataFrame, hw: Double,
      saltBuckets: Int = 1): DataFrame =
    Medoids.compute(candidates, members, "cluster", "id",
      Seq("time", "numOfHashtags", "language", "hasVideo"), tweetDist(hw), saltBuckets)

  /** The multiplicative-hash ordering key, factored through pmod so it
    * cannot overflow at ANY long id: (id·2654435761) mod P computed as
    * ((id mod P)·(2654435761 mod P)) mod P — identical values by modular
    * arithmetic (every oracle replaying the unreduced product in 128-bit
    * still matches), but the unreduced Column form threw
    * ARITHMETIC_OVERFLOW under ANSI mode once ids reached the ×64
    * replica range (~8.8e9 · 2.65e9 > Long.Max) — caught by the q00
    * scaling run, invisible at oracle scales. */
  private def seedHashOrder: Column =
    pmod(pmod(col("id"), lit(1000000007L)) * lit(2654435761L % 1000000007L),
      lit(1000000007L))

  /** A3 at scale — medoid over a deterministic candidate subset (id-hash
    * order), each candidate still scored against ALL members: O(n·s).
    * Salted 8 ways so a small k can't starve the cluster (Medoids
    * scaladoc): the scale strategy should itself scale. */
  def sampledMedoids(members: DataFrame, sampleSize: Int,
      hashtagWeight: Double = 0.8): DataFrame =
    medoidOf(smallestPerGroup(members, Seq(col("cluster")), seedHashOrder, sampleSize),
      members, hashtagWeight, saltBuckets = 8)

  /** The `s` rows of each `keys` group smallest by (`order`, id).
    * TWO-LEVEL exact top-s selection: a single per-group window is a
    * k-partition sort (data-sized partitions at any k ≪ cores — the
    * same shape the registry's global-window gate exists for). Level 1
    * ranks within (group, idHash mod 64) and keeps s per salt-bucket
    * — every global top-s row survives its own bucket's cut — and
    * level 2 re-ranks the ≤ 64·s survivors per group. The (order key,
    * id) total order makes both levels deterministic and the selected
    * set IDENTICAL to the single-window form (KMeansSpec pins it). */
  private def smallestPerGroup(df: DataFrame, keys: Seq[Column], order: Column,
      s: Int): DataFrame = {
    val wSalt = Window.partitionBy(keys :+ pmod(hash(col("id")), lit(64)): _*)
      .orderBy(order, col("id"))
    val w = Window.partitionBy(keys: _*).orderBy(order, col("id"))
    df.withColumn("rn1", row_number().over(wSalt))
      .filter(col("rn1") <= s)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= s)
      .drop("rn1", "rn")
  }

  /** [[meanCentroids]] resolved to synthetic TweetFeatures rows
    * (id = −(cluster+1); integer feature fields rounded — the form the
    * iterative loop carries between rounds). Driver-side: k rows. */
  private def meanCentroidFeatures(members: DataFrame): Map[Int, TweetFeatures] =
    meanCentroids(members)
      .collect().map { r =>
        r.getAs[Int]("cluster") -> TweetFeatures(
          id = -(r.getAs[Int]("cluster") + 1L),
          numOfHashtags = math.round(r.getAs[Double]("numOfHashtags")).toInt,
          language = r.getAs[String]("language"),
          hasVideo = math.round(r.getAs[Double]("hasVideo")).toInt,
          replyCount = math.round(r.getAs[Double]("replyCount")).toInt,
          retweetCount = math.round(r.getAs[Double]("retweetCount")).toInt,
          likeCount = math.round(r.getAs[Double]("likeCount")).toInt,
          time = math.round(r.getAs[Double]("time")).toInt)
      }.toMap

  /** Mean-centroid alternative (non-member centroid; language = per-cluster
    * mode, ties to lexicographically smallest). O(n), one shuffle. */
  def meanCentroids(members: DataFrame): DataFrame = {
    val langMode = members.groupBy(col("cluster"), col("language")).count()
      .groupBy(col("cluster"))
      .agg(min_by(col("language"), struct(-col("count"), col("language"))).as("language"))
    members.groupBy(col("cluster")).agg(
      avg("time").as("time"), avg("numOfHashtags").as("numOfHashtags"),
      avg("hasVideo").as("hasVideo"), avg("replyCount").as("replyCount"),
      avg("retweetCount").as("retweetCount"), avg("likeCount").as("likeCount"))
      .join(langMode, "cluster")
  }

  /** J3 — resolve seed/centroid ids to feature rows, preserving seed order
    * as the cluster index (`Cluster.java:353-370`). */
  def resolveCentroids(features: Dataset[TweetFeatures], ids: Seq[Long]): Seq[TweetFeatures] = {
    val byId = features.filter(col("id").isin(ids: _*)).collect()
      .map(f => f.id -> f).toMap
    ids.map(id => byId.getOrElse(id,
      throw new IllegalArgumentException(s"seed id $id not found in features")))
  }

  /** One centroid-update round: medoid/sampled-medoid strategies yield
    * member ids to resolve; Mean yields synthetic (non-member) centroids
    * with id = -(cluster+1). Empty clusters keep their previous centroid. */
  private def updateCentroids(members: DataFrame, features: Dataset[TweetFeatures],
      prev: Seq[TweetFeatures], cfg: KMeansConfig): Seq[TweetFeatures] =
    cfg.strategy match {
      case Mean =>
        val rows = meanCentroidFeatures(members)
        prev.indices.map(i => rows.getOrElse(i, prev(i)))
      case _ =>
        val medoidDf = cfg.strategy match {
          case SampledMedoid(s) => sampledMedoids(members, s, cfg.hashtagWeight)
          case _ => medoids(members, cfg.hashtagWeight)
        }
        // resolve the medoid ids to feature rows INSIDE the same job (one
        // broadcast join over the cached features) instead of a second
        // isin-filter action per iteration
        import features.sparkSession.implicits._
        val resolved = features.toDF()
          .join(broadcast(medoidDf), col("id") === col("medoid_id"))
          .select(col("cluster"), struct(featureCols.map(col): _*).as("f"))
          .as[(Int, TweetFeatures)]
          .collect().toMap
        prev.indices.map(i => resolved.getOrElse(i, prev(i)))
    }

  /** One feature tuple of the histogram: its member count and its
    * candidate rows, ascending by (order key, id). */
  private final case class FeatureTuple(n: Long, cands: IndexedSeq[(Long, TweetFeatures)]) {
    def f: TweetFeatures = cands.head._2
  }

  /** The histogram loop's input, read off the features: the exact gate
    * counts, and — when both are within the gates — every distinct
    * tuple with its candidates: for [[SampledMedoid]](s) its s smallest
    * (seed-hash order, id) rows, for [[Medoid]] its min-id row. */
  private def histogram(df: DataFrame, cfg: KMeansConfig, maxTuples: Int,
      maxCandidateRows: Long): (LoopPath, Option[IndexedSeq[FeatureTuple]]) = {
    import df.sparkSession.implicits._
    val (perTuple, order) = cfg.strategy match {
      case SampledMedoid(s) => (s, seedHashOrder)
      case _ => (1, col("id"))
    }
    val counts = df.groupBy(tupleCols.map(col): _*).agg(count(lit(1)).as("n"))
    val small = counts.limit(maxTuples + 1).collect()
    if (small.length > maxTuples) {
      val exact = counts.agg(count(lit(1)), sum(least(col("n"), lit(perTuple.toLong)))).head()
      return (LoopPath(histogram = false, exact.getLong(0), exact.getLong(1)), None)
    }
    val candidateRows = small.map(r => math.min(r.getLong(4), perTuple.toLong)).sum
    if (candidateRows > maxCandidateRows)
      return (LoopPath(histogram = false, small.length, candidateRows), None)
    val n = small.map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3)) -> r.getLong(4)).toMap
    val tuples = smallestPerGroup(df, tupleCols.map(col), order, perTuple)
      .select(order.as("key"), struct(featureCols.map(col): _*).as("f"))
      .as[(Long, TweetFeatures)].collect()
      .groupBy { case (_, f) => (f.time, f.numOfHashtags, f.language, f.hasVideo) }
      .toIndexedSeq
      // a fixed tuple order fixes the summation order of the totals
      .sortBy { case ((t, h, l, v), _) => (t, h, Option(l), v) }
      .map { case (k, cs) => FeatureTuple(n(k), cs.sortBy { case (key, f) => (key, f.id) }.toIndexedSeq) }
    (LoopPath(histogram = true, small.length, candidateRows), Some(tuples))
  }

  /** One centroid-update round on the driver, over the histogram — the
    * round [[updateCentroids]] runs distributed, with no Spark job:
    * tuples go to their first nearest centroid (the same kernel, bit for
    * bit, as the Spark-side assignment); a cluster's candidates are the
    * top s by (key, id) of the union of its tuples' candidate lists —
    * exact, as the cluster's global top s lies inside that union; a
    * candidate scores T(t) = Σ_u n_u·d(t, u) over the cluster's tuples
    * and the least (T, id) wins. Empty clusters keep their previous
    * centroid. */
  private def histogramStep(tuples: IndexedSeq[FeatureTuple], cfg: KMeansConfig)(
      centroids: Seq[TweetFeatures]): Seq[TweetFeatures] = {
    val hw = cfg.hashtagWeight
    val s = cfg.strategy match {
      case SampledMedoid(s) => s
      case _ => Int.MaxValue
    }
    val cluster = tuples.map { u =>
      val d = centroids.map(Distances.weightedDistance(u.f, _, hw))
      d.indices.reduceLeft((best, j) => if (d(j) < d(best)) j else best)
    }
    centroids.indices.map { j =>
      val members = tuples.indices.filter(cluster(_) == j)
      if (members.isEmpty) centroids(j)
      else {
        val cands = members
          .flatMap(t => tuples(t).cands.map { case (key, f) => (key, f, t) })
          .sortBy { case (key, f, _) => (key, f.id) }
          .take(s)
        val total = cands.map(_._3).distinct.map { t =>
          t -> members.foldLeft(0.0) { (acc, u) =>
            acc + tuples(u).n * Distances.weightedDistance(tuples(t).f, tuples(u).f, hw)
          }
        }.toMap
        cands.minBy { case (_, f, t) => (total(t), f.id) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))._2
      }
    }
  }

  /** The full iterative loop (§3.2): assign → update centroids → converge?
    * Medoid strategies run their rounds on the feature-tuple histogram
    * while it is within the gates: two queries build it, and the job
    * count no longer grows with the iterations. Otherwise
    * (and for [[Mean]]) each round is distributed over features cached
    * across iterations (the reference re-scans HBase every iteration).
    * Both loops yield the same result (KMeansHistogramSpec pins it). The
    * convergence test (A9) runs driver-side on the k centroids against
    * `cfg.convergenceLimit`.
    */
  def run(features: Dataset[TweetFeatures], cfg: KMeansConfig): Result =
    run(features, cfg, HistogramMaxTuples, HistogramMaxCandidateRows)

  /** [[run]] with the histogram gates as parameters, so specs can force
    * either loop on the same input. */
  private[graft] def run(features: Dataset[TweetFeatures], cfg: KMeansConfig,
      maxTuples: Int, maxCandidateRows: Long): Result = {
    val seedIds = if (cfg.seeds.nonEmpty) cfg.seeds else deterministicSeeds(features.toDF(), cfg.k)
    val seeds = resolveCentroids(features, seedIds)
    val (path, tuples) = cfg.strategy match {
      case Mean => (None, None)
      case _ =>
        val (p, t) = histogram(features.toDF(), cfg, maxTuples, maxCandidateRows)
        (Some(p), t)
    }
    tuples match {
      case Some(t) => iterate(features.toDF(), seeds, cfg, path, histogramStep(t, cfg))
      case None =>
        // Spread a narrow scan across the cores before caching: the medoid
        // update BROADCASTS the candidate side, so the O(n·s) distance sums
        // run in the MEMBERS' partitioning — and a single-row-group parquet
        // scan (or any under-split input) pins that compute to 1-2 tasks
        // however many cores exist (measured at sf0.1: 2.1-2.7 s per
        // iteration on one core vs ~0.15 s spread). Deterministic hash
        // repartition by id; a no-op whenever the scan already carries at
        // least default parallelism (any production-sized input).
        val df0 = features.toDF()
        val p = features.sparkSession.sparkContext.defaultParallelism
        val df = if (df0.rdd.getNumPartitions < p) df0.repartition(p, col("id")) else df0
        df.cache()
        try iterate(df, seeds, cfg, path, c =>
          updateCentroids(assignWithFeaturesParam(df, c, cfg.hashtagWeight), features, c, cfg))
        finally df.unpersist()
    }
  }

  /** The rounds of [[run]] from the seed centroids, each produced by
    * `step`, then the final assignment of `df`. */
  private def iterate(df: DataFrame, seeds: Seq[TweetFeatures], cfg: KMeansConfig,
      path: Option[LoopPath], step: Seq[TweetFeatures] => Seq[TweetFeatures]): Result = {
    var centroids = seeds
    val trajectory = scala.collection.mutable.ArrayBuffer[Seq[TweetFeatures]](centroids)
    var iter = 0
    var converged = false
    while (iter < cfg.maxIterations && !converged) {
      val next = step(centroids)
      converged = centroids.zip(next).forall { case (a, b) =>
        Distances.weightedDistance(a, b, cfg.hashtagWeight) <= cfg.convergenceLimit
      }
      centroids = next
      trajectory += centroids
      iter += 1
    }
    // the iteration-stable form: reuses the distributed rounds' generated classes
    val finalAssign = assignWithFeaturesParam(df, centroids, cfg.hashtagWeight)
      .select("id", "cluster")
    Result(finalAssign, centroids, iter, converged, trajectory.toSeq, path)
  }

  /** A8 replacement for unseeded sampling: deterministic k distinct seed ids
    * by multiplicative-hash order (replayable, unlike `random.java:41,81`). */
  def deterministicSeeds(features: DataFrame, k: Int): Seq[Long] =
    features.select(col("id"))
      .orderBy(seedHashOrder, col("id"))
      .limit(k).collect().map(_.getLong(0)).toSeq

  /** A8 — seeded random k-sample of distinct ids (`random.java:29-118`,
    * with the early-return and unseeded-Random defects fixed per §2.8.3).
    * Retries with a doubled fraction (up to 3×) if the Bernoulli sample
    * undershoots k, then fails HERE — not rows later in KMeansConfig's
    * `seeds.size == k` require, far from the cause. */
  def randomSeeds(features: DataFrame, k: Int, fraction: Double, seed: Long): Seq[Long] = {
    val distinct = features.select(col("id")).dropDuplicates("id")
    var f = fraction
    var ids = Seq.empty[Long]
    var attempts = 0
    while (ids.size < k && attempts < 3) {
      ids = distinct.sample(withReplacement = false, math.min(f, 1.0), seed)
        .limit(k).collect().map(_.getLong(0)).toSeq
      f *= 2
      attempts += 1
    }
    require(ids.size == k,
      s"randomSeeds: sample yielded ${ids.size} of $k requested ids " +
        s"(fraction $fraction tripled to ${f / 2}); table too small?")
    ids
  }
}
