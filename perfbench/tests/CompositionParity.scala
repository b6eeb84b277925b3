package graft
package perfbenchparity

import org.apache.spark.sql.{DataFrame, SparkSession}

import perfbench.{Chains, Tracer}

/** Composition parity: each benchmark chain must write what the matching
  * `graft.Cli` verbs write when run in-process on the same input, so the
  * benchmark cannot drift from what users run. Inputs come from
  * `test_parity.py`, which generates them with the benchmark's own
  * generator at a tiny size.
  *
  * usage: CompositionParity <inputRoot> <workDir> <cpus>
  *   inputRoot holds tweet-chain/ and release-arrivals/ (its corpus and
  *   batch_0 .. batch_{n-1}).
  */
object CompositionParity {

  private var failures = List.empty[String]

  private def check(what: String)(ok: => Boolean): Unit = {
    val pass = scala.util.Try(ok).recover { case e => println(s"  $e"); false }.get
    println(s"${if (pass) "PASS" else "FAIL"} $what")
    if (!pass) failures ::= what
  }

  /** Rows of two frames as sorted strings, doubles compared to 1e-9
    * relative (aggregation order may differ between runs). */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case null => "null"
      case x => x.toString
    }).sortBy(_.mkString("\u0001")).toSeq
    val (ra, rb) = (rows(a), rows(b))
    ra.size == rb.size && ra.zip(rb).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall { case (u, v) =>
        u == v || ((u.toDoubleOption, v.toDoubleOption) match {
          case (Some(p), Some(q)) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
          case _ => false
        })
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(inRoot, work, cpus) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftRuntime.enable(spark)
    def tracer() = new Tracer(spark.sparkContext, sparkWork = false)
    def pq(p: String) = spark.read.parquet(p)
    def tsv(p: String) = spark.read.option("sep", "\t").csv(p)
    try {
      // tweet-chain vs ingest / cluster --seeds / analyze / distance
      val tin = s"$inRoot/tweet-chain"
      val (bench, cli) = (s"$work/tweet/bench", s"$work/tweet/cli")
      val obs = Chains.tweetChain(spark, tin, bench, tracer())
      Cli.run(spark, List("ingest", s"$tin/tweets.csv", s"$cli/features"))
      val seeds = operators.KMeans.deterministicSeeds(pq(s"$cli/features"), 3)
      Cli.run(spark, List("cluster", s"$cli/features", "3", s"$cli/cluster",
        "--seeds", seeds.mkString(","), "--strategy", "sampled:256"))
      Cli.run(spark, List("analyze", s"$cli/features", s"$cli/cluster/assignments", s"$cli/analyze"))
      val cliCentroids = spark.read.text(s"$cli/cluster/centroids").collect()
        .map(_.getString(0).split("\t")).sortBy(_(0).toInt).map(_(1))
      Cli.run(spark, List("distance", s"$cli/features", s"$cli/cluster/assignments",
        cliCentroids.mkString(","), s"$cli/distance"))
      check("tweet-chain: centroids") {
        obs("centroid_ids").asInstanceOf[Seq[String]] == cliCentroids.toSeq
      }
      check("tweet-chain: features")(sameRows(pq(s"$bench/features"), pq(s"$cli/features")))
      for (out <- Seq("cluster/assignments", "cluster/centroids", "analyze/group_count",
          "analyze/cluster_averages", "distance/sse"))
        check(s"tweet-chain: $out")(sameRows(tsv(s"$bench/$out"), tsv(s"$cli/$out")))

      // release-arrivals vs release, then bandindex over the released docs,
      // ingest-dedup --fold true per batch, compact-index
      val rin = s"$inRoot/release-arrivals"
      val nBatches = new java.io.File(rin).list().count(_.startsWith("batch_"))
      val (rb, rc) = (s"$work/release/bench", s"$work/release/cli")
      Chains.releaseArrivals(spark, rin, rb, tracer(), nBatches)
      val benchDocs = Chains.indexFacts(spark, rb)("index_docs")
      Cli.run(spark, List("release", s"$rin/corpus", s"$rc/release"))
      Cli.run(spark, List("bandindex", s"$rc/release/docs", s"$rc/index"))
      for (b <- 0 until nBatches)
        Cli.run(spark, List("ingest-dedup", s"$rin/batch_$b", s"$rc/index", s"$rc/batch_$b",
          "--fold", "true"))
      Cli.run(spark, List("compact-index", s"$rc/index"))
      def manifest(d: String) = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$d/release/manifest.json")), "UTF-8")
      check("release-arrivals: manifest.json")(manifest(rb) == manifest(rc))
      for (out <- Seq("verdicts", "docs", "packed", "card"))
        check(s"release-arrivals: release/$out")(sameRows(
          pq(s"$rb/release/$out"), pq(s"$rc/release/$out")))
      for (b <- 0 until nBatches; out <- Seq("pairs", "clean"))
        check(s"release-arrivals: batch_$b/$out")(sameRows(
          pq(s"$rb/batch_$b/$out"), pq(s"$rc/batch_$b/$out")))
      check("release-arrivals: compacted index doc count") {
        operators.Dedup.bandIndexDocCount(spark, "graft_idx") == benchDocs
      }
    } finally spark.stop()
    if (failures.nonEmpty) {
      println(s"${failures.size} parity check(s) failed")
      sys.exit(1)
    }
    println("all parity checks passed")
  }
}
