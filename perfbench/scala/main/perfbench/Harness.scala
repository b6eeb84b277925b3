package perfbench

import org.apache.spark.graftnative.TaskMetricsProbe
import org.apache.spark.sql.SparkSession

/** One production-shaped invocation of a workload chain: a fresh JVM, a
  * fresh `SparkSession` configured as `graft.Cli` configures it
  * (`local[cpus]`, shuffle partitions = cpus, `GraftRuntime.enable`),
  * then the chain, then the facts the checks need. Everything it
  * measures goes to one JSON artifact, written after the chain ends.
  *
  * usage: perfbench.Harness <workload> <inputDir> <outDir> <cpus>
  *          <trace 0|1> <artifact.json> [<batches>]
  * The workload `setup` starts the session, records when it was ready
  * and exits at once, for set-up time samples.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, cpus, trace, artifact) = args.take(6)
    val traced = trace == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/_spark_local")
      .config("spark.sql.warehouse.dir", s"$out/_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftRuntime.enable(spark)
    val ready = java.time.Instant.now()
    try {
      val sc = spark.sparkContext
      val t = new Tracer(sc, sparkWork = traced)
      Tracer.resetHeapPeak()
      val gc0 = Tracer.gcMs()
      val cg0 = Tracer.codegenTotals()
      val outcome = scala.util.Try(workload match {
        case "tweet-chain" => Chains.tweetChain(spark, in, out, t)
        case "release-arrivals" => Chains.releaseArrivals(spark, in, out, t, args(6).toInt)
        case "setup" => Map.empty[String, Any]
        case w => sys.error(s"unknown workload $w")
      })
      t.finish()
      val cg1 = Tracer.codegenTotals()
      val gcS = (Tracer.gcMs() - gc0) / 1e3
      val heapPeakMb = Tracer.heapPeakMb()
      if (traced) TaskMetricsProbe.drain(sc)
      sc.setJobGroup("perfbench-check", "facts read back for the output checks")
      val facts = if (workload == "release-arrivals" && outcome.isSuccess)
        Chains.indexFacts(spark, out) else Map.empty
      val meta = Map[String, Any]("workload" -> workload, "traced" -> traced,
        "run_id" -> t.runId, "cpus" -> cpus.toInt,
        "ready_unix_s" -> (ready.getEpochSecond + ready.getNano / 1e9),
        "run_s" -> t.spans(0).endNs / 1e9,
        "error" -> outcome.failed.toOption.map(_.toString),
        "obs" -> (outcome.getOrElse(Map.empty) ++ facts),
        "codegen_compiles" -> (cg1._1 - cg0._1), "codegen_compile_s" -> (cg1._2 - cg0._2) / 1e3,
        "jvm_gc_s" -> gcS, "jvm_heap_peak_mb" -> heapPeakMb,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "jdk" -> System.getProperty("java.version"))
      val tmp = java.nio.file.Paths.get(artifact + ".tmp")
      java.nio.file.Files.write(tmp, t.toJson(meta).getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(artifact),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // a set-up sample ends here: its shutdown is no part of what it measures
      if (workload == "setup") Runtime.getRuntime.halt(0)
      outcome.get
    } finally spark.stop()
  }
}
