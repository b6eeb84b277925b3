package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{KMeansConfig, SampledMedoid}
import graft.operators.{Analysis, Bucketing, Curation, Dedup, KMeans}
import graft.sources.{AssignmentIO, TweetIngest}

/** The workload chains, composed from the engine's public layer
  * functions exactly as the matching `graft.Cli` verbs compose them
  * (ingest / cluster / analyze / distance; release, then bandindex /
  * ingest-dedup --fold / compact-index over the released corpus). Each
  * top-level span is one verb stage or one arriving batch; each nested
  * span is one public call, tagged with the module it enters. Every
  * chain returns the facts the output checks need. */
object Chains {

  /** `ingest <csv> <features>` → `cluster <features> 3 <dir> --seeds
    * <deterministic seeds> --strategy sampled:256` → `analyze` →
    * `distance <centroid ids>`. */
  def tweetChain(spark: SparkSession, in: String, out: String, t: Tracer): Map[String, Any] = {
    val featuresPath = s"$out/features"
    val nFeatures = t.span("ingest", "verb") {
      val features = t.span("TweetIngest.ingest", "TweetIngest") {
        TweetIngest.ingest(spark, s"$in/tweets.csv")
      }
      t.span("TweetIngest.writeFeatures", "sink") {
        TweetIngest.writeFeatures(features, featuresPath)
      }
      t.span("readback.count", "harness") { spark.read.parquet(featuresPath).count() }
    }

    val result = t.span("cluster", "verb") {
      val features = t.span("TweetIngest.readFeatures", "TweetIngest") {
        TweetIngest.readFeatures(spark, featuresPath)
      }
      val seeds = t.span("KMeans.deterministicSeeds", "KMeans") {
        KMeans.deterministicSeeds(features.toDF(), 3)
      }
      val cfg = KMeansConfig(k = 3, seeds = seeds, hashtagWeight = 0.8,
        convergenceLimit = 1.5, maxIterations = 20, strategy = SampledMedoid(256))
      val result = t.span("KMeans.run", "KMeans") { KMeans.run(features, cfg) }
      t.span("AssignmentIO.write", "sink") {
        AssignmentIO.write(result.assignments, s"$out/cluster/assignments")
      }
      t.span("centroids.write", "sink") {
        writeText(spark, s"$out/cluster/centroids",
          result.centroids.zipWithIndex.map { case (c, i) => s"$i\t${c.id}" })
      }
      result
    }

    t.span("analyze", "verb") {
      val enriched = t.span("Analysis.enrich", "Analysis") {
        Analysis.enrich(AssignmentIO.read(spark, s"$out/cluster/assignments"),
          TweetIngest.readFeatures(spark, featuresPath).toDF())
      }
      t.span("Analysis.groupCount", "sink") {
        writeTsv(Analysis.groupCount(enriched), s"$out/analyze/group_count")
      }
      t.span("Analysis.clusterAverages", "sink") {
        writeTsv(Analysis.clusterAverages(enriched), s"$out/analyze/cluster_averages")
      }
    }

    val centroidIds = result.centroids.map(_.id)
    t.span("distance", "verb") {
      val features = TweetIngest.readFeatures(spark, featuresPath)
      val centroids = t.span("KMeans.resolveCentroids", "KMeans") {
        KMeans.resolveCentroids(features, centroidIds).zipWithIndex
          .map { case (f, i) => i -> f }.toMap
      }
      val enriched = Analysis.enrich(AssignmentIO.read(spark, s"$out/cluster/assignments"),
        features.toDF())
      t.span("Analysis.clusterSse", "sink") {
        writeTsv(Analysis.clusterSse(enriched, centroids), s"$out/distance/sse")
      }
    }

    Map("features" -> nFeatures, "iterations" -> result.iterations,
      "converged" -> result.converged, "centroid_ids" -> centroidIds.map(_.toString))
  }

  /** `release <corpus> <dir>` with its defaults (jaccard 0.5, seq-len
    * 1024, no decontamination set, static hamming plan). */
  def curationRelease(spark: SparkSession, in: String, out: String, t: Tracer): Map[String, Any] = {
    val outDir = s"$out/release"
    val tau = 0.5
    val seqLen = 1024
    val (corpus, nRead) = t.span("read", "verb") {
      val corpus = spark.read.parquet(s"$in/corpus")
      (corpus, t.span("corpus.count", "harness") { corpus.count() })
    }

    val (deduped, nDeduped) = t.span("dedup", "verb") {
      val survivors = t.span("Dedup.ensembleDedupApply", "Dedup") {
        Dedup.ensembleDedupApply(corpus, tau, None).select("doc_id")
      }
      val deduped = t.span("deduped.localCheckpoint", "Dedup") {
        corpus.join(survivors, Seq("doc_id"), "left_semi").localCheckpoint()
      }
      (deduped, t.span("deduped.count", "harness") { deduped.count() })
    }
    val clean = deduped
    val nClean = nDeduped

    val nReleased = t.span("curate", "verb") {
      val verdicts = t.span("Curation.qualityVerdicts", "sink") {
        val v = Curation.qualityVerdicts(clean)
        v.write.mode("overwrite").parquet(s"$outDir/verdicts")
        v
      }
      t.span("Curation.redactText", "sink") {
        val kept = clean.join(
          verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
        kept.withColumn("text", Curation.redactText(col("text")))
          .write.mode("overwrite").parquet(s"$outDir/docs")
      }
      t.span("released.count", "harness") { spark.read.parquet(s"$outDir/docs").count() }
    }

    val nBins = t.span("pack", "verb") {
      val released = spark.read.parquet(s"$outDir/docs")
      t.span("Curation.packAssembly", "sink") {
        Curation.packAssembly(released, seqLen)
          .write.mode("overwrite").parquet(s"$outDir/packed")
      }
      t.span("Curation.datasetCard", "sink") {
        Curation.datasetCard(released).write.mode("overwrite").parquet(s"$outDir/card")
      }
      val nBins = t.span("packed.count", "harness") { spark.read.parquet(s"$outDir/packed").count() }
      val manifest = s"""{"read":$nRead,"after_dedup":$nDeduped,""" +
        s""""after_decontamination":$nClean,"released":$nReleased,""" +
        s""""dropped_dup":${nRead - nDeduped},"dropped_contaminated":${nDeduped - nClean},""" +
        s""""dropped_quality":${nClean - nReleased},"packed_bins":$nBins,""" +
        s""""seq_len":$seqLen,"jaccard":$tau}"""
      t.span("manifest.write", "sink") {
        val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        java.nio.file.Files.write(dir.resolve("manifest.json"), (manifest + "\n").getBytes("UTF-8"))
      }
      nBins
    }

    Map("read" -> nRead, "after_dedup" -> nDeduped, "released" -> nReleased,
      "dropped_quality" -> (nClean - nReleased), "packed_bins" -> nBins)
  }

  /** `release <corpus> <dir>`, then the continuous-ingest verbs over the
    * released documents: `bandindex <dir>/release/docs <idx>`, one
    * `ingest-dedup <batch> <idx> <dir> --fold true` per arriving batch,
    * and `compact-index <idx>`. */
  def releaseArrivals(spark: SparkSession, in: String, out: String, t: Tracer,
      nBatches: Int): Map[String, Any] =
    curationRelease(spark, in, out, t) ++
      indexArrivals(spark, s"$out/release/docs", in, out, t, nBatches)

  /** `bandindex <corpus> <idx>`, then one `ingest-dedup <in>/batch_i
    * <idx> <dir> --fold true` per arriving batch, then `compact-index`. */
  def indexArrivals(spark: SparkSession, corpus: String, in: String, out: String,
      t: Tracer, nBatches: Int): Map[String, Any] = {
    val indexDir = s"$out/index"
    val name = "graft_idx"
    val buckets = 8
    val tau = 0.5
    t.span("bandindex", "verb") {
      t.span("Dedup.writeBandIndex", "Dedup") {
        Dedup.writeBandIndex(spark.read.parquet(corpus), name,
          buckets = buckets, location = Some(indexDir))
      }
    }

    val perBatch = (0 until nBatches).map { i =>
      val batchOut = s"$out/batch_$i"
      t.span("batch", "verb") {
        val (nBatch, nPairs, nClean) = t.span("probe", "Dedup") {
          t.span("Dedup.registerBandIndex", "Dedup") {
            Dedup.registerBandIndex(spark, name, indexDir, buckets)
          }
          t.span("Dedup.bandIndexStale", "Dedup") {
            if (spark.catalog.tableExists(s"${name}_bandcensus") &&
                Dedup.bandIndexStale(spark, name)) Dedup.bandDriftStats(spark, name)
          }
          val batch = spark.read.parquet(s"$in/batch_$i")
          val pairs = t.span("Dedup.incrementalNearDupPairsIndexed", "Dedup") {
            Dedup.incrementalNearDupPairsIndexed(spark, batch, name, minJaccard = tau)
          }
          val clean = batch.join(pairs.select(col("new_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          t.span("pairs.write", "sink") {
            pairs.write.mode("overwrite").parquet(s"$batchOut/pairs")
          }
          t.span("clean.write", "sink") {
            clean.write.mode("overwrite").parquet(s"$batchOut/clean")
          }
          t.span("batch.counts", "harness") {
            (batch.count(), spark.read.parquet(s"$batchOut/pairs").count(),
              spark.read.parquet(s"$batchOut/clean").count())
          }
        }
        t.span("append", "Dedup") {
          val accepted = spark.read.parquet(s"$batchOut/clean")
          t.span("Dedup.appendToBandIndex", "Dedup") {
            Dedup.appendToBandIndex(spark, accepted, name)
          }
          t.span("accepted.count", "harness") { accepted.count() }
        }
        Map("docs" -> nBatch, "pairs" -> nPairs, "clean" -> nClean)
      }
    }

    val filesBeforeCompact = liveIndexFiles(spark, indexDir).size
    t.span("compact", "verb") {
      t.span("Dedup.registerBandIndex", "Dedup") {
        Dedup.registerBandIndex(spark, name, indexDir, buckets)
      }
      t.span("Dedup.compactBandIndex", "Dedup") {
        Dedup.compactBandIndex(spark, name, indexDir, buckets)
      }
    }
    Map("batches" -> perBatch, "files_before_compact" -> filesBeforeCompact)
  }

  /** Facts read back after the timed chain: the compacted index's doc
    * count and live on-disk size. */
  def indexFacts(spark: SparkSession, out: String): Map[String, Any] = {
    val files = liveIndexFiles(spark, s"$out/index")
    Map("index_docs" -> Dedup.bandIndexDocCount(spark, "graft_idx"),
      "index_bytes" -> files.map(_.length).sum)
  }

  /** Data files of the committed version of the index's bands and sets
    * tables (hidden and `_`-prefixed files skipped). */
  private def liveIndexFiles(spark: SparkSession, indexDir: String): Seq[java.io.File] =
    Seq("bands", "sets").flatMap { sub =>
      val dir = new org.apache.hadoop.fs.Path(Bucketing.currentDir(spark, indexDir, sub))
      Option(new java.io.File(dir.toUri.getPath).listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    }

  /** The CLI's TSV sink (`Cli.writeTsv`). */
  private def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").csv(path)

  /** The CLI's small driver-side text sink (`Cli.writeText`). */
  private def writeText(spark: SparkSession, path: String, lines: Seq[String]): Unit = {
    import spark.implicits._
    lines.toDF("line").coalesce(1).write.mode("overwrite").text(path)
  }
}
