package graft

import graft.plans.GraftRuntime
import org.apache.spark.sql.functions._

/** Wall-time sweep of the q45c assignment pipeline under each PINNED
  * hamming block plan — the calibration data behind the chooser's
  * band-row weight (round-11 finding: the equal-weight cost model
  * band_rows + raw_join_rows picked m=10/c=4 at ×256 where the measured
  * wall says otherwise — a shuffled+sorted band row does not cost the
  * same as a merge-streamed candidate row). Runs
  * `Dedup.simhashAssignments` with plan = each exact (m, c) family over
  * `SPARK_GRAFT_SF_DIR`, reps from `SPARK_GRAFT_SCALE_REPS` (default 1 —
  * each rep is minutes at ×256), min wall + the min-wall rep's task
  * metrics. Output: one JSON line per plan. */
object HammingPlanSweep {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt
    val plans = sys.env.getOrElse("SPARK_GRAFT_HAMMING_PLANS", "7:1,8:2,9:3,10:4")
      .split(',').map { s => val Array(m, c) = s.split(':').map(_.trim.toInt); (m, c) }
    val spark = GraftRuntime.session("graft-hamming-sweep", GraftRuntime.localCpus(32))

    val probe = org.apache.spark.graftnative.TaskMetricsProbe.install(spark.sparkContext)
    val docs = graft.operators.Dedup.withNearDuplicates(
      Tables.load(spark, dir, "documents"))
    for ((m, c) <- plans) {
      val runs = (1 to reps).map { _ =>
        probe.reset()
        val t0 = System.nanoTime()
        graft.operators.Dedup.simhashAssignments(docs, plan = Some((m, c)))
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftnative.TaskMetricsProbe.drain(spark.sparkContext)
        val mtr = probe.snapshot()
        val leaked = spark.sparkContext.getPersistentRDDs
        if (leaked.nonEmpty) { leaked.values.foreach(_.unpersist(true)); System.gc() }
        (sec, mtr)
      }
      val (sec, (sr, sw, ds, ms)) = runs.minBy(_._1)
      println(f"""{"plan":"${m}:${c}","sec":$sec%.2f,"shuffle_read_mb":${sr / 1e6}%.1f,"shuffle_write_mb":${sw / 1e6}%.1f,"disk_spill_mb":${ds / 1e6}%.1f,"mem_spill_mb":${ms / 1e6}%.1f}""")
    }
    spark.stop()
  }
}
