package graft

import graft.plans.GraftRuntime

/** Plan inspector: `runMain graft.Explain <sfDir> [queryPrefix...]` prints
  * the formatted physical plan of each selected registry query — the
  * review loop for scale hygiene (pushed filters, pruned schemas,
  * broadcast vs sort-merge, whole-stage codegen spans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val prefixes = args.drop(1).toSeq
    val spark = GraftRuntime.session("graft-explain", GraftRuntime.localCpus(4))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        println(s"\n======== $name ========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
