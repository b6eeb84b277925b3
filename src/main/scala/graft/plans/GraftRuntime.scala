package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.{AsOfJoinStrategy, RangeJoinRewrite, StringNormExpressions, VectorExpressions}

/** Runtime enablement of the engine's Catalyst extensions on an ALREADY
  * RUNNING session — the programmatic twin of setting
  * `spark.sql.extensions=graft.plans.GraftExtensions` at launch. Every
  * engine entry point builds its session through [[session]], which calls
  * this, so the custom planner strategy and optimizer rule are part of the
  * engine's standard configuration, not demo-only: the driver's own
  * correctness gate runs THROUGH them (q73b exercises RangeJoinRewrite
  * end-to-end against the DuckDB oracle). Idempotent. */
object GraftRuntime {

  /** Attempts per task in a local session. A bare `local[N]` master gives
    * every task ONE attempt whatever `spark.task.maxFailures` says; only
    * the `local[N,F]` form raises it. Four matches the cluster default,
    * so one transient task failure (a spill-read hiccup once in ~45 k
    * tasks at the top scaling octave) is retried, not fatal. */
  private val LocalTaskAttempts = 4

  /** Cores for a local session: `SPARK_GRAFT_CPUS` when set, else
    * `default` — the engine's one read of that knob. */
  def localCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** The engine's session: `local[cpus, LocalTaskAttempts]` (or `master`
    * when given), shuffle partitions = cpus, UTC session time, no UI,
    * WARN logging, and [[enable]]d. `conf` adds caller-specific settings
    * (a warehouse directory, experiment confs). */
  def session(appName: String, cpus: Int, master: Option[String] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus,$LocalTaskAttempts]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    enable(spark)
    spark
  }

  def enable(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        AsOfJoinStrategy +: spark.experimental.extraStrategies
    if (!spark.experimental.extraOptimizations.contains(RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        RangeJoinRewrite +: spark.experimental.extraOptimizations
    // SQL-name bridges for the native scalar expressions (idempotent —
    // registerFunction replaces): spark.sql text gets the same codegen'd
    // implementations the Column API uses
    VectorExpressions.register(spark)
    StringNormExpressions.register(spark)
    org.apache.spark.sql.graftnative.SketchAggregates.register(spark)
    // Cost-based optimization is standard runtime configuration, not
    // demo-only: with ANALYZE-collected statistics (`Cli maintain
    // analyze` / Maintenance.analyzeForCbo) Catalyst reorders joins
    // from DATA rather than SQL syntax (q211 + CboSpec pin the reorder).
    // For path-read frames with no catalog stats the join-reorder rule
    // skips (it needs row counts on every side), so the rest of the
    // registry is unaffected.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
  }
}
