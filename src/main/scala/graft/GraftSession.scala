package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * All entry points (Verify, Bench, tests) funnel through here so the
  * scale-oriented defaults are applied uniformly:
  *
  *  - AQE on (runtime re-plan, skew-join splitting at 100 TB);
  *  - shuffle partitions sized to local cores ([[cpus]]; cluster
  *    deploys would size to 2-3x total cores);
  *  - `nanosAsLong` so parquet TIMESTAMP(NANOS) columns (the `events.ts`
  *    column in the testdata) load as raw ns-since-epoch longs — we then
  *    derive micro-precision timestamps explicitly where windowing needs
  *    them (see [[Tables.events]]);
  *  - UTC session time zone for oracle parity.
  */
object GraftSession {

  /** Options applied to every session regardless of who builds it. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    // tune() is applied AFTER the entry points' own builder configs,
    // so this is the value every session gets
    .config("spark.sql.shuffle.partitions", cpus.toLong)

  /** `SPARK_GRAFT_CPUS` (default 32): the mains' local cores and every
    * session's shuffle partitions. Must be a positive integer — Bench
    * writes it unquoted into its JSON lines, so `*` fails here. */
  def cpus: Int = {
    val env = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    env.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$env'"))
  }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply(spark)
  }

  /** Ensure session-level SQL confs hold even on a session built
    * elsewhere (the driver's Verify/Bench mains, test suites). */
  def apply(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Functions.register(spark)
    // native-kernel substitution (semantics-preserving): the spelled
    // portable hash fuses to Md5Prefix60 (GraftExtensions installs the
    // same rule cluster-wide)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.Md5PrefixFold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.Md5PrefixFold
    spark
  }
}
