package graft

import org.apache.spark.sql.SparkSession

/** Engine session defaults as a LIBRARY concern, not a launcher concern.
  *
  * The engine's plan-shape guarantees depend on three runtime-settable SQL
  * confs that Spark defaults differently:
  *
  *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` — the
  *    first/last/any pair folds (FirstLastFoldAgg/AnyFoldAgg) and every
  *    sketch aggregate plan as ObjectHashAggregate; Spark's default of 128
  *    in-memory keys per partition silently falls back to SORT-based
  *    aggregation past 128 distinct groups, re-opening the ~3× penalty the
  *    fold aggregates exist to avoid (rationale at FirstLastAgg.scala). The
  *    accumulators are ~50 B, so 1M hashed keys per partition is ~50 MB —
  *    safe at executor scale.
  *  - `spark.sql.parquet.aggregatePushdown` — count/min/max-over-scan
  *    resolve from parquet footer statistics, the analog of the reference's
  *    metadata count path.
  *  - `spark.sql.session.timeZone = UTC` — the reference's timeline is UTC
  *    epoch millis; granularity bucketing and timestamp rendering assume it.
  *
  * `configure` applies them wherever the engine takes ownership of a
  * session (the HTTP facade, the Avatica endpoint, the native JSON entry
  * point), idempotently and WITHOUT clobbering settings the embedder set
  * explicitly — a key already present in the session's settings map
  * (builder option, sparkContext conf, or a prior `spark.conf.set`) is
  * left alone; only keys riding their registered Spark default are raised.
  */
object GraftSession {
  /** (key, engine default) — all three are runtime-settable SQL confs. */
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** Marker conf: present once this session has been configured, so the
    * per-query entry points cost one map lookup after the first call. */
  private val configuredKey = "spark.graft.sessionDefaultsApplied"

  /** CPUs for a local session: `SPARK_GRAFT_CPUS`, else every core. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one local-mode session builder (Bench, Verify, the tools and the
    * specs): `local[cpus]` with as many shuffle partitions, the UI off,
    * parquet TIMESTAMP(NANOS) read as long (Spark's reader rejects it;
    * Sources.events normalizes it), WARN logging, then [[configure]]. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }

  def configure(spark: SparkSession): SparkSession = {
    if (!spark.conf.getOption(configuredKey).contains("true")) synchronized {
      if (!spark.conf.getOption(configuredKey).contains("true")) {
        defaults.foreach { case (k, v) =>
          if (!org.apache.spark.sql.graftbridge.CatalystBridge.confIsSet(spark, k))
            spark.conf.set(k, v)
        }
        spark.conf.set(configuredKey, "true")
      }
    }
    spark
  }
}
