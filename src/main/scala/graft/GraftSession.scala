package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.{CatalystBridge, ParamLiterals}

/** Engine session setup as a LIBRARY concern, not a launcher concern.
  *
  * [[GraftSession.configure]] is the only code that sets session-level
  * engine state. It runs once per session and installs the conf defaults
  * below, the engine's SQL functions, the HOF unroll optimizer rule (so a
  * plan never depends on which query ran first) and the malformed time
  * literal check (`PlannerChecks.illegalTimeLiterals`, an analysis check
  * that reaches the analyzers built after the first `configure`;
  * SqlLifecycle also runs it on every statement). It also installs
  * `ParamLiterals`, the physical-plan rule that keeps literal values out of
  * generated code, so a query shape compiles once whatever its interval
  * bounds and filter values (SCALE.md, "Generated code and literals").
  * A tuning default yields to a key the embedder set explicitly (builder
  * option, sparkContext conf or a prior `spark.conf.set`); a dialect key
  * does not, so every route runs one dialect.
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
  *  - `spark.sql.ansi.enabled = false` (dialect) — Druid's one expression
  *    semantics: longs wrap, a bad cast is null, nothing throws
  *    (CalciteParameterQueryTest.java:623 binds VARCHAR 'wat' against a
  *    float and expects 0 rows, not an error).
  *  - `spark.sql.legacy.sizeOfNull = false` (dialect) — ARRAY_LENGTH and
  *    MV_LENGTH of null are null, not Spark's legacy -1.
  */
object GraftSession {
  /** (key, engine default) — all runtime-settable SQL confs. */
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.sizeOfNull" -> "false")

  /** The keys of [[defaults]] that define the engine's expression dialect. */
  private val dialectKeys = Set("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")

  /** Marker conf: present once this session has been configured, so the
    * entry points that take a caller's session cost one extensions check
    * and one conf lookup after the first call. */
  private val configuredKey = "spark.graft.sessionDefaultsApplied"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

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
    // before the first conf read: that read builds the session state, and a
    // session state's columnar rules are fixed when it is built
    synchronized(CatalystBridge.installColumnarRule(spark, ParamLiterals))
    if (!spark.conf.getOption(configuredKey).contains("true")) synchronized {
      if (!spark.conf.getOption(configuredKey).contains("true")) {
        if (!CatalystBridge.columnarRules(spark).contains(ParamLiterals))
          log.warn("GraftSession.configure: this session's state was built before " +
            "configure ran, so its generated code keeps literal values and compiles a " +
            "class per new value; its newSession() children parameterize them")
        defaults.foreach { case (k, v) =>
          if (dialectKeys(k) || !CatalystBridge.confIsSet(spark, k))
            spark.conf.set(k, v)
        }
        graft.functions.GraftSqlFunctions.register(spark)
        graft.plans.HofUnroll.enable(spark)
        CatalystBridge.installCheckRule(spark, graft.plans.PlannerChecks.illegalTimeLiterals)
        spark.conf.set(configuredKey, "true")
      }
    }
    spark
  }
}
