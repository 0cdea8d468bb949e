package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Datasource surface (reference: processing/src/main/java/org/apache/druid/
  * query/DataSource.java:33-39 — table/query/union/join/lookup/inline/
  * globalTable).
  *
  * In this engine a "datasource" is just a DataFrame; these helpers give the
  * named constructors and the scale-relevant behaviors (broadcast for
  * globalTable/lookup, unionByName with schema-light tolerance for union).
  */
object Sources {

  /** table datasource: parquet table inside an sf dir (TESTDATA layout),
    * or any path. Columnar scan + pushdown come free from the parquet source.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** A parquet datasource at `path`, its schema read through the schema
    * catalog (the reference's broker refreshes DruidSchema per datasource,
    * so no query pays for a schema read). An entry holds the schema the
    * footers gave, keyed on the qualified path, the session's
    * parquet-inference confs and a fingerprint of the path's files (path,
    * length, mtime) from one Hadoop listing, so a rewritten table is read
    * again. The catalog holds metadata only: every query still lists and
    * scans its files. A path the listing cannot fingerprint (a glob, a
    * missing or empty directory) reads as a plain `spark.read.parquet`,
    * which raises its own errors. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    filesOf(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((root, fingerprint)) =>
        val key = (root, InferenceConfs.map(spark.conf.getOption))
        val schema = Option(schemas.get(key)).collect { case (`fingerprint`, s) => s }
          .getOrElse {
            // no lock is held while the inference job runs; two racing
            // misses both infer, and the later put wins
            val s = spark.read.parquet(path).schema
            schemas.put(key, (fingerprint, s))
            s
          }
        spark.read.schema(schema).parquet(path)
    }

  // every session conf that changes what parquet inference returns
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[Option[String]]), (String, org.apache.spark.sql.types.StructType)]

  /** The qualified root and a SHA-256 over its files' (path, length,
    * mtime), or None when the path lists no data file. */
  private def filesOf(spark: SparkSession, path: String): Option[(String, String)] =
    scala.util.Try {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      var data = false
      while (it.hasNext) {
        val f = it.next()
        files += s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n"
        data ||= !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.sorted.foreach(f => md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      if (data) Some((fs.makeQualified(root).toString, BigInt(1, md.digest()).toString(16)))
      else None
    }.toOption.flatten

  /** Rebalance a CPU-dense input up to cluster width when the scan
    * under-partitions (a small file / single parquet row group scans as ONE
    * task, serializing per-row-expensive stages — hashing, shingling, regex
    * scoring — onto one core no matter how many are idle). Conditional by
    * design: at 100 TB the scan already yields thousands of partitions, the
    * predicate never fires, and no shuffle is added; when it does fire the
    * shuffle moves only the small input itself. This is the scan-side analog
    * of AQE's runtime rebalancing, which tunes shuffle stages but never
    * splits an under-partitioned scan. */
  def parallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // hash-partition on the row (all columns), NOT round-robin: round-robin
    // repartition local-sorts every row by every column first for retry
    // determinism (sortBeforeRepartition) — a full sort of the text payload
    // that cost 4x the stage it was parallelizing; one hash pass is free
    if (df.rdd.getNumPartitions < target)
      df.repartition(target, df.columns.map(org.apache.spark.sql.functions.col): _*)
    else df
  }

  /** [[parallelized]] with an explicit spread key. Preferred when a cheap
    * high-cardinality key exists (doc_id, vec_id): the all-columns variant
    * murmur-hashes the FULL row — including multi-KB text payloads — once
    * per row just to pick a partition, and marks every column as "used" so
    * Catalyst cannot prune unused ones below the exchange (guide §2.3:
    * project before the exchange; observed: the documents rebalance carried
    * and hashed all 5 columns where the consumer needed 2). Hashing the
    * unique id spreads identically and costs 8 bytes per row. Same no-op
    * contract at scale as [[parallelized]]. */
  def parallelizedBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, keys: _*)
    else df
  }

  /** events table with its TIMESTAMP(NANOS) `ts` column normalized to
    * microsecond timestamp_ntz (Spark's reader has no nanos type; the session
    * sets spark.sql.legacy.parquet.nanosAsLong=true and we truncate ns→µs,
    * matching DuckDB's CAST(ts_ns AS TIMESTAMP) truncation).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros((col("ts") / 1000L).cast("long")).cast("timestamp_ntz"))
      case _ => raw
    }
  }

  /** union datasource (reference: query/UnionDataSource.java:34): same-schema
    * union; Druid's is schema-light tolerant, so allowMissingColumns=true.
    */
  def union(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Schema-evolved segment union (the reference queries per-segment schemas
    * freely — a column may be string in one segment, long in the next,
    * absent in a third; SchemaEvolutionTest.java:135-146 builds exactly that
    * mix). `unionByName`/parquet mergeSchema refuse conflicting types, so
    * this aligns columns by name across the inputs and widens each
    * conflicting column before the union: identical types pass through,
    * numeric mixes (long/float/double and their decimals) widen to double,
    * anything else widens to string — matching the per-value coercion the
    * engine's aggregators apply (Rows.objectToNumber leniency). Missing
    * columns fill with typed nulls. Column order follows first appearance.
    */
  def unionEvolved(dfs: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.types._
    require(dfs.nonEmpty, "unionEvolved needs at least one input")
    val names = dfs.flatMap(_.schema.fieldNames).distinct
    def isNumeric(t: DataType): Boolean = t match {
      case _: NumericType => true
      case _ => false
    }
    val resolved: Seq[(String, DataType)] = names.map { n =>
      val types = dfs.flatMap(_.schema.fields.find(_.name == n)).map(_.dataType).distinct
      val t =
        if (types.size == 1) types.head
        else if (types.forall(isNumeric)) DoubleType
        else StringType
      n -> t
    }
    union(dfs.map { df =>
      df.select(resolved.collect {
        // try_cast: a widened string→double column keeps ANSI from raising
        // on unparseable values (they become nulls, as the reference's
        // lenient coercion does)
        case (n, t) if df.columns.contains(n) =>
          val c = col(n)
          (if (df.schema(n).dataType == t) c else c.try_cast(t)).as(n)
      }: _*)
    })
  }

  /** Read a multi-segment parquet datasource whose segment files may carry
    * evolved schemas. The fast path is the parquet reader's own mergeSchema
    * (same-type column unions — one scan relation, full pushdown). When
    * segments disagree on a column's TYPE, that merge refuses; the fallback
    * reads per segment file (basePath preserves partition columns) and
    * aligns through [[unionEvolved]]. The fallback plans one relation per
    * file — acceptable for the conflicted-datasource repair case it serves;
    * compaction (BatchIngest.compact) restores the single-relation layout.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    try spark.read.option("mergeSchema", "true").parquet(path)
    catch {
      case e: Exception
          if e.getMessage != null && (e.getMessage.contains("merge incompatible data types")
            || e.getMessage.contains("Failed to merge")
            || e.getMessage.contains("Failed merging schema")) =>
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(root, true)
        val files = scala.collection.mutable.ListBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next().getPath
          if (f.getName.endsWith(".parquet")) files += f.toString
        }
        unionEvolved(files.toList.sorted.map(f =>
          spark.read.option("basePath", path).parquet(f)))
    }

  /** inline datasource (reference: query/InlineDataSource.java:48). */
  def inline(spark: SparkSession, rows: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  /** globalTable datasource (reference: query/GlobalTableDataSource.java):
    * a table replicated to every node → Spark broadcast hint. Catalyst then
    * plans BroadcastHashJoin with no shuffle of the big side — the exact
    * cluster-scale analog of Druid's broadcast segments.
    */
  def globalTable(df: DataFrame): DataFrame = broadcast(df)
}

/** Lookup surface (reference: server/src/main/java/org/apache/druid/query/
  * lookup/LookupReferencesManager.java + extensions-core/lookups-cached-global).
  *
  * A lookup is a small, refreshable KV table used for dimension enrichment.
  * Registered lookups are kept as DataFrames and applied either as a
  * broadcast join (`apply`) or as a map literal (`graft.functions.
  * DruidFunctions.lookupMap`) for tiny maps. At 100 TB the join side stays
  * broadcast — never a shuffle of the fact table.
  */
object LookupRegistry {
  /** Default registry used by the JSON `lookup` datasource, the
    * `registeredLookup` extraction fn, and the LOOKUP() SQL function —
    * the analog of the reference's process-wide LookupReferencesManager. */
  val global = new LookupRegistry
}

final class LookupRegistry {
  private val lookups = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  // spec versions for the HTTP config surface (the reference's
  // LookupExtractorFactoryMapContainer.version); programmatic registrations
  // without a version read back null, like a v1 container
  private val versions = scala.collection.concurrent.TrieMap.empty[String, String]
  // monotonic change counter: any register/remove bumps it, so plan caches
  // keyed on it never serve a query compiled against stale lookup contents
  private val gen = new java.util.concurrent.atomic.AtomicLong(0L)
  def generation: Long = gen.get()

  def register(name: String, kv: DataFrame): Unit = {
    require(kv.columns.length >= 2, "lookup needs (key, value) columns")
    lookups.put(name, kv)
    gen.incrementAndGet()
  }
  def register(name: String, kv: DataFrame, version: String): Unit = {
    register(name, kv)
    if (version != null) versions.put(name, version) else versions.remove(name)
  }
  def version(name: String): Option[String] = versions.get(name)
  def contains(name: String): Boolean = lookups.contains(name)
  def remove(name: String): Boolean = {
    versions.remove(name)
    gen.incrementAndGet()
    lookups.remove(name).isDefined
  }
  def registerMap(spark: SparkSession, name: String, m: Map[String, String]): Unit = {
    import spark.implicits._
    register(name, m.toSeq.toDF("k", "v"))
  }
  def get(name: String): DataFrame = lookups(name)
  def names: Seq[String] = lookups.keys.toSeq.sorted

  /** The lookup as a driver-side String→String map — the analog of the
    * reference's on-heap lookup map, used to inline LOOKUP() / lookup
    * extraction fns as a map literal (broadcast with the plan). Guarded:
    * scalar-lookup use is for genuinely small maps; bigger ones should go
    * through the join API (`apply`) / `lookup` datasource.
    */
  def asMap(name: String, maxEntries: Int = 100000): Map[String, String] = {
    val kv = lookups(name)
    val rows = kv.limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"lookup '$name' exceeds $maxEntries entries; use the broadcast-join lookup API instead")
    rows.iterator
      .filter(_.get(0) != null)
      .map(r => r.get(0).toString -> (if (r.get(1) == null) null else r.get(1).toString))
      .toMap
  }

  /** uri/file-backed lookup namespace (extensions-core/lookups-cached-global
    * UriExtractionNamespace): (re)load a 2-column csv/parquet as the lookup;
    * call again to refresh — readers pick up the new version on next use. */
  def registerFromFile(spark: SparkSession, name: String, path: String,
      format: String = "csv"): Unit = {
    val df = format match {
      case "csv" => spark.read.option("header", "true").csv(path)
      case "parquet" => spark.read.parquet(path)
      case f => throw new IllegalArgumentException(s"lookup format: $f")
    }
    register(name, df)
  }

  /** jdbc lookup namespace (extensions-core/lookups-cached-global
    * JdbcExtractionNamespace): (key, value) columns of a JDBC table become
    * the lookup, loaded through Spark's JDBC source; call again to refresh
    * (the reference polls on pollPeriod — scheduling is the caller's choice).
    */
  def registerFromJdbc(spark: SparkSession, name: String, url: String,
      table: String, keyColumn: String, valueColumn: String,
      connProps: Map[String, String] = Map.empty): Unit = {
    val props = new java.util.Properties()
    connProps.foreach { case (k, v) => props.put(k, v) }
    val kv = spark.read.jdbc(url, table, props)
      .select(col(keyColumn).cast("string").as("k"),
        col(valueColumn).cast("string").as("v"))
    register(name, kv)
  }

  /** LOOKUP(col, name) as a join: enrich `df` with a `outputCol` column.
    * Broadcast, left-outer (missing key → null, sql-compatible mode).
    */
  def apply(df: DataFrame, keyCol: String, name: String, outputCol: String): DataFrame = {
    val kv = lookups(name)
    val k = kv.columns(0); val v = kv.columns(1)
    df.join(broadcast(kv.withColumnRenamed(v, outputCol)),
        df(keyCol) === kv(k), "left")
      .drop(k)
  }
}
