package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Agg, PeriodGranularity}

/** Batch ingestion (SURVEY §2.3): InputFormats, TransformSpec,
  * PartitionsSpec, rollup-on-write, time-partitioned layout.
  *
  * Reference: core/.../data/input/impl (input sources/formats),
  * processing/.../segment/transform/TransformSpec.java (ingest transforms),
  * core/.../indexer/partitions/PartitionsSpec.java:33-37 (single_dim /
  * range / hashed / dynamic), segment granularity time chunking.
  *
  * Scale mapping: segment granularity → parquet `partitionBy` on the
  * truncated time column (readers prune whole directories on time
  * predicates); hashed partitioning → `repartition(n, dims)` (co-locates
  * later joins/groupBys on those dims); range partitioning →
  * `repartitionByRange` (clusters + enables min/max skipping on the sort
  * dim); dynamic → AQE-coalesced default.
  */
object BatchIngest {

  sealed trait PartitionsSpec
  case object DynamicPartitions extends PartitionsSpec
  final case class HashedPartitions(numShards: Int, dims: Seq[String]) extends PartitionsSpec
  final case class RangePartitions(numShards: Int, dims: Seq[String]) extends PartitionsSpec

  final case class RollupSpec(
      granularity: PeriodGranularity,
      dimensions: Seq[String],
      aggregations: Seq[Agg])

  final case class IngestSpec(
      inputPath: String,
      inputFormat: String = "parquet",          // csv | json | parquet | orc | avro | regex
      formatOptions: Map[String, String] = Map.empty,
      timeColumn: String = "__time",
      timeParseExpr: Column = null,             // timestampSpec: expr producing the time col
      transforms: Seq[(String, Column)] = Nil,  // TransformSpec derived columns
      filter: Column = null,                    // TransformSpec filter
      segmentGranularity: String = "P1D",       // time-chunk directory layout
      partitionsSpec: PartitionsSpec = DynamicPartitions,
      rollup: Option[RollupSpec] = None,
      dataSource: Option[String] = None,        // logical datasource name for the spec catalog
      inlineData: Option[String] = None,        // InlineInputSource.java: data carried in the spec
      delegates: Seq[IngestSpec] = Nil,         // CombiningInputSource.java: concatenated sources
      // DimensionsSpec (core/.../data/input/impl/DimensionsSpec.java):
      // an explicit dimension list keeps ONLY those (+ time/metrics);
      // exclusions drop named columns from discovery
      includeDimensions: Seq[String] = Nil,
      excludeDimensions: Seq[String] = Nil,
      // TimestampSpec.missingValue (TimestampSpec.java:52-72): the constant
      // timestamp for rows whose time parses null/absent
      timeMissingValue: Option[String] = None)

  /** Datasource → IngestSpec catalog (reference: the coordinator serves
    * AGGREGATORS/ROLLUP/TIMESTAMPSPEC segmentMetadata analyses from segment
    * metadata, SegmentMetadataQuery.java:50; here the spec that produced a
    * table is registered at ingest and served from this catalog). */
  private val specs = scala.collection.concurrent.TrieMap.empty[String, IngestSpec]
  def registerSpec(name: String, spec: IngestSpec): Unit = {
    specs.put(name, spec)
    bump(name) // spec-describing analyses read this catalog by name
  }
  def specOf(name: String): Option[IngestSpec] = specs.get(name)

  /** Read per inputFormat (InputSource × InputFormat). */
  /** TimestampSpec's named formats as a parse Column
    * (core/.../parsers/TimestampParser.java:43-110): `auto` (all-digits →
    * epoch millis, otherwise ISO-ish), `iso`, `posix` (epoch seconds),
    * `millis`, `micro`, `nano`, or any date-time pattern. Use as
    * `IngestSpec(timeParseExpr = BatchIngest.timestampSpec("ts", "posix"))`.
    */
  def timestampSpec(column: String, format: String = "auto"): Column = {
    val c = col(column)
    format.toLowerCase(java.util.Locale.ENGLISH) match {
      case "auto" =>
        when(c.cast("string").rlike("^\\d+$"),
          timestamp_millis(c.cast("string").cast("long")))
          .otherwise(to_timestamp(regexp_replace(c.cast("string"), "^\"|\"$", "")))
      case "iso" => to_timestamp(c.cast("string"))
      case "posix" => timestamp_seconds(c.cast("long"))
      case "millis" => timestamp_millis(c.cast("long"))
      case "micro" => timestamp_micros(c.cast("long"))
      // integral `div`, not Column `/` (double division loses precision at
      // epoch-nano magnitudes ~1.7e18 > double's 53-bit mantissa); truncation
      // toward zero matches TimeUnit.NANOSECONDS semantics
      // (TimestampParser.java:111)
      case "nano" => timestamp_micros(expr(s"cast(`$column` as long) div 1000"))
      // the pattern branch keeps the caller's original casing (date-time
      // pattern letters are case-significant)
      case _ => to_timestamp(c.cast("string"), format)
    }
  }

  def read(spark: SparkSession, spec: IngestSpec): DataFrame = {
    // CombiningInputSource (core/.../data/input/impl/CombiningInputSource
    // .java): delegates read independently and concatenate; schemas may
    // differ per delegate (schema-light), so the union aligns by name
    if (spec.delegates.nonEmpty)
      return spec.delegates.map(read(spark, _))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    // InlineInputSource (InlineInputSource.java:36-51): the data string in
    // the spec body, parsed by the regular InputFormat machinery — csv /
    // delimited / json parse from an in-memory dataset of lines
    spec.inlineData.foreach { data =>
      import spark.implicits._
      val lines = spark.createDataset(data.split("\n").toIndexedSeq.filter(_.nonEmpty))
      val rd = spark.read.options(spec.formatOptions)
      return spec.inputFormat match {
        case "csv" =>
          val explicit = spec.formatOptions.get("columns").map(_.split(",").map(_.trim).toSeq)
          val header = spec.formatOptions.getOrElse("header",
            if (explicit.isDefined) "false" else "true")
          val base = rd.option("header", header).csv(lines)
          explicit.fold(base)(cs => base.toDF(cs: _*))
        case "json" => rd.json(lines)
        case f => throw new IllegalArgumentException(
          s"inline data supports csv/json input formats, not: $f")
      }
    }
    val r = spark.read.options(spec.formatOptions)
    spec.inputFormat match {
      case "csv" =>
        // CsvInputFormat's explicit `columns` names a headerless file's
        // columns (vs findColumnsFromHeader ≈ header=true)
        val explicit = spec.formatOptions.get("columns").map(_.split(",").map(_.trim).toSeq)
        val header = spec.formatOptions.getOrElse("header",
          if (explicit.isDefined) "false" else "true")
        val base = r.option("header", header).csv(spec.inputPath)
        explicit.fold(base)(cs => base.toDF(cs: _*))
      case "json" =>
        spec.formatOptions.get("flattenSpec") match {
          case Some(fs) => readJsonFlattened(spark, spec, fs)
          case None => r.json(spec.inputPath)
        }
      case "parquet" => r.parquet(spec.inputPath)
      case "orc"     => r.orc(spec.inputPath)
      case "avro"    => r.format("avro").load(spec.inputPath)
      case "regex"   => readRegex(spark, spec)
      case "protobuf" => readProtobuf(spark, spec)
      case f         => throw new IllegalArgumentException(s"unknown inputFormat: $f")
    }
  }

  /** JsonInputFormat's `flattenSpec` (core/.../data/input/impl/
    * JsonInputFormat.java + parsers/JSONPathSpec.java): `useFieldDiscovery`
    * (default true) auto-discovers ROOT-level fields whose values are
    * primitives or arrays of primitives — nested objects are ignored unless
    * explicitly listed (JSONFlattenerMaker.discoverRootFields) — and
    * `fields` adds named extractions:
    *   {"type": "root", "name": n[, "expr": e]}  — a top-level field
    *   {"type": "path", "name": n, "expr": "$.a.b[0]"} — a JsonPath
    *   {"type": "jq", ...} — NOT supported (jackson-jq is not on the
    *     classpath in this environment; JsonPath covers the same
    *     extractions), fails loudly.
    *
    * Spark-first: one schema-inference pass defines the parsed struct; path
    * extractions compile to `get_json_object` (codegen'd, distributed with
    * the scan — the per-row flattener never runs on the driver). Path
    * results are STRING columns, like the reference's dimension-coerced
    * values; TransformSpec casts refine them. */
  private def readJsonFlattened(spark: SparkSession, spec: IngestSpec,
      flattenSpecJson: String): DataFrame = {
    import org.json4s._
    import org.apache.spark.sql.types._
    val fsj = org.json4s.jackson.JsonMethods.parse(flattenSpecJson)
    val useDiscovery = (fsj \ "useFieldDiscovery") match {
      case JBool(b) => b
      case _ => true
    }
    val fields: Seq[(String, String, String)] = (fsj \ "fields") match {
      case JArray(fs) => fs.map { f =>
        val tpe = (f \ "type") match { case JString(t) => t.toLowerCase; case _ => "root" }
        val name = (f \ "name") match {
          case JString(n) => n
          case _ => throw new IllegalArgumentException("Missing 'name' in field spec")
        }
        val expr = (f \ "expr") match {
          case JString(e) => e
          case _ if tpe == "root" => name // JSONPathFieldSpec: root defaults expr to name
          case _ => throw new IllegalArgumentException(s"Missing 'expr' for field[$name]")
        }
        (tpe, name, expr)
      }
      case _ => Nil
    }
    fields.collectFirst { case ("jq", n, _) => n }.foreach { n =>
      throw new IllegalArgumentException(
        s"flattenSpec jq field '$n' unsupported (no jackson-jq in this environment); " +
          "use a 'path' JsonPath expression")
    }

    // schema inference pass (plan-time only), then parse each raw line once
    val inferred = spark.read.options(spec.formatOptions - "flattenSpec")
      .json(spec.inputPath).schema
    val raw = spark.read.text(spec.inputPath)
    val parsed = raw.select(col("value"), from_json(col("value"), inferred).as("__j"))

    def isDiscoverable(dt: DataType): Boolean = dt match {
      case _: StructType | _: MapType => false
      case ArrayType(et, _) => !et.isInstanceOf[StructType] && !et.isInstanceOf[MapType]
      case _ => true
    }
    val explicitNames = fields.map(_._2).toSet
    val discovered: Seq[Column] =
      if (!useDiscovery) Nil
      else inferred.fields.toSeq.collect {
        case f if isDiscoverable(f.dataType) && !explicitNames.contains(f.name) =>
          col(s"__j.`${f.name}`").as(f.name)
      }
    val extracted: Seq[Column] = fields.map {
      // a root field absent from every input row (not in the inferred
      // schema) reads as null, like the reference's empty dimension
      case ("root", name, expr) =>
        if (inferred.fieldNames.contains(expr)) col(s"__j.`$expr`").as(name)
        else lit(null).cast("string").as(name)
      case ("path", name, expr) => get_json_object(col("value"), expr).as(name)
      case (t, name, _) =>
        throw new IllegalArgumentException(s"flattenSpec field type '$t' (field $name)")
    }
    parsed.select((discovered ++ extracted): _*)
  }

  /** `protobuf` InputFormat (extensions-core/protobuf-extensions
    * ProtobufInputFormat.java: a binary FileDescriptorSet `descriptorFile`
    * + `protoMessageType` select the schema). Files are read through the
    * binaryFile source; each file holds one message, or — with
    * `delimited=true` — a stream of varint-length-prefixed messages
    * (writeDelimitedTo's convention), which is the multi-record batch
    * layout. The descriptor parses once on the driver; record decode is a
    * Catalyst expression distributed with the scan (ProtobufFormat). */
  private def readProtobuf(spark: SparkSession, spec: IngestSpec): DataFrame = {
    val descPath = spec.formatOptions.getOrElse("descriptorFile",
      throw new IllegalArgumentException("protobuf inputFormat requires a 'descriptorFile' option"))
    val messageType = spec.formatOptions.getOrElse("protoMessageType",
      throw new IllegalArgumentException("protobuf inputFormat requires a 'protoMessageType' option"))
    val delimited = spec.formatOptions.get("delimited").exists(_.toBoolean)
    val descriptor = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(descPath))
    val raw = spark.read.format("binaryFile").load(spec.inputPath)
    def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
      org.apache.spark.sql.graftbridge.CatalystBridge.column(e)
    def e(col: Column) = org.apache.spark.sql.graftbridge.CatalystBridge.expression(col)
    val decoded = c(ProtobufDecode(e(col("content")), descriptor, messageType, delimited))
    if (delimited)
      raw.select(explode(decoded).as("__msg")).select(col("__msg.*"))
    else
      raw.select(decoded.as("__msg")).select(col("__msg.*"))
  }

  /** `regex` InputFormat (core/.../data/input/impl/RegexInputFormat.java +
    * RegexReader.parseLine): each text line must FULLY match `pattern`;
    * capture groups 1..n become the columns (`columns` option, comma-
    * separated; absent → column_1..column_n per ParserUtils
    * .getDefaultColumnName). `listDelimiter` splits groups into multi-value
    * columns; since a Spark column's type is static (the reference's rows
    * are dynamic maps where only delimiter-carrying VALUES become lists),
    * the MV columns are declared by name via `multiValueColumns` and are
    * always array<string> — a 1-element MV is Druid-equivalent to the
    * scalar. Non-matching lines are dropped distributedly — the analog of
    * the reference's ParseException + maxParseExceptions tolerance, minus
    * the task-killing counter. */
  private def readRegex(spark: SparkSession, spec: IngestSpec): DataFrame = {
    val pattern = spec.formatOptions.getOrElse("pattern",
      throw new IllegalArgumentException("regex inputFormat requires a 'pattern' option"))
    val groupCount = java.util.regex.Pattern.compile(pattern).matcher("").groupCount()
    val columns = spec.formatOptions.get("columns") match {
      case Some(cs) => cs.split(",").map(_.trim).toSeq
      case None => (1 to groupCount).map(i => s"column_$i")
    }
    // RegexReader uses matcher.matches() — anchor so rlike/extract agree
    val anchored = s"^(?:$pattern)$$"
    val lines = spark.read.text(spec.inputPath)
      .filter(col("value").rlike(anchored))
    val mvCols = spec.formatOptions.get("multiValueColumns")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val delimiter = spec.formatOptions.get("listDelimiter")
    val extracted = columns.zipWithIndex.map { case (name, i) =>
      val g = regexp_extract(col("value"), anchored, i + 1)
      delimiter match {
        case Some(d) if mvCols.contains(name) =>
          split(g, java.util.regex.Pattern.quote(d)).as(name)
        case _ => g.as(name)
      }
    }
    lines.select(extracted: _*)
  }

  /** TransformSpec + rollup, producing the rows to publish. */
  def prepare(df: DataFrame, spec: IngestSpec): DataFrame = {
    val timed0 = if (spec.timeParseExpr == null) df
                 else df.withColumn(spec.timeColumn, spec.timeParseExpr)
    // missingValue backstops a null/unparseable time (TimestampSpec.java:70)
    val timed = spec.timeMissingValue match {
      case Some(mv) if timed0.columns.contains(spec.timeColumn) =>
        timed0.withColumn(spec.timeColumn,
          coalesce(col(spec.timeColumn), lit(mv).cast("timestamp")))
      case Some(mv) =>
        timed0.withColumn(spec.timeColumn, lit(mv).cast("timestamp"))
      case None => timed0
    }
    val withCols = spec.transforms.foldLeft(timed) { case (d, (n, c)) => d.withColumn(n, c) }
    val filtered0 = if (spec.filter == null) withCols else withCols.filter(spec.filter)
    // DimensionsSpec: explicit inclusion keeps time + the listed dims +
    // transform outputs; exclusions drop discovered columns
    val filtered = {
      val afterInclude =
        if (spec.includeDimensions.isEmpty) filtered0
        else {
          val keep = (spec.timeColumn +: (spec.includeDimensions ++ spec.transforms.map(_._1)))
            .distinct.filter(filtered0.columns.contains)
          filtered0.select(keep.map(col): _*)
        }
      if (spec.excludeDimensions.isEmpty) afterInclude
      else afterInclude.drop(spec.excludeDimensions.filterNot(_ == spec.timeColumn): _*)
    }
    spec.rollup match {
      case None => filtered
      case Some(r) =>
        val aggCols = r.aggregations.map(_.aliased)
        filtered
          .groupBy(r.granularity.bucket(col(spec.timeColumn)).as(spec.timeColumn) +:
            r.dimensions.map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** Write generations, one per datasource key (the reference's broker
    * keys cached results on segment ids, CachingClusteredClient, so a new
    * segment in one datasource leaves every other datasource's entries
    * alone). A key is a qualified root path, bumped by every in-process
    * [[write]] (the INSERT path included) and [[compact]] of it, or a
    * datasource name, bumped by [[registerSpec]]. Every bump also advances
    * `writes`, the generation of [[AnyWrite]]. The façade caches record,
    * per entry, the generations its build read from a snapshot taken
    * before the build ([[readKeys]] names what a plan reads). */
  final case class Generations(byKey: Map[String, Long], writes: Long) {
    /** The generation of `key`: the sum over the keys equal to it or above
      * or below it in the path tree, so a write to a directory also retires
      * the readers of its subdirectories, and the other way round. */
    def of(key: String): Long =
      if (key == AnyWrite) writes
      else byKey.iterator.collect {
        case (k, g) if k == key || k.startsWith(key + "/") || key.startsWith(k + "/") => g
      }.sum
  }

  /** The key of a read no path or name describes (an RDD, a V2 or JDBC
    * relation): every write retires it. */
  private val AnyWrite = "*"

  private val gens =
    new java.util.concurrent.atomic.AtomicReference(Generations(Map.empty, 0L))
  def generations: Generations = gens.get()

  private def bump(key: String): Unit = gens.updateAndGet(g =>
    Generations(g.byKey.updated(key, g.byKey.getOrElse(key, 0L) + 1L), g.writes + 1L))

  def bumpPath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    bump(p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString)
  }

  /** The generation keys a plan reads: the root paths of its file
    * relations, subquery expressions included; local rows read none, and
    * any other leaf reads [[AnyWrite]]. */
  def readKeys(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    plan.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq(AnyWrite)
      }
      // a CTE reference reads what its definition, walked on its own, reads
      case _: LocalRelation | _: OneRowRelation | _: Range | _: CTERelationRef => Nil
      case _: LeafNode => Seq(AnyWrite)
    }.flatten.toSet
  }

  /** Publish: time-chunked + partitioned parquet (the segment layout).
    * segmentGranularity "ALL" puts everything in one eternity chunk (the
    * reference's ALL-granularity segment); `mode` Append adds new segments
    * to an existing datasource, the INSERT DML path. */
  def write(df: DataFrame, spec: IngestSpec, outPath: String,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val chunked =
      if (spec.segmentGranularity.equalsIgnoreCase("all"))
        df.withColumn("__chunk", lit("all"))
      else df.withColumn("__chunk",
        date_format(PeriodGranularity(spec.segmentGranularity).bucket(col(spec.timeColumn)),
          "yyyy-MM-dd'T'HH"))
    val arranged = spec.partitionsSpec match {
      case DynamicPartitions          => chunked
      case HashedPartitions(n, dims)  => chunked.repartition(n, dims.map(col): _*)
      case RangePartitions(n, dims)   => chunked.repartitionByRange(n, dims.map(col): _*)
    }
    arranged.write.mode(mode).partitionBy("__chunk").parquet(outPath)
    bumpPath(df.sparkSession, outPath) // after completion: retires cached reads of it
  }

  def run(spark: SparkSession, spec: IngestSpec, outPath: String): DataFrame = {
    write(prepare(read(spark, spec), spec), spec, outPath)
    // register under both the physical path and the logical datasource name,
    // so segmentMetadata's spec-describing analyses (AGGREGATORS/ROLLUP/
    // TIMESTAMPSPEC) resolve through the name a query actually uses
    registerSpec(outPath, spec)
    spec.dataSource.foreach(registerSpec(_, spec))
    Sources.parquet(spark, outPath)
  }

  /** Compaction (reference: indexing-service CompactionTask; Delta OPTIMIZE
    * analog): rewrite a time-chunked table into ~targetBytes files per
    * chunk, preserving the partition layout. Small-file counts are the main
    * read-amplification cost of streaming ingest at scale. */
  private def localFile(p: String): java.io.File = {
    val path = try Option(new java.net.URI(p).getPath).filter(_.nonEmpty) catch {
      case _: Exception => None
    }
    new java.io.File(path.getOrElse(p))
  }

  def compact(spark: SparkSession, path: String, targetBytes: Long = 256L << 20): Unit = {
    val df = Sources.parquet(spark, path)
    val totalBytes = df.inputFiles.map(f => localFile(f).length).sum
    val nFiles = math.max(1, (totalBytes / targetBytes).toInt)
    val tmp = path.stripSuffix("/") + "__compacting"
    val partitioned = df.columns.contains("__chunk")
    val writer = df.repartition(nFiles).write.mode(SaveMode.Overwrite)
    (if (partitioned) writer.partitionBy("__chunk") else writer).parquet(tmp)
    // atomic-ish swap (a metastore/Delta commit at cluster scale)
    val dir = localFile(path)
    val old = new java.io.File(dir.getParent, dir.getName + "__old")
    dir.renameTo(old)
    localFile(tmp).renameTo(dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(old)
    // cached plans hold the file listing the swap just deleted
    bumpPath(spark, path)
  }

  /** sys.segments-style view (reference: sql/.../schema/SystemSchema —
    * segment inventory over the metadata store): one row per file with
    * size, rows, and the time interval it covers.
    *
    * Sizes come from input_file_block_length() — computed executor-side
    * from the split metadata, so the view works on any Hadoop filesystem
    * (no driver-local file access). A multi-block file contributes one
    * sub-group per block; summing block lengths reassembles the file size.
    */
  def segments(spark: SparkSession, path: String, timeColumn: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Sources.parquet(spark, path)
      .select(col(timeColumn),
        input_file_name().as("segment"),
        input_file_block_start().as("__blk"),
        input_file_block_length().as("__blen"))
      .groupBy(col("segment"), col("__blk"))
      .agg(count(lit(1)).as("rows"),
        min(col(timeColumn)).as("s"), max(col(timeColumn)).as("e"),
        max(col("__blen")).as("blen"))
      .groupBy(col("segment"))
      .agg(sum(col("rows")).as("num_rows"),
        min(col("s")).as("interval_start"),
        max(col("e")).as("interval_end"),
        sum(col("blen")).as("size_bytes"))
      .orderBy(col("segment"))
  }
}
