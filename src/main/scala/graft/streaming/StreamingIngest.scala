package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.operators.{Agg, PeriodGranularity}

/** Streaming ingestion (SURVEY §2.12, §3.3) re-expressed on Structured
  * Streaming.
  *
  * Reference model (indexing-service/.../seekablestream/
  * SeekableStreamSupervisor.java + KafkaSupervisor.java:80): supervisor tasks
  * own partition ranges, checkpoint offsets atomically with published
  * segments (exactly-once, SequenceMetadata.java), reject events outside
  * [now - lateMessageRejectionPeriod, now + earlyMessageRejectionPeriod],
  * optionally roll up rows at ingest, and make in-flight rows queryable.
  *
  * Spark mapping, 1:1:
  *  - supervisor/tasks       → one streaming query; Kafka partitions map to
  *                             tasks automatically
  *  - offset+segment atomic  → checkpointLocation (WAL offsets + sink commit
  *                             log commit atomically per micro-batch)
  *  - lateMessageRejection   → withWatermark on the event-time column
  *  - rollup at ingest       → windowed groupBy aggregation with watermark
  *  - incremental handoff    → micro-batch commits; readers see each batch
  */
object StreamingIngest {

  /** Ingestion spec distilled from the reference's supervisor + ioConfig. */
  final case class StreamIngestSpec(
      timeColumn: String,
      transforms: Seq[(String, Column)] = Nil,  // TransformSpec derived columns
      filter: Column = null,                     // TransformSpec filter
      lateMessageRejectionPeriod: String = "10 minutes",
      rollup: Option[RollupSpec] = None)

  final case class RollupSpec(
      granularity: PeriodGranularity,
      dimensions: Seq[String],
      aggregations: Seq[Agg])

  /** Kafka source → raw micro-batched DataFrame (value parsed by `schema`).
    * Production entry point; tests drive `transform` with a MemoryStream. */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topic: String,
      schema: StructType): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select(col("r.*"))

  /** The ingest transform chain: TransformSpec (derived columns + filter),
    * late-data watermark, optional rollup. Works on any streaming DataFrame
    * (Kafka, MemoryStream, file source).
    */
  def transform(stream: DataFrame, spec: StreamIngestSpec): DataFrame = {
    val withCols = spec.transforms.foldLeft(stream) { case (d, (n, c)) => d.withColumn(n, c) }
    val filtered = if (spec.filter == null) withCols else withCols.filter(spec.filter)
    val watermarked = filtered.withWatermark(spec.timeColumn, spec.lateMessageRejectionPeriod)
    spec.rollup match {
      case None => watermarked
      case Some(r) =>
        // rollup-at-ingest: pre-aggregated rows keyed by (time bucket, dims),
        // exactly IncrementalIndex rollup=true semantics (IncrementalIndex
        // .java:1163 facts keyed by (truncated time, dims))
        val (width, startTime) = rollupWindow(r.granularity)
        val aggCols = r.aggregations.map(_.aliased)
        watermarked
          .groupBy(window(col(spec.timeColumn), width, width, startTime).as("__window") +:
            r.dimensions.map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .withColumn(spec.timeColumn, col("__window.start"))
          .drop("__window")
    }
  }

  /** Streaming deduplication at ingest: drop repeat deliveries/content by
    * key inside the watermark horizon — `withWatermark` +
    * `dropDuplicates(keys)`, the Structured Streaming construction whose
    * per-key state is GARBAGE-COLLECTED as the watermark passes, so state
    * stays bounded at any stream length (the unbounded-state trap of a bare
    * dropDuplicates). The keys are typically a content hash
    * (TextFunctions.contentFingerprint) or an event id; pair with the
    * exactly-once sink for end-to-end dedup from an at-least-once source
    * (the reference reaches the same outcome via kafka-offset idempotence +
    * rollup of identical rows). Key-only dedup — a re-delivery with a
    * different timestamp still drops — via dropDuplicatesWithinWatermark. */
  def dedup(stream: DataFrame, timeColumn: String, delay: String,
      keyCols: Seq[String]): DataFrame =
    stream.withWatermark(timeColumn, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The event-time window (width, startTime) of a rollup granularity, on
    * the grid of the batch bucket `PeriodGranularity.bucket`: fixed-width
    * UTC periods tumble from the epoch, and exactly P1W starts 4 days later
    * (the epoch is a Thursday) so its weeks start on Monday. window() needs
    * a fixed length in whole seconds, so calendar periods (months,
    * quarters, years, and compound periods carrying months), sub-second
    * remainders, origins and zones are rejected rather than approximated. */
  private[graft] def rollupWindow(g: PeriodGranularity): (String, String) = {
    if (g.origin != null || g.timeZone != null)
      throw new IllegalArgumentException(s"streaming rollup granularity $g: " +
        "only UTC periods without an origin bucket like batch ingestion")
    (periodToInterval(g.period),
      if (graft.functions.TimeFunctions.isOneWeek(g.period)) "4 days" else "0 seconds")
  }

  private[graft] def periodToInterval(period: String): String = {
    val p = graft.functions.TimeFunctions.periodParts(period)
    require(p.months == 0 && p.fixedMillis % 1000 == 0,
      s"streaming rollup needs a fixed width in whole seconds: $period")
    s"${p.fixedMillis / 1000} seconds"
  }

  /** Exactly-once sink: parquet/delta-style files + checkpoint. The
    * checkpoint directory carries offsets and the sink commit log — the
    * analog of Druid publishing segments atomically with consumer offsets. */
  def sink(transformed: DataFrame, outPath: String, checkpointPath: String,
      triggerInterval: String = "10 seconds"): DataStreamWriter[Row] =
    transformed.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerInterval))

  /** Streamed-rollup HANDOFF to the query path: register the parquet rollup
    * a streaming query writes into a [[graft.plans.RollupRewrite.Catalog]],
    * re-snapshotting after every committed micro-batch — a parquet DataFrame
    * pins its file listing at creation, so each commit re-reads the path to
    * expose the new files. Aggregates over `mkDef`'s base table are then
    * answered from the streamed rollup, exactly the reference's
    * realtime-segment story (in-flight segments are queryable through the
    * same toolchest merge as historical ones; SeekableStreamIndexTask's
    * incremental handoff).
    *
    * Returns the refresh thunk: the streaming listener calls it after every
    * progress event (async); callers that need a deterministic handoff
    * point (tests, a synchronous publish step) can invoke it directly after
    * `processAllAvailable()`.
    */
  def handoffToCatalog(spark: SparkSession, query: StreamingQuery,
      catalog: graft.plans.RollupRewrite.Catalog, rollupPath: String,
      mkDef: DataFrame => graft.plans.RollupRewrite.RollupDef): () => Unit = {
    def refresh(): Unit =
      try catalog.replace(mkDef(spark.read.parquet(rollupPath)))
      catch { case scala.util.control.NonFatal(_) => () } // no files committed yet
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.id == query.id) refresh()
      // self-unregister when the stream ends — the catalog keeps the last
      // committed snapshot (a terminated realtime task's published segments
      // stay queryable)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) spark.streams.removeListener(this)
    }
    spark.streams.addListener(listener)
    refresh()
    refresh _
  }

  /** End-to-end convenience: Kafka → transform → exactly-once parquet.
    * Registers as a `sys.supervisors` entry (the reference's kafka
    * supervisor ≈ one Structured Streaming query). */
  def run(spark: SparkSession, bootstrapServers: String, topic: String,
      schema: StructType, spec: StreamIngestSpec, outPath: String,
      checkpointPath: String): StreamingQuery = {
    val q = sink(transform(fromKafka(spark, bootstrapServers, topic, schema), spec),
      outPath, checkpointPath).start()
    graft.server.SystemSchema.registerSupervisor(graft.server.SystemSchema.SupervisorEntry(
      id = topic, supervisorType = "kafka", source = topic,
      spec = s"""{"type":"kafka","topic":"$topic","bootstrapServers":"$bootstrapServers","outPath":"$outPath"}"""))
    q
  }
}
