package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{Agg, PeriodGranularity, TimeseriesQuery}
import graft.sources.BatchIngest
import graft.streaming.StreamingIngest

/** ingest_rollup: setup writes seed-generated JSON events (a timestamp,
  * eight string dimensions with Zipf-skewed values, four integer metrics)
  * as time-ordered files. Each pass ingests them twice, through BatchIngest
  * with HOUR rollup into DAY segments and through StreamingIngest.transform
  * over a file source (Trigger.AvailableNow, one file per micro-batch) into
  * a parquet sink, then reads both results back. This is the write path:
  * no other workload puts the sources and streaming layers under volume. */
object IngestRollup extends Workload {
  val name = "ingest_rollup"
  val Events = 60000
  val Files = 2
  val Hours = 48

  private val aggs = Seq(Agg("events", count(lit(1))), Agg("clicks", sum(col("clicks"))),
    Agg("bytes", sum(col("bytes"))), Agg("latency_ms", sum(col("latency_ms"))),
    Agg("score_max", max(col("score"))))

  private val schema = StructType(StructField("ts", StringType) +:
    (Gen.EventDims.map(d => StructField(d, StringType)) ++
      Seq("clicks", "bytes", "latency_ms", "score").map(m => StructField(m, LongType))))

  final class State(val input: File, val events: Int, val inputBytes: Long,
      val perHour: Map[Long, Array[Long]]) {
    var readS = 0.0; var writeS = 0.0
    var rollupRatio = 0.0; var storedPerInput = 0.0; var files = 0.0
    val batchS = collection.mutable.ArrayBuffer[Double]()
    val streamS = collection.mutable.ArrayBuffer[Double]()
  }

  def setup(ctx: Ctx, prepared: AnyRef, dir: File): AnyRef = {
    val input = new File(dir, "input")
    val (bytes, perHour) = Gen.events(input, ctx.seed, Events, Files, Hours)
    new State(input, Events, bytes, perHour)
  }

  /** One pass over 2,000 events in two files. */
  override def warmUp(ctx: Ctx, state: AnyRef): Unit = {
    val input = new File(state.asInstanceOf[State].input.getParentFile, "warm-input")
    val (bytes, perHour) = Gen.events(input, ctx.seed + 1, 2000, 2, Hours)
    val c = scratch(ctx)
    pass(c, new State(input, 2000, bytes, perHour), -1)
    requireClean(c)
    Gen.deleteTree(input)
  }

  override def teardown(ctx: Ctx, state: AnyRef): Unit =
    Gen.deleteTree(state.asInstanceOf[State].input.getParentFile)

  def pass(ctx: Ctx, state: AnyRef, index: Int): Unit = {
    val st = state.asInstanceOf[State]
    val spark = ctx.spark
    val out = ctx.dir(s"ingest-pass$index")
    val batchOut = new File(out, "batch").getPath
    val streamOut = new File(out, "stream").getPath
    val spec = BatchIngest.IngestSpec(inputPath = st.input.getPath, inputFormat = "json",
      timeParseExpr = to_timestamp(col("ts")), segmentGranularity = "P1D",
      rollup = Some(BatchIngest.RollupSpec(PeriodGranularity("PT1H"), Gen.EventDims, aggs)),
      dataSource = Some("ingest_events"))

    val batchOk = op(ctx, s"p$index.batch") { id =>
      val t0 = System.nanoTime()
      val raw = ctx.layer("sources.read", id)(BatchIngest.read(spark, spec))
      val t1 = System.nanoTime()
      ctx.layer("sources.write", id) {
        BatchIngest.write(BatchIngest.prepare(raw, spec), spec, batchOut)
        BatchIngest.registerSpec(batchOut, spec)
        spec.dataSource.foreach(BatchIngest.registerSpec(_, spec))
      }
      if (ctx.tracer.enabled) { st.readS += (t1 - t0) / 1e9; st.writeS += (System.nanoTime() - t1) / 1e9 }
      None
    }
    batchOk.foreach(st.batchS += _)

    val streamOk = op(ctx, s"p$index.stream") { id =>
      ctx.layer("streaming", id) {
        val source = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(st.input.getPath)
        val spec = StreamingIngest.StreamIngestSpec(timeColumn = "__time",
          transforms = Seq("__time" -> to_timestamp(col("ts"))),
          rollup = Some(StreamingIngest.RollupSpec(PeriodGranularity("PT1H"), Gen.EventDims, aggs)))
        val q = StreamingIngest.sink(StreamingIngest.transform(source, spec), streamOut,
          new File(out, "checkpoint").getPath).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.exception.map(e => s"stream failed: ${e.getMessage}".take(300))
      }
    }
    streamOk.foreach(st.streamS += _)

    if (batchOk.isDefined && streamOk.isDefined) op(ctx, s"p$index.readback") { id =>
      val (batch, stream) = ctx.layer("exec", id)(
        (hourly(spark.read.parquet(batchOut)), hourly(spark.read.parquet(streamOut))))
      if (ctx.tracer.enabled) measureOutput(ctx, st, batchOut)
      check(st, batch, stream)
    }
    Gen.deleteTree(out)
  }

  /** Times one operation; `body` returns None or what went wrong. Returns
    * the seconds it took when it succeeded. */
  private def op(ctx: Ctx, id: String)(body: String => Option[String]): Option[Double] = {
    ctx.spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val result = try ctx.tracer.span("op", id)(body(id))
      catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val ms = (System.nanoTime() - t0) / 1e6
    ctx.spark.sparkContext.clearJobGroup()
    result match {
      case Some(why) => ctx.outcomes.fail(id, why); None
      case None => ctx.outcomes.ok("op", id, ms); Some(ms / 1e3)
    }
  }

  /** Per-hour (events, clicks, bytes, latency_ms) of an ingested table, read
    * back through a graft timeseries query. */
  private def hourly(df: DataFrame): Map[Long, Seq[Long]] =
    TimeseriesQuery(timeColumn = "__time", granularity = PeriodGranularity("PT1H"), skipEmptyBuckets = true,
      aggregations = Seq("events", "clicks", "bytes", "latency_ms").map(m => Agg(m, sum(col(m)))))
      .run(df).collect().map { r =>
        epochSeconds(r.get(r.fieldIndex("__time"))) -> Seq("events", "clicks", "bytes", "latency_ms")
          .map(m => r.getAs[Long](m))
      }.toMap

  private def epochSeconds(v: Any): Long = v match {
    case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
    case t: java.sql.Timestamp => t.getTime / 1000
    case t: java.time.Instant => t.getEpochSecond
    case other => throw new IllegalStateException(s"unexpected time value $other")
  }

  /** The batch result must hold every event, hour by hour as generated;
    * every hour the stream has emitted must equal the batch's hour. */
  private def check(st: State, batch: Map[Long, Seq[Long]], stream: Map[Long, Seq[Long]]): Option[String] = {
    val total = batch.values.map(_.head).sum
    if (total != st.events) Some(s"batch rollup holds $total events, generated ${st.events}")
    else st.perHour.collectFirst {
      case (h, want) if batch.get(h).forall(_ != want.toSeq) =>
        s"batch hour $h is ${batch.get(h)}, generated ${want.toSeq}"
    }.orElse(if (stream.isEmpty) Some("the stream emitted no hour") else None)
      .orElse(stream.collectFirst {
        case (h, got) if !batch.get(h).contains(got) => s"streamed hour $h is $got, batch has ${batch.get(h)}"
      })
  }

  private def measureOutput(ctx: Ctx, st: State, batchOut: String): Unit = {
    val files = Option(new File(batchOut).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
    st.files += files.size
    st.storedPerInput += files.map(_.length).sum.toDouble / st.inputBytes
    st.rollupRatio += ctx.spark.read.parquet(batchOut).count().toDouble / st.events
  }

  override def layerFigures(ctx: Ctx, state: AnyRef, tracedPasses: Int,
      jobs: Seq[SparkProbe.Job]): Map[String, Double] = {
    val st = state.asInstanceOf[State]
    val n = tracedPasses.toDouble
    Map("sources.read_s" -> st.readS / n, "sources.write_s" -> st.writeS / n,
      "sources.rollup_ratio" -> st.rollupRatio / n,
      "sources.bytes_stored_per_input_byte" -> st.storedPerInput / n,
      "sources.files_written" -> st.files / n)
  }

  override def notes(ctx: Ctx, state: AnyRef, m: Measured): Seq[(String, Double, String)] = {
    val st = state.asInstanceOf[State]
    def rate(s: Seq[Double]) = if (s.isEmpty) Double.NaN else Events / Stats.median(s) / ctx.cores
    Seq(("ingest_rows_per_s_core", rate(st.batchS.toSeq), "rows/s/core"),
      ("stream_rows_per_s_core", rate(st.streamS.toSeq), "rows/s/core"),
      ("events", Events.toDouble, "count"), ("input_bytes", st.inputBytes.toDouble, "bytes"))
  }
}
