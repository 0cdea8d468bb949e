package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Agg, PeriodGranularity}
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{RollupSpec, StreamIngestSpec}

class StreamingIngestSpec extends SparkSpecBase {
  import spark.implicits._

  case class Ev(ts: Timestamp, user: String, value: Double)
  private def t(s: String) = Timestamp.valueOf(s)

  test("rollup-at-ingest aggregates by (window, dims) with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val spec = StreamIngestSpec(
      timeColumn = "ts",
      transforms = Seq("value_cents" -> (col("value") * 100).cast("long")),
      filter = col("user") =!= "bot",
      lateMessageRejectionPeriod = "10 minutes",
      rollup = Some(RollupSpec(PeriodGranularity("PT5M"), Seq("user"),
        Seq(Agg("cnt", count(lit(1))), Agg("sum_cents", sum(col("value_cents")))))))
    val out = StreamingIngest.transform(mem.toDF(), spec)
    val q = out.writeStream.format("memory").queryName("rollup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(t("2024-01-01 00:01:00"), "alice", 1.0),
        Ev(t("2024-01-01 00:02:00"), "alice", 2.0),
        Ev(t("2024-01-01 00:03:00"), "bot", 99.0),   // filtered out
        Ev(t("2024-01-01 00:06:00"), "bob", 3.0))
      q.processAllAvailable()
      // advance watermark far past the first windows so they finalize
      mem.addData(Ev(t("2024-01-01 01:00:00"), "carol", 4.0))
      q.processAllAvailable()
      val rows = spark.table("rollup_out")
        .select("user", "cnt", "sum_cents").as[(String, Long, Long)].collect().toSet
      assert(rows.contains(("alice", 2L, 300L))) // rolled up into one 5-min row
      assert(rows.contains(("bob", 1L, 300L)))
      assert(!rows.exists(_._1 == "bot"))
    } finally q.stop()
  }

  test("late events beyond the watermark are rejected from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val spec = StreamIngestSpec(timeColumn = "ts",
      lateMessageRejectionPeriod = "5 minutes",
      rollup = Some(RollupSpec(PeriodGranularity("PT5M"), Seq("user"),
        Seq(Agg("cnt", count(lit(1)))))))
    val q = StreamingIngest.transform(mem.toDF(), spec)
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      mem.addData(Ev(t("2024-01-01 00:01:00"), "alice", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(t("2024-01-01 02:00:00"), "bob", 1.0)) // watermark → 01:55
      q.processAllAvailable()
      // this event is hours late; its window closed long ago → dropped
      mem.addData(Ev(t("2024-01-01 00:02:00"), "alice", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(t("2024-01-01 04:00:00"), "carol", 1.0)) // flush
      q.processAllAvailable()
      val alice = spark.table("late_out").filter($"user" === "alice")
        .select("cnt").as[Long].collect()
      assert(alice.sameElements(Array(1L))) // late row did not reopen the window
    } finally q.stop()
  }

  test("exactly-once parquet sink commits via checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val spec = StreamIngestSpec(timeColumn = "ts", lateMessageRejectionPeriod = "1 minutes")
    val q = StreamingIngest.sink(StreamingIngest.transform(mem.toDF(), spec),
        s"$dir/data", s"$dir/ckpt", "1 seconds").start()
    try {
      mem.addData(Ev(t("2024-01-01 00:01:00"), "alice", 1.0),
        Ev(t("2024-01-01 00:02:00"), "bob", 2.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/data").count()
      assert(rows == 2)
      assert(new java.io.File(s"$dir/ckpt/offsets").exists()) // offset WAL present
    } finally q.stop()
  }

  test("streamed rollup (pair + sketch metrics) hands off to the rewrite " +
      "catalog: a query over the BASE is answered from the streamed rollup " +
      "after a micro-batch commit (realtime-segment handoff analog)") {
    import graft.plans.RollupRewrite
    import graft.plans.SketchFunctions.{thetaSketch, thetaEstimate}
    import graft.operators.FirstLast
    import graft.functions.FirstLastAgg
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ru").toString
    // the finalized events — the batch "base table" a user would query
    val finalized = Seq(
      Ev(t("2024-01-01 00:01:00"), "alice", 5.0),
      Ev(t("2024-01-01 00:02:30"), "alice", 2.0),
      Ev(t("2024-01-01 00:07:00"), "alice", 9.0),
      Ev(t("2024-01-01 00:03:00"), "bob", 7.0),
      Ev(t("2024-01-01 00:08:00"), "bob", 1.0))
    val basePath = s"$dir/events_base.parquet"
    finalized.map(e => (e.ts, e.user, e.value)).toDF("ts", "user", "value")
      .write.mode("overwrite").parquet(basePath)

    val mem = MemoryStream[Ev]
    val spec = StreamIngestSpec(
      timeColumn = "ts",
      lateMessageRejectionPeriod = "1 minutes",
      rollup = Some(RollupSpec(PeriodGranularity("PT5M"), Seq("user"), Seq(
        Agg("cnt", count(lit(1))),
        Agg("first_pair", FirstLast.firstPair(col("value"), col("ts"))),
        Agg("theta_v", thetaSketch(col("value")))))))
    val rollupPath = s"$dir/rollup"
    val q = StreamingIngest.sink(StreamingIngest.transform(mem.toDF(), spec),
      rollupPath, s"$dir/ckpt", "1 seconds").start()
    val catalog = new RollupRewrite.Catalog
    val refresh = StreamingIngest.handoffToCatalog(spark, q, catalog, rollupPath,
      rollup => RollupRewrite.RollupDef(
        basePath = basePath,
        rollup = rollup,
        dimensions = Set("user"),
        metricMap = Map("value" -> Seq("first" -> "first_pair", "theta" -> "theta_v")),
        countColumn = "cnt",
        timeColumn = Some("ts"),
        granularity = Some(PeriodGranularity("PT5M"))))
    clearRollupRules() // clear any leaked rule
    RollupRewrite.enable(spark, catalog)
    try {
      mem.addData(finalized: _*)
      q.processAllAvailable()
      // flush event far ahead: advances the watermark so the real windows
      // close and commit (its own window stays open, and it is not in the
      // base table either)
      mem.addData(Ev(t("2024-01-01 06:00:00"), "flush", 0.0))
      q.processAllAvailable()
      refresh() // deterministic handoff point (the listener path is async)

      val query = spark.read.parquet(basePath)
        .groupBy($"user")
        .agg(count(lit(1)).as("n"),
          FirstLastAgg.earliest($"value", struct($"ts", $"value")).as("first_v"),
          round(thetaEstimate(thetaSketch($"value"))).cast("long").as("nd_v"))
      val scanned = query.queryExecution.optimizedPlan.collectLeaves().mkString
      assert(scanned.contains("first_pair") && scanned.contains("theta_v"),
        s"base query not answered from the streamed rollup: $scanned")
      val rows = query.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(rows == Set(("alice", 3L, 5.0, 3L), ("bob", 2L, 7.0, 2L)),
        s"streamed-rollup answers differ: $rows")
    } finally {
      q.stop()
      clearRollupRules()
    }
  }

  test("periodToInterval translates ISO periods") {
    assert(StreamingIngest.periodToInterval("PT5M") == "300 seconds")
    assert(StreamingIngest.periodToInterval("P1D") == "86400 seconds")
  }

  test("a streaming rollup window is whole seconds: PT1H stays 3600 seconds, a " +
      "sub-second remainder is rejected instead of truncated") {
    assert(StreamingIngest.periodToInterval("PT1H") == "3600 seconds")
    intercept[IllegalArgumentException](StreamingIngest.periodToInterval("PT1.5S"))
    intercept[IllegalArgumentException](
      StreamingIngest.rollupWindow(PeriodGranularity("PT0.2S")))
  }

  test("streaming dedup drops key repeats within the watermark, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingIngest.dedup(mem.toDF(), "ts", "10 minutes", Seq("user"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(t("2024-01-01 00:01:00"), "alice", 1.0),
        Ev(t("2024-01-01 00:02:00"), "alice", 2.0), // key repeat, later ts → dropped
        Ev(t("2024-01-01 00:03:00"), "bob", 3.0))
      q.processAllAvailable()
      val first = spark.table("dedup_out").select("user").as[String].collect()
      assert(first.sorted.toSeq == Seq("alice", "bob"))
      // far past the watermark horizon the key's state is gone — the same
      // key is admitted again (state eviction, not corpus-forever dedup)
      mem.addData(Ev(t("2024-01-01 02:00:00"), "carol", 4.0)) // advance watermark
      q.processAllAvailable()
      mem.addData(Ev(t("2024-01-01 02:01:00"), "alice", 5.0))
      q.processAllAvailable()
      val users = spark.table("dedup_out").select("user").as[String].collect()
      assert(users.count(_ == "alice") == 2)
    } finally q.stop()
  }

  test("streaming rollup buckets on the batch grid: P1W weeks start on " +
      "Monday like BatchIngest.prepare; calendar periods are rejected") {
    import graft.sources.BatchIngest
    implicit val sqlCtx = spark.sqlContext
    val aggs = Seq(Agg("cnt", count(lit(1))))
    val weekly = Seq(Ev(t("2024-01-07 12:00:00"), "alice", 1.0), // Sunday
      Ev(t("2024-01-08 12:00:00"), "alice", 2.0))                // Monday
    def rendered(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
      df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("user"), col("cnt"))
        .as[(String, String, Long)].collect().toSet
    val batch = rendered(BatchIngest.prepare(
      weekly.map(e => (e.ts, e.user, e.value)).toDF("ts", "user", "value"), BatchIngest.IngestSpec(
      inputPath = "", timeColumn = "ts",
      rollup = Some(BatchIngest.RollupSpec(PeriodGranularity("P1W"), Seq("user"), aggs)))))
    val mem = MemoryStream[Ev]
    val spec = StreamIngestSpec(timeColumn = "ts", lateMessageRejectionPeriod = "1 minutes",
      rollup = Some(RollupSpec(PeriodGranularity("P1W"), Seq("user"), aggs)))
    val q = StreamingIngest.transform(mem.toDF(), spec)
      .writeStream.format("memory").queryName("weekly_out").outputMode("append").start()
    try {
      mem.addData(weekly: _*)
      q.processAllAvailable()
      mem.addData(Ev(t("2024-03-01 00:00:00"), "bob", 1.0)) // closes both weeks
      q.processAllAvailable()
      assert(rendered(spark.table("weekly_out")) == batch)
      assert(batch.size == 2)
    } finally q.stop()

    val monthly = spec.copy(rollup = Some(RollupSpec(PeriodGranularity("P1M"), Seq("user"), aggs)))
    val e = intercept[IllegalArgumentException](StreamingIngest.transform(mem.toDF(), monthly))
    assert(e.getMessage.contains("P1M"))
  }
}
