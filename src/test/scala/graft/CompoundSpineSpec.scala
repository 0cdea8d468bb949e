package graft

import org.apache.spark.sql.functions._
import org.json4s.JString
import graft.operators._

/** Zero-fill spine integrity for compound periods + the literal-fold guard.
  *
  * Compound (P1M15D-style) spines must be generated by ITERATED stepping —
  * the same walk CompoundPeriodFloor buckets with — because `sequence()`
  * computes boundary k as lo + k·step (multiplied calendar addition), which
  * drifts once month-end clamping compounds. With the old sequence-based
  * spine, P1M15D diverged at the 4th boundary (iterated: 1970-01-01 →
  * 02-16 → 03-31 → 05-15; multiplied k=3: 05-16) and the left join silently
  * DROPPED the real 05-15 bucket while fabricating a phantom 05-16 row.
  */
class CompoundSpineSpec extends SparkSpecBase {
  import spark.implicits._

  test("P1M15D zero-fill spine steps iteratively (no dropped/phantom buckets)") {
    // rows exactly on iterated boundaries 1, 2, 3 steps from the origin
    val df = Seq(
      "1970-01-01 00:00:00", // boundary 0
      "1970-05-15 12:00:00", // inside boundary-3 bucket (iterated 05-15)
      "1970-06-30 00:00:00"  // boundary 4
    ).toDF("s").select($"s".cast("timestamp_ntz").as("t"))
    val out = TimeseriesQuery(
      timeColumn = "t",
      granularity = PeriodGranularity("P1M15D"),
      aggregations = Seq(Agg("cnt", count(lit(1))))
    ).run(df).collect()
    val buckets = out.map(_.get(0).toString.substring(0, 10)).toSeq
    // iterated walk from the origin: 01-01, 02-16, 03-31, 05-15, 06-30
    assert(buckets == Seq("1970-01-01", "1970-02-16", "1970-03-31",
      "1970-05-15", "1970-06-30"), s"spine: $buckets")
    val byBucket = out.map(r => r.get(0).toString.substring(0, 10) -> r.getLong(1)).toMap
    assert(byBucket("1970-05-15") == 1L) // the bucket the old spine dropped
    assert(byBucket("1970-02-16") == 0L) // genuinely empty, zero-filled
    assert(byBucket("1970-03-31") == 0L)
    assert(!byBucket.contains("1970-05-16")) // the old phantom
  }

  test("compound spine agrees with CompoundPeriodFloor over explicit intervals") {
    val df = Seq("2024-02-10 00:00:00").toDF("s")
      .select($"s".cast("timestamp_ntz").as("t"))
    val out = TimeseriesQuery(
      timeColumn = "t",
      granularity = PeriodGranularity("P1M30D"),
      aggregations = Seq(Agg("cnt", count(lit(1)))),
      fillIntervals = DruidTime.intervals(JString("2024-01-01T00:00:00/2024-12-31T00:00:00"))
    ).run(df).collect()
    // every spine instant must be a fixpoint of the floor function
    val g = PeriodGranularity("P1M30D")
    val spine = out.map(_.get(0).toString).toSeq
    val refloored = spark.createDataset(spine)
      .select(g.bucket($"value".cast("timestamp")).as("b")).collect().map(_.get(0).toString).toSeq
    assert(spine == refloored, s"spine not floor-stable:\n$spine\n$refloored")
    assert(out.map(_.getLong(1)).sum == 1L)
  }

  test("long fixed-step explicit spine builds from range(), not a folded literal array") {
    // data spans the interval: the spine clips to SEGMENT coverage (the
    // unfiltered datasource bounds), so full-interval fill needs data at
    // both ends — TimeseriesQueryRunnerTest.testFullOnTimeseries semantics
    val df = Seq("1994-01-01 00:00:10", "1994-03-31 23:59:10").toDF("s")
      .select($"s".cast("timestamp_ntz").as("t"))
    val q = TimeseriesQuery(
      timeColumn = "t",
      granularity = PeriodGranularity("PT1M"),
      aggregations = Seq(Agg("cnt", count(lit(1)))),
      // 90 days × 1440 = 129 600 buckets — far past SpineFoldThreshold
      fillIntervals = DruidTime.intervals(JString("1994-01-01T00:00:00/1994-04-01T00:00:00"))
    ).run(df)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Range"), s"expected a Range-based spine:\n${plan.take(2000)}")
    // a folded sequence would embed ~130k literal instants; the plan string
    // staying small is the observable
    assert(plan.length < 100000, s"plan bloated to ${plan.length} chars")
    val rows = q.collect()
    assert(rows.length == 129600, s"bucket count ${rows.length}")
    assert(rows.map(_.getLong(1)).sum == 2L)
  }

  test("short explicit spine keeps the sequence path and exact bucket set") {
    val df = Seq("1994-01-01 00:00:10", "1994-01-31 12:00:00").toDF("s")
      .select($"s".cast("timestamp_ntz").as("t"))
    val rows = TimeseriesQuery(
      timeColumn = "t",
      granularity = PeriodGranularity("P1D"),
      aggregations = Seq(Agg("cnt", count(lit(1)))),
      fillIntervals = DruidTime.intervals(JString("1994-01-01T00:00:00/1994-02-01T00:00:00"))
    ).run(df).collect()
    assert(rows.length == 31)
    assert(rows.map(_.getLong(1)).sum == 2L)
  }
}
