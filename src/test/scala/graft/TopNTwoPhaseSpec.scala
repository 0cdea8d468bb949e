package graft

import org.apache.spark.sql.functions._
import graft.operators.NativeQuery
import graft.sources.Sources

/** Two-phase "aggregate the topN metric first"
  * (AggregateTopNMetricFirstAlgorithm.java:47): with a wide aggregator list
  * the engine aggregates ONLY the ranking metric, rank-limits to K surviving
  * dimension values, then broadcast-semi-joins the survivors and computes
  * the remaining aggregators over just those groups. */
class TopNTwoPhaseSpec extends SparkSpecBase {

  private val WideAggJson =
    """{
      "queryType": "topN",
      "dataSource": "lineitem",
      "timeColumn": "l_shipdate",
      "granularity": "all",
      "dimension": "l_suppkey",
      "metric": "revenue",
      "threshold": 5,
      "aggregations": [
        {"type": "doubleSum", "name": "revenue", "fieldName": "l_extendedprice"},
        {"type": "count", "name": "rows"},
        {"type": "longSum", "name": "qty", "fieldName": "l_quantity"},
        {"type": "doubleMin", "name": "min_price", "fieldName": "l_extendedprice"},
        {"type": "doubleMax", "name": "max_price", "fieldName": "l_extendedprice"},
        {"type": "longMin", "name": "min_qty", "fieldName": "l_quantity"},
        {"type": "longMax", "name": "max_qty", "fieldName": "l_quantity"},
        {"type": "doubleSum", "name": "disc", "fieldName": "l_discount"},
        {"type": "doubleSum", "name": "tax", "fieldName": "l_tax"},
        {"type": "cardinality", "name": "nd_part", "fields": ["l_partkey"], "round": true}
      ]
    }"""

  test("a 10-aggregator topN takes the two-phase plan (rank-only aggregate " +
      "-> broadcast LeftSemi -> full aggregate) and returns the same rows " +
      "as the single-phase plan") {
    // the declared twins: the default gate, and the gate unreachable
    val two = SparkEntry.queries("topn_wide_aggs")(spark, sf())
    val single = SparkEntry.queries("topn_wide_aggs_onepass")(spark, sf())

    val planSingle = single.queryExecution.executedPlan.toString
    val planTwo = two.queryExecution.executedPlan.toString
    assert(!planSingle.contains("LeftSemi"),
      "single-phase must not semi-join")
    assert(planTwo.contains("LeftSemi"),
      s"two-phase must semi-join the phase-1 survivors:\n$planTwo")
    assert("BroadcastHashJoin".r.findAllIn(planTwo).nonEmpty,
      "the K survivors must broadcast, never shuffle the fact side")

    val a = single.collect().map(_.toSeq).toSeq
    val b = two.collect().map(_.toSeq).toSeq
    assert(a == b, s"two-phase diverged:\nsingle=$a\ntwo=$b")
    assert(a.size == 5)

    // the native 10-aggregator JSON reaches the same plan at the default gate
    val native = NativeQuery.run(spark, WideAggJson,
      name => Sources.table(spark, sf(), name))
    val planNative = native.queryExecution.executedPlan.toString
    assert(planNative.contains("LeftSemi"),
      s"the native topN must semi-join the phase-1 survivors:\n$planNative")
    assert("BroadcastHashJoin".r.findAllIn(planNative).nonEmpty,
      "the K survivors must broadcast, never shuffle the fact side")
    assert(native.collect().length == 5)
  }

  test("a null dimension group survives the two-phase semi-join (null-safe " +
      "keys) and ranks like the reference's null group") {
    // craft data where the NULL dim group has the top metric
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_topn_null_${System.nanoTime()}"
    spark.range(0, 100)
      .select(
        when(col("id") < 40, lit(null).cast("string"))
          .otherwise(concat(lit("g"), (col("id") % 3).cast("string"))).as("g"),
        lit(1L).as("v"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
          .cast("timestamp_ntz").as("__time"))
      .write.mode("overwrite").parquet(dir)
    // six aggregators: the default two-phase gate
    val df = NativeQuery.run(spark,
      """{
        "queryType": "topN", "dataSource": "t", "granularity": "all",
        "dimension": "g", "metric": "s", "threshold": 2,
        "aggregations": [
          {"type": "longSum", "name": "s", "fieldName": "v"},
          {"type": "count", "name": "rows"},
          {"type": "longMax", "name": "mx", "fieldName": "v"},
          {"type": "longMin", "name": "mn", "fieldName": "v"},
          {"type": "longSum", "name": "s2", "fieldName": "v"},
          {"type": "doubleSum", "name": "ds", "fieldName": "v"}
        ]
      }""", _ => spark.read.parquet(dir))
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "six aggregators must take the two-phase plan")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("g")),
      s"the null group (40 rows) must rank first: ${rows.toSeq}")
    assert(rows(0).getAs[Long]("s") == 40L)
    assert(rows(0).getAs[Long]("rows") == 40L)
  }
}
