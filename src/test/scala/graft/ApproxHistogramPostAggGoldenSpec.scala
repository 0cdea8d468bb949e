package graft

import org.apache.spark.sql.DataFrame
import graft.operators.NativeQuery

/** ApproximateHistogramAggregationTest.java goldens (extensions-core/
  * histogram): the full histogram post-aggregator family over the
  * reference's shipped sample.data.tsv (5 index values, 8 null rows —
  * the ignoreNulls/SQL-compatible branch): min/max, the Algorithm-4
  * quantile (0.99 → 133.69340 interpolated), the Quantiles object,
  * and the three Histogram renderings — offset-aligned `buckets` with
  * empty-run trimming at cutoff 0.1, explicit `customBuckets`, and
  * `equalBuckets` whose breaks start a bucket-width below min. The
  * ingest-then-query flow is reproduced: per-row approxHistogram state,
  * FOLDED by the query's approxHistogramFold over the binary column. */
class ApproxHistogramPostAggGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val ingested: DataFrame = {
    val tsv = ReferenceFixtures.path("extensions-core/histogram/src/test/resources/sample.data.tsv")
    val raw = spark.read.option("sep", "\t")
      .schema("ts STRING, market STRING, quality STRING, placement STRING, placementish STRING, index DOUBLE")
      .csv(tsv)
      .selectExpr("cast(ts as timestamp_ntz) as __time", "market", "quality", "index")
    // ingest: one approxHistogram state per row (the metricSpec), queried
    // below with approxHistogramFold like the reference's helper
    NativeQuery.run(spark, """{
        "queryType": "groupBy",
        "dataSource": "raw",
        "intervals": ["1970-01-01/2050-01-01"],
        "granularity": "none",
        "dimensions": ["market", "quality"],
        "aggregations": [
          {"type": "approxHistogram", "name": "index_ah", "fieldName": "index",
           "shouldFinalize": false}
        ]
      }""", name => { assert(name == "raw"); raw })
  }

  test("testIngestWithNullsIgnoredAndQuery (:84): min/max/quantile/quantiles/" +
      "buckets/customBuckets/equalBuckets — the reference's exact values") {
    val r = NativeQuery.run(spark, """{
        "queryType": "groupBy",
        "dataSource": "test_datasource",
        "granularity": "ALL",
        "dimensions": [],
        "aggregations": [
          {"type": "approxHistogramFold", "name": "index_ah", "fieldName": "index_ah",
           "shouldFinalize": false}
        ],
        "postAggregations": [
          {"type": "min", "name": "index_min", "fieldName": "index_ah"},
          {"type": "max", "name": "index_max", "fieldName": "index_ah"},
          {"type": "quantile", "name": "index_quantile", "fieldName": "index_ah", "probability": 0.99},
          {"type": "quantiles", "name": "index_quantiles", "fieldName": "index_ah", "probabilities": [0.2, 0.7]},
          {"type": "buckets", "name": "index_buckets", "fieldName": "index_ah", "bucketSize": 2.0, "offset": 4.0},
          {"type": "customBuckets", "name": "index_custom", "fieldName": "index_ah", "breaks": [50.0, 100.0]},
          {"type": "equalBuckets", "name": "index_equal", "fieldName": "index_ah", "numBuckets": 3}
        ],
        "intervals": ["1970/2050"]
      }""", name => { assert(name == "test_datasource"); ingested }).collect()
    assert(r.length == 1)
    val row = r.head
    assert(math.abs(row.getAs[Double]("index_min") - 92.782760) < 0.0001)
    assert(math.abs(row.getAs[Double]("index_max") - 135.109191) < 0.0001)
    assert(math.abs(row.getAs[Double]("index_quantile") - 133.69340) < 0.0001)

    val qs = row.getAs[org.apache.spark.sql.Row]("index_quantiles")
    assert(qs.getSeq[Double](0).map(_.toFloat) == Seq(0.2f, 0.7f))
    val qv = qs.getSeq[Double](1).map(_.toFloat)
    assert(qv == Seq(92.78276f, 103.195305f), qv.mkString(","))
    assert(math.abs(qs.getDouble(2) - 92.78276) < 0.0001)
    assert(math.abs(qs.getDouble(3) - 135.109191) < 0.0001)

    // Histogram{breaks=[92,94,96,98,100,106,108,134,136], counts=[1,1,0,1,0,1,0,1]}
    val hb = row.getAs[org.apache.spark.sql.Row]("index_buckets")
    assert(hb.getSeq[Double](0) == Seq(92.0, 94.0, 96.0, 98.0, 100.0, 106.0, 108.0, 134.0, 136.0),
      hb.getSeq[Double](0).mkString(","))
    assert(hb.getSeq[Double](1) == Seq(1.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0),
      hb.getSeq[Double](1).mkString(","))

    // Histogram{breaks=[50, 100], counts=[3]}
    val hc = row.getAs[org.apache.spark.sql.Row]("index_custom")
    assert(hc.getSeq[Double](0) == Seq(50.0, 100.0))
    assert(hc.getSeq[Double](1) == Seq(3.0))

    // Histogram{breaks=[71.61954, 92.78276, 113.94598, 135.10919], counts=[1,3,1]}
    val he = row.getAs[org.apache.spark.sql.Row]("index_equal")
    val ebreaks = he.getSeq[Double](0).map(_.toFloat)
    assert(ebreaks == Seq(71.61954498291016f, 92.78276062011719f,
      113.94597625732422f, 135.10919189453125f), ebreaks.mkString(","))
    assert(he.getSeq[Double](1) == Seq(1.0, 3.0, 1.0), he.getSeq[Double](1).mkString(","))
  }
}
