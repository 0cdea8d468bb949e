package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.NativeQuery

/** SketchAggregationWithSimpleDataTest.java goldens (extensions-core/
  * datasketches/.../theta): the reference ingests its shipped
  * simple_test_data.tsv (3360 rows: yyyyMMddHH timestamp, product dim,
  * pty_country column rolled into a thetaSketch metric — the
  * simple_test_data_aggregators.json schema, which also builds a sketch of
  * a NON-EXISTING column) into TWO identical segments, then replays its
  * groupBy/timeseries/topN query resources with finalized estimates.
  * Distinct counts are segment-count-invariant, so duplicating the rollup
  * reproduces the two-segment setup exactly. The queries run VERBATIM
  * (simple_test_data_group_by_query.json, timeseries_query.json,
  * topn_query.json, topn_query_sketch_const.json — the last carries a
  * base64 thetaSketchConstant inside its post-aggs).
  */
class SketchSimpleDataGoldenSpec extends SparkSpecBase {

  private def res(file: String): String =
    ReferenceFixtures.path(s"extensions-core/datasketches/src/test/resources/$file")

  private lazy val rollup: DataFrame = {
    val raw = spark.read
      .option("sep", "\t")
      .schema("ts STRING, product STRING, pty_country STRING")
      .csv(res("simple_test_data.tsv"))
      .select(to_timestamp(col("ts"), "yyyyMMddHH").cast("timestamp_ntz").as("__time"),
        col("product"), col("pty_country"))
    // ingest rollup per the aggregators json: per-(hour, product) theta
    // sketches of pty_country + of the non-existing column (empty sketches)
    val one = NativeQuery.run(spark, """{
        "queryType": "groupBy",
        "dataSource": "raw",
        "intervals": ["2014-10-19/2014-10-22"],
        "granularity": "none",
        "dimensions": ["product"],
        "aggregations": [
          {"type": "thetaSketch", "name": "pty_country", "fieldName": "pty_country",
           "shouldFinalize": false},
          {"type": "thetaSketch", "name": "non_existing_col", "fieldName": "non_existing_col",
           "shouldFinalize": false}
        ]
      }""", name => { assert(name == "raw"); raw })
    val two = one.unionAll(one) // the reference's duplicated segment
    two.localCheckpoint()
  }

  private def query(file: String): DataFrame = {
    // the query resources aggregate fieldName "non_existing_col" — present
    // (as an all-empty sketch column) on the rolled-up datasource, exactly
    // like the reference's ingested segments
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(res(file))), java.nio.charset.StandardCharsets.UTF_8)
    NativeQuery.run(spark, json, name => { assert(name == "test_datasource"); rollup })
  }

  test("testSimpleDataIngestAndGpByQuery (:129): 5 products, estimate-asc " +
      "limitSpec; product_3 has 38 distinct countries, the rest 42; set-ops " +
      "of a sketch with itself are identity/empty; the non-existing-column " +
      "sketch finalizes to 0.0") {
    val rows = query("simple_test_data_group_by_query.json").collect()
    assert(rows.length == 5)
    val got = rows.map(r => (
      r.getAs[String]("product"),
      r.getAs[Double]("sketch_count"),
      r.getAs[Double]("sketchEstimatePostAgg"),
      r.getAs[Double]("sketchUnionPostAggEstimate"),
      r.getAs[Double]("sketchIntersectionPostAggEstimate"),
      r.getAs[Double]("sketchAnotBPostAggEstimate"),
      r.getAs[Double]("non_existing_col_validation"))).toSeq
    assert(got == Seq(
      ("product_3", 38.0, 38.0, 38.0, 38.0, 0.0, 0.0),
      ("product_1", 42.0, 42.0, 42.0, 42.0, 0.0, 0.0),
      ("product_2", 42.0, 42.0, 42.0, 42.0, 0.0, 0.0),
      ("product_4", 42.0, 42.0, 42.0, 42.0, 0.0, 0.0),
      ("product_5", 42.0, 42.0, 42.0, 42.0, 0.0, 0.0)), got.mkString("\n"))
  }

  test("testSimpleDataIngestAndTimeseriesQuery (:225): 50 distinct countries " +
      "overall; self set-ops identity; empty-sketch estimate 0.0") {
    val r = query("timeseries_query.json").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Double]("sketch_count") == 50.0)
    assert(row.getAs[Double]("sketchEstimatePostAgg") == 50.0)
    assert(row.getAs[Double]("sketchUnionPostAggEstimate") == 50.0)
    assert(row.getAs[Double]("sketchIntersectionPostAggEstimate") == 50.0)
    assert(row.getAs[Double]("sketchAnotBPostAggEstimate") == 0.0)
    assert(row.getAs[Double]("non_existing_col_validation") == 0.0)
  }

  test("testSimpleDataIngestAndTopNQuery (:255): inverted metric on the " +
      "finalized estimate — product_3 (38) is the minimum") {
    val r = query("topn_query.json").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("product") == "product_3")
    assert(row.getAs[Double]("sketch_count") == 38.0)
    assert(row.getAs[Double]("sketchEstimatePostAgg") == 38.0)
    assert(row.getAs[Double]("sketchUnionPostAggEstimate") == 38.0)
    assert(row.getAs[Double]("sketchIntersectionPostAggEstimate") == 38.0)
    assert(row.getAs[Double]("sketchAnotBPostAggEstimate") == 0.0)
    assert(row.getAs[Double]("non_existing_col_validation") == 0.0)
  }

  test("OldApiSketchAggregationTest.testSimpleDataIngestAndQuery (:99): the " +
      "OLD theta API names (sketchMerge aggregator, sketchEstimate + " +
      "sketchSetOper post-aggs) run the oldapi query resource verbatim — " +
      "50 distinct countries, self set-ops identity, empty sketch 0.0") {
    val r = query("oldapi/old_simple_test_data_group_by_query.json").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Double]("sketch_count") == 50.0)
    assert(row.getAs[Double]("sketchEstimatePostAgg") == 50.0)
    assert(row.getAs[Double]("sketchUnionPostAggEstimate") == 50.0)
    assert(row.getAs[Double]("sketchIntersectionPostAggEstimate") == 50.0)
    assert(row.getAs[Double]("sketchAnotBPostAggEstimate") == 0.0)
    assert(row.getAs[Double]("non_existing_col_validation") == 0.0)
  }

  test("testTopNQueryWithSketchConstant (:286): a base64 thetaSketchConstant " +
      "(2 entries, 1 shared with product_3 / 2 with the others) inside " +
      "estimate and set-op post-aggs; inverted topN ties break dim-ascending") {
    val rows = query("topn_query_sketch_const.json").collect()
    assert(rows.length == 3)
    val got = rows.map(r => (
      r.getAs[String]("product"),
      r.getAs[Double]("sketch_count"),
      r.getAs[Double]("sketchEstimatePostAgg"),
      r.getAs[Double]("sketchEstimatePostAggForSketchConstant"),
      r.getAs[Double]("sketchUnionPostAggEstimate"),
      r.getAs[Double]("sketchIntersectionPostAggEstimate"),
      r.getAs[Double]("sketchAnotBPostAggEstimate"))).toSeq
    assert(got == Seq(
      ("product_3", 38.0, 38.0, 2.0, 39.0, 1.0, 37.0),
      ("product_1", 42.0, 42.0, 2.0, 42.0, 2.0, 40.0),
      ("product_2", 42.0, 42.0, 2.0, 42.0, 2.0, 40.0)), got.mkString("\n"))
  }
}
