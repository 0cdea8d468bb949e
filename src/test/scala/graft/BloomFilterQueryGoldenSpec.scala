package graft

import org.apache.spark.sql.DataFrame
import graft.operators.NativeQuery
import graft.plans.DruidBloomBytes

/** BloomFilterGroupByQueryTest (extensions-core/druid-bloom-filter/src/
  * test/java/org/apache/druid/query/aggregation/bloom/, r16 widening): the
  * bloom AGGREGATOR through groupBy shapes over the module's own
  * sample.data.tsv (13 rows), asserting filter membership on the
  * deserialized reference-format bytes like the suite does:
  *
  *  - testQuery: bloom over `quality` filtered to upfront — mezzanine and
  *    premium test true, entertainment false.
  *  - testNestedQuery: bloom over an inner longSum (13) — testLong(13)
  *    true, testLong(5) false.
  *  - testNestedQueryComplex: bloom over an INNER BLOOM column — the
  *    unfinalized inner aggregate hands filter BYTES to the outer
  *    aggregate, which MERGES them (BloomFilterMergeAggregator).
  *  - testQueryFakeDimension: a field naming a missing column is the
  *    NoopBloomFilterAggregator — a totally EMPTY filter (byte-equal to
  *    new BloomKFilter(1500)), not per-row null adds.
  */
class BloomFilterQueryGoldenSpec extends SparkSpecBase {

  private lazy val table: DataFrame = {
    val tsv = ReferenceFixtures.path("extensions-core/histogram/src/test/resources/sample.data.tsv")
    spark.read.option("sep", "\t")
      .schema("ts STRING, market STRING, quality STRING, placement STRING, placementish STRING, index DOUBLE")
      .csv(tsv)
      .selectExpr("cast(ts as timestamp_ntz) as __time", "market", "quality",
        "placement", "placementish", "index",
        // the ingest metricSpec's count (rollup NONE → 1 per row)
        "cast(1 as long) as count")
  }

  private def run(json: String): DataFrame =
    NativeQuery.run(spark, json, _ => table)

  private def filterOf(df: DataFrame, name: String) =
    DruidBloomBytes.deserialize(
      java.util.Base64.getMimeDecoder.decode(df.head().getAs[String](name)))

  test("testQuery (:99-122): bloom over quality filtered to upfront — " +
      "mezzanine/premium in, entertainment out") {
    val f = filterOf(run(
      """{
        "queryType": "groupBy", "dataSource": "test_datasource",
        "granularity": "ALL", "dimensions": [],
        "filter": {"type": "selector", "dimension": "market", "value": "upfront"},
        "aggregations": [
          {"type": "bloom", "name": "blooming_quality", "field": "quality"}],
        "intervals": ["1970/2050"]
      }"""), "blooming_quality")
    assert(f.testString("mezzanine"))
    assert(f.testString("premium"))
    assert(!f.testString("entertainment"))
  }

  test("testNestedQuery (:124-158): bloom over an inner longSum — " +
      "testLong(13) true, testLong(5) false") {
    val f = filterOf(run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": {
          "queryType": "groupBy", "dataSource": "test_datasource",
          "intervals": ["1970/2050"], "granularity": "ALL",
          "dimensions": [],
          "aggregations": [{"type": "longSum", "name": "innerSum", "fieldName": "count"}]
        }},
        "granularity": "ALL", "dimensions": [],
        "aggregations": [{"type": "bloom", "name": "bloom", "field": "innerSum"}],
        "intervals": ["1970/2050"]
      }"""), "bloom")
    assert(f.testLong(13L))
    assert(!f.testLong(5L))
  }

  test("testNestedQueryComplex (:160-197): the outer bloom MERGES the " +
      "inner query's unfinalized filter bytes") {
    val f = filterOf(run(
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": {
          "queryType": "groupBy", "dataSource": "test_datasource",
          "intervals": ["1970/2050"], "granularity": "ALL",
          "dimensions": [],
          "filter": {"type": "selector", "dimension": "market", "value": "upfront"},
          "aggregations": [{"type": "bloom", "name": "innerBloom", "field": "quality"}]
        }},
        "granularity": "ALL", "dimensions": [],
        "aggregations": [{"type": "bloom", "name": "innerBloom", "field": "innerBloom"}],
        "intervals": ["1970/2050"]
      }"""), "innerBloom")
    assert(f.testString("mezzanine"))
    assert(f.testString("premium"))
    assert(!f.testString("entertainment"))
  }

  test("testQueryFakeDimension (:199-224): a missing field column yields " +
      "the byte-equal EMPTY filter") {
    val got = run(
      """{
        "queryType": "groupBy", "dataSource": "test_datasource",
        "granularity": "ALL", "dimensions": [],
        "filter": {"type": "selector", "dimension": "market", "value": "upfront"},
        "aggregations": [
          {"type": "bloom", "name": "blooming_quality", "field": "nope"}],
        "intervals": ["1970/2050"]
      }""").head().getAs[String]("blooming_quality")
    val empty = java.util.Base64.getEncoder.encodeToString(
      DruidBloomBytes.serialize(new org.apache.hive.common.util.BloomKFilter(1500L)))
    assert(java.util.Base64.getMimeDecoder.decode(got).toSeq ==
      java.util.Base64.getMimeDecoder.decode(empty).toSeq)
  }
}
