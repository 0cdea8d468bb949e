package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The canonical TestIndex fixture shared by the runner-golden suites — the
  * 1209-row druid.sample.numeric.tsv behind TimeseriesQueryRunnerTest /
  * TopNQueryRunnerTest / GroupByQueryRunnerTest (processing/src/test/java/
  * org/apache/druid/segment/TestIndex.java:70-146,
  * QueryRunnerTestHelper.java:94-276). Read from the reference tree AT TEST
  * TIME as data (never copied into the repo).
  *
  * Columns reproduce the reference segment's metric semantics:
  *  - `index` DOUBLE (DoubleSumAggregatorFactory("index", "index") —
  *    TestIndex.java:129,139: the DOUBLE_METRICS family; float32 artifacts
  *    in expected values come from FLOAT aggregators/outputTypes applied at
  *    query time, never from storage);
  *  - `indexMin` — TestIndex's DoubleMin("indexMin", "index") metric: on
  *    the rollup-free sample every row is its own group, so per-row it IS
  *    the index value (TestIndex.java:141), stored DOUBLE;
  *  - `indexMaxPlusTen` — DoubleMax over the ingest-time virtual column
  *    `expr` = "index + 10" with FLOAT output (TestIndex.java:133-144):
  *    +10 computed in double, float-rounded by the vc, stored DOUBLE;
  *  - `quality_uniques` — per-row HyperLogLogCollector bytes
  *    (HyperUniquesAggregatorFactory("quality_uniques", "quality")), so
  *    query-time unions reproduce UNIQUES_9 = 9.019833517963864 exactly;
  *  - `placementish` split on the  list delimiter (multi-value).
  */
object TestIndexFixture {

  def TsvPath: String =
    ReferenceFixtures.path("processing/src/test/resources/druid.sample.numeric.tsv")

  val Uniques9 = 9.019833517963864
  val Uniques2 = 2.000977198748901
  val Uniques1 = 1.0002442201269182

  private var cached: DataFrame = _

  def testIndex(spark: SparkSession): DataFrame = synchronized {
    if (cached == null) {
      import graft.plans.SketchFunctions
      val schema = "ts STRING, market STRING, quality STRING, qualityLong LONG, " +
        "qualityFloat FLOAT, qualityDouble DOUBLE, qualityNumericString STRING, " +
        "longNumericNull LONG, floatNumericNull FLOAT, doubleNumericNull DOUBLE, " +
        "placement STRING, placementish STRING, indexRaw STRING, partial_null_column STRING"
      cached = spark.read.option("sep", "\t").schema(schema).csv(TsvPath)
        .select(
          to_timestamp(col("ts")).cast("timestamp_ntz").as("__time"),
          col("market"), col("quality"), col("qualityLong"), col("qualityFloat"),
          col("qualityDouble"), col("qualityNumericString"), col("longNumericNull"),
          col("floatNumericNull"), col("doubleNumericNull"), col("placement"),
          // multi-value dimension values are SORTED within each row at
          // ingest (the segment's dictionary encoding orders them — the
          // travel rows' raw "tpreferred" reads back as
          // ["preferred","t"] in GroupByQueryRunnerTest
          // .testMultiValueDimensionAsArray's expected vector)
          sort_array(split(col("placementish"), "")).as("placementish"),
          col("indexRaw").cast("double").as("index"),
          col("indexRaw").cast("double").as("indexMin"),
          (col("indexRaw").cast("double") + 10).cast("float").cast("double")
            .as("indexMaxPlusTen"),
          col("partial_null_column"),
          SketchFunctions.hllcOf(col("quality")).as("quality_uniques"))
        .cache()
      cached.count() // materialize once
    }
    cached
  }
}
