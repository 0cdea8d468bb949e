package graft

import java.sql.Timestamp
import scala.collection.JavaConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Round-6 golden tranche: CalciteQueryTest.java empty-result and
  * aggregator-default clusters (:3533-:3940, :9282, :11564, :12876) —
  * aggregates over empty slices finalize to null in sql-compatible mode,
  * numeric predicates skip null cells, impossible time filters reduce to
  * zero/empty, and concat grouping nulls whole rows through null inputs.
  *
  * Runs on the lenient child session (Druid coerces `dim2 = 0` to a
  * numeric comparison that null-misses non-numeric strings). */
class CalciteEmptyAndDefaultsGoldenSpec extends SparkSpecBase {

  private lazy val druidSql: SparkSession = {
    val s = GraftSession.configure(spark.newSession())
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("dim1", StringType, false),
      StructField("dim2", StringType, true),
      StructField("dim3", ArrayType(StringType, true), true),
      StructField("m1", FloatType, false), StructField("m2", DoubleType, false),
      StructField("d1", DoubleType, true), StructField("f1", FloatType, true),
      StructField("l1", LongType, true), StructField("cnt", LongType, false)))
    val rows = Seq(
      Row(Timestamp.valueOf("2000-01-01 00:00:00"), "",     "a",   Seq("a", "b"), 1.0f, 1.0,
        1.0, 1.0f, 7L, 1L),
      Row(Timestamp.valueOf("2000-01-02 00:00:00"), "10.1", null,  Seq("b", "c"), 2.0f, 2.0,
        1.7, 0.1f, 325323L, 1L),
      Row(Timestamp.valueOf("2000-01-03 00:00:00"), "2",    "",    Seq("d"),      3.0f, 3.0,
        0.0, 0.0f, 0L, 1L),
      Row(Timestamp.valueOf("2001-01-01 00:00:00"), "1",    "a",   Seq(""),       4.0f, 4.0,
        null, null, null, 1L),
      Row(Timestamp.valueOf("2001-01-02 00:00:00"), "def",  "abc", null,          5.0f, 5.0,
        null, null, null, 1L),
      Row(Timestamp.valueOf("2001-01-03 00:00:00"), "abc",  null,  null,          6.0f, 6.0,
        null, null, null, 1L))
    val df = s.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
    df.createOrReplaceTempView("foo")
    df.createOrReplaceTempView("numfoo")
    s
  }

  private def sql(q: String): Array[Row] = druidSql.sql(q).collect()
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }

  test("testLongPredicateFilterNulls / Double / Float — null cells never match bounds " +
      "(CalciteQueryTest.java:3533, :3554, :3575)") {
    assert(single("SELECT COUNT(*) FROM numfoo WHERE l1 > 3").getLong(0) == 2L)
    assert(single("SELECT COUNT(*) FROM numfoo WHERE d1 > 0").getLong(0) == 2L)
    assert(single("SELECT COUNT(*) FROM numfoo WHERE f1 > 0").getLong(0) == 2L)
  }

  test("testGroupingWithNullInFilter (:3785)") {
    assert(single("SELECT COUNT(*) FROM foo WHERE dim1 IN (NULL)").getLong(0) == 0L)
  }

  test("testTwoExactCountDistincts (:3819)") {
    val r = single("SELECT COUNT(distinct dim1), COUNT(distinct dim2) FROM foo")
    assert((r.getLong(0), r.getLong(1)) == ((6L, 3L)))
  }

  test("testGroupByNothingWithLiterallyFalseFilter (:3895)") {
    val r = single("SELECT COUNT(*), MAX(cnt) FROM foo WHERE 1 = 0")
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("testGroupByNothingWithImpossibleTimeFilter / WithImpossibleTimeFilter (:3920, :3944)") {
    assert(single(
      """SELECT COUNT(*) FROM foo
        |WHERE TIME_FLOOR(__time, 'P1D') = TIMESTAMP '2000-01-02 01:00:00'
        |OR TIME_FLOOR(__time, 'P1D') = TIMESTAMP '2000-01-02 02:00:00'""".stripMargin)
      .getLong(0) == 0L)
    assert(sql(
      """SELECT dim1, COUNT(*) FROM foo
        |WHERE TIME_FLOOR(__time, 'P1D') = TIMESTAMP '2000-01-02 01:00:00'
        |OR TIME_FLOOR(__time, 'P1D') = TIMESTAMP '2000-01-02 02:00:00'
        |GROUP BY 1""".stripMargin).isEmpty)
  }

  test("testTimeseriesEmptyResultsAggregatorDefaultValues — every aggregate nulls on an " +
      "empty slice (:9282)") {
    val r = single(
      """SELECT
        | ANY_VALUE(dim1), ANY_VALUE(l1),
        | EARLIEST(dim1, __time), EARLIEST(l1, __time),
        | LATEST(dim1, __time), LATEST(l1, __time),
        | STRING_AGG(DISTINCT to_json(dim3), '|'),
        | BIT_AND(l1), BIT_OR(l1), BIT_XOR(l1)
        |FROM numfoo WHERE dim2 = 0""".stripMargin)
    (0 until 10).foreach(i => assert(r.isNullAt(i), s"column $i should be null"))
  }

  test("testConcatGroup (:11564)") {
    assert(sql(
      "SELECT CONCAT(dim1, '-', dim1, '_', dim1) as dimX FROM foo GROUP BY 1 ORDER BY 1")
      .map(_.getString(0)).toSeq == Seq(
      "-_", "1-1_1", "10.1-10.1_10.1", "2-2_2", "abc-abc_abc", "def-def_def"))
    val out = sql(
      """SELECT CONCAT(dim1, CONCAT(dim2, 'x'), m2, 9999, dim1) as dimX FROM foo
        |GROUP BY 1 ORDER BY 1 ASC NULLS FIRST""".stripMargin)
      .map(r => Option(r.getString(0))).toSeq
    assert(out == Seq(
      None, Some("1ax4.099991"), Some("2x3.099992"),
      Some("ax1.09999"), Some("defabcx5.09999def")))
  }

  test("testEmptyGroupWithOffsetDoesntInfiniteLoop (:12876)") {
    // Calcite's `GROUP BY ()` is the bare global aggregate in Spark SQL
    assert(sql(
      """SELECT r0.c, r1.c FROM (
        |  SELECT COUNT(*) AS c FROM foo OFFSET 1) AS r0
        |LEFT JOIN (
        |  SELECT COUNT(*) AS c FROM foo) AS r1 ON TRUE LIMIT 10""".stripMargin)
      .isEmpty)
  }
}
