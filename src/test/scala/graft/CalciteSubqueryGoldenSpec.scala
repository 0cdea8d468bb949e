package graft

import java.sql.Timestamp
import scala.collection.JavaConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Round-6 golden tranche: CalciteQueryTest.java subquery clusters —
  * EARLIEST/LATEST/ANY_VALUE finalized inside subqueries (:835-:1160), the
  * exact-count-distinct nested-query rewrites (:6195-:7363), and
  * subquery-as-filter shapes (:10926-:11085).
  *
  * Runs on the lenient (non-ANSI) child session — Druid's CAST of a
  * non-numeric string is null, which the string-EARLIEST sums rely on.
  * Adaptations: EARLIEST/LATEST spell the time column explicitly (the
  * reference binds __time implicitly; its second arg there is
  * maxStringBytes, which has no analog here), and Druid's groupBy-to-topN
  * conversion under a bare LIMIT is spelled with its implicit
  * lexicographic ORDER BY. */
class CalciteSubqueryGoldenSpec extends SparkSpecBase {

  private lazy val druidSql: SparkSession = {
    val s = GraftSession.configure(spark.newSession())
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("dim1", StringType, false),
      StructField("dim2", StringType, true), StructField("m1", FloatType, false),
      StructField("m2", DoubleType, false), StructField("cnt", LongType, false)))
    val rows = Seq(
      Row(Timestamp.valueOf("2000-01-01 00:00:00"), "",     "a",   1.0f, 1.0, 1L),
      Row(Timestamp.valueOf("2000-01-02 00:00:00"), "10.1", null,  2.0f, 2.0, 1L),
      Row(Timestamp.valueOf("2000-01-03 00:00:00"), "2",    "",    3.0f, 3.0, 1L),
      Row(Timestamp.valueOf("2001-01-01 00:00:00"), "1",    "a",   4.0f, 4.0, 1L),
      Row(Timestamp.valueOf("2001-01-02 00:00:00"), "def",  "abc", 5.0f, 5.0, 1L),
      Row(Timestamp.valueOf("2001-01-03 00:00:00"), "abc",  null,  6.0f, 6.0, 1L))
    s.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
      .createOrReplaceTempView("foo")
    s
  }

  private def sql(q: String): Array[Row] = druidSql.sql(q).collect()
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }

  // ---- first/last/any finalized inside subqueries ----

  test("testPrimitiveLatestInSubquery (CalciteQueryTest.java:835)") {
    val r = single(
      """SELECT SUM(val1), SUM(val2), SUM(val3) FROM
        |  (SELECT dim2, LATEST(m1, __time) AS val1, LATEST(cnt, __time) AS val2,
        |          LATEST(m2, __time) AS val3 FROM foo GROUP BY dim2)""".stripMargin)
    assert((r.getDouble(0), r.getLong(1), r.getDouble(2)) == ((18.0, 4L, 18.0)))
  }

  test("testPrimitiveEarliestInSubquery (:886)") {
    val r = single(
      """SELECT SUM(val1), SUM(val2), SUM(val3) FROM
        |  (SELECT dim2, EARLIEST(m1, __time) AS val1, EARLIEST(cnt, __time) AS val2,
        |          EARLIEST(m2, __time) AS val3 FROM foo GROUP BY dim2)""".stripMargin)
    assert((r.getDouble(0), r.getLong(1), r.getDouble(2)) == ((11.0, 4L, 11.0)))
  }

  test("testStringLatestInSubquery / testStringEarliestInSubquery (:937, :988)") {
    assert(single(
      """SELECT SUM(CAST(val AS DOUBLE)) FROM
        |  (SELECT dim2, LATEST(dim1, __time) AS val FROM foo GROUP BY dim2)""".stripMargin)
      .getDouble(0) == 3.0)
    assert(single(
      """SELECT SUM(CAST(val AS DOUBLE)) FROM
        |  (SELECT dim2, EARLIEST(dim1, __time) AS val FROM foo GROUP BY dim2)""".stripMargin)
      .getDouble(0) == 12.1)
  }

  test("testPrimitiveAnyInSubquery / testStringAnyInSubquery (:1048, :1102)") {
    val r = single(
      """SELECT SUM(val1), SUM(val2), SUM(val3) FROM
        |  (SELECT dim2, ANY_VALUE(m1) AS val1, ANY_VALUE(cnt) AS val2,
        |          ANY_VALUE(m2) AS val3 FROM foo GROUP BY dim2)""".stripMargin)
    assert((r.getDouble(0), r.getLong(1), r.getDouble(2)) == ((11.0, 4L, 11.0)))
    assert(single(
      """SELECT SUM(CAST(val AS DOUBLE)) FROM
        |  (SELECT dim2, ANY_VALUE(dim1) AS val FROM foo GROUP BY dim2)""".stripMargin)
      .getDouble(0) == 12.1)
  }

  // ---- exact count distinct through nested queries ----

  test("testExactCountDistinctWithGroupingAndOtherAggregators (:6195)") {
    val out = sql(
      """SELECT dim2, SUM(cnt), COUNT(distinct dim1) FROM foo
        |GROUP BY dim2 ORDER BY 1 ASC NULLS FIRST""".stripMargin)
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (None, 2L, 2L), (Some(""), 1L, 1L), (Some("a"), 2L, 2L), (Some("abc"), 1L, 1L)))
  }

  test("testExactCountDistinctOfSemiJoinResult (:6858)") {
    assert(single(
      """SELECT COUNT(*) FROM (
        |  SELECT DISTINCT dim2 FROM foo
        |  WHERE SUBSTRING(dim2, 1, 1) IN (
        |    SELECT SUBSTRING(dim1, 1, 1) FROM foo WHERE dim1 <> ''
        |  ) AND __time >= '2000-01-01' AND __time < '2002-01-01')""".stripMargin)
      .getLong(0) == 2L)
  }

  test("testExactCountDistinctUsingSubqueryWithWhereToOuterFilter (:7270)") {
    // Druid converts the bare LIMIT 1 groupBy to a lexicographic topN —
    // the implicit ordering is spelled out (null sorts first)
    val r = single(
      """SELECT SUM(cnt), COUNT(*) FROM
        |  (SELECT dim2, SUM(cnt) AS cnt FROM foo GROUP BY dim2
        |   ORDER BY dim2 ASC NULLS FIRST LIMIT 1)
        |WHERE cnt > 0""".stripMargin)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 1L)))
  }

  test("testCompareExactAndApproximateCountDistinctUsingSubquery (:7318)") {
    val r = single(
      """SELECT COUNT(*) AS exact_count, COUNT(DISTINCT dim1) AS approx_count,
        |  (CAST(1 AS FLOAT) - COUNT(DISTINCT dim1) / COUNT(*)) * 100 AS error_pct
        |FROM (SELECT DISTINCT dim1 FROM foo WHERE dim1 <> '')""".stripMargin)
    assert((r.getLong(0), r.getLong(1)) == ((5L, 5L)))
    assert(r.getDouble(2) == 0.0)
  }

  // ---- subqueries as filters ----

  test("testUsingSubqueryAsFilterOnTwoColumns — tuple IN (:10926)") {
    val out = sql(
      """SELECT __time, cnt, dim1, dim2 FROM foo
        |WHERE (dim1, dim2) IN (
        |  SELECT dim1, dim2 FROM (
        |    SELECT dim1, dim2, COUNT(*) FROM foo WHERE dim2 = 'abc'
        |    GROUP BY dim1, dim2 HAVING COUNT(*) = 1))""".stripMargin)
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(out == Seq(
      (Timestamp.valueOf("2001-01-02 00:00:00"), 1L, "def", "abc")))
  }

  test("testUsingSubqueryAsFilterWithInnerSort (:10985)") {
    val out = sql(
      """SELECT dim1, dim2 FROM foo
        |WHERE dim2 IN (SELECT dim2 FROM foo GROUP BY dim2 ORDER BY dim2 DESC)""".stripMargin)
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("", "a"), ("2", ""), ("1", "a"), ("def", "abc")))
  }

  test("testUsingSubqueryWithLimit / WithoutLimit (:11037, :11068)") {
    assert(single("SELECT COUNT(*) AS cnt FROM (SELECT * FROM foo LIMIT 10) tmpA").getLong(0) == 6L)
    assert(single("SELECT COUNT(*) AS cnt FROM (SELECT * FROM foo) tmpA").getLong(0) == 6L)
  }
}
