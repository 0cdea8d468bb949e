package graft

import java.sql.Timestamp
import scala.collection.JavaConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Round-6 golden tranche: CalciteQueryTest.java expression / virtual-column
  * clusters (:4379-:5178, :5447, :5932, :12364-:12429, :12803) — numeric
  * filters over long columns with float literals, expression filtering and
  * grouping through casts, extraction-fn sums, repeated identical virtual
  * expressions, constant virtual columns, and the REGEXP_LIKE literal
  * validation surface.
  *
  * Runs on the lenient child session (Druid string→number casts are null
  * on mismatch; its string→integer cast routes through double, spelled
  * explicitly where Spark's direct parse differs). Druid long/long division
  * spells DIV. */
class CalciteExpressionsGoldenSpec extends SparkSpecBase {

  private lazy val druidSql: SparkSession = {
    val s = GraftSession.configure(spark.newSession())
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("dim1", StringType, false),
      StructField("dim2", StringType, true), StructField("dim5", StringType, false),
      StructField("m1", FloatType, false), StructField("l1", LongType, true),
      StructField("cnt", LongType, false)))
    val rows = Seq(
      Row(Timestamp.valueOf("2000-01-01 00:00:00"), "",     "a",   "aa", 1.0f, 7L, 1L),
      Row(Timestamp.valueOf("2000-01-02 00:00:00"), "10.1", null,  "ab", 2.0f, 325323L, 1L),
      Row(Timestamp.valueOf("2000-01-03 00:00:00"), "2",    "",    "ba", 3.0f, 0L, 1L),
      Row(Timestamp.valueOf("2001-01-01 00:00:00"), "1",    "a",   "ad", 4.0f, null, 1L),
      Row(Timestamp.valueOf("2001-01-02 00:00:00"), "def",  "abc", "aa", 5.0f, null, 1L),
      Row(Timestamp.valueOf("2001-01-03 00:00:00"), "abc",  null,  "ab", 6.0f, null, 1L))
    val df = s.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
    df.createOrReplaceTempView("foo")
    df.createOrReplaceTempView("numfoo")
    s
  }

  private def sql(q: String): Array[Row] = druidSql.sql(q).collect()
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }

  test("testCountStarWithLongColumnFiltersOnFloatLiterals / OnTwoPoints " +
      "(CalciteQueryTest.java:4379, :4459)") {
    assert(single("SELECT COUNT(*) FROM foo WHERE cnt > 1.1 and cnt < 100000001.0").getLong(0) == 0L)
    assert(single("SELECT COUNT(*) FROM foo WHERE cnt = 1 OR cnt = 2").getLong(0) == 6L)
  }

  test("testExpressionFilteringAndGroupingUsingCastToLong — long division spells DIV (:5076)") {
    val out = sql(
      """SELECT CAST(m1 AS BIGINT) DIV 2 * 2 AS v, COUNT(*) FROM foo
        |WHERE CAST(m1 AS BIGINT) DIV 2 * 2 > -1
        |GROUP BY CAST(m1 AS BIGINT) DIV 2 * 2 ORDER BY 1 DESC""".stripMargin)
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((6L, 1L), (4L, 2L), (2L, 2L), (0L, 1L)))
  }

  test("testExpressionFilteringAndGroupingOnStringCastToNumber (:5124)") {
    val out = sql(
      """SELECT CAST(FLOOR(CAST(dim1 AS FLOAT) / 2) * 2 AS FLOAT) AS v, COUNT(*) FROM foo
        |WHERE FLOOR(CAST(dim1 AS FLOAT) / 2) * 2 > -1
        |GROUP BY FLOOR(CAST(dim1 AS FLOAT) / 2) * 2 ORDER BY 1 DESC""".stripMargin)
      .map(r => (r.getFloat(0), r.getLong(1))).toSeq
    assert(out == Seq((10.0f, 1L), (2.0f, 1L), (0.0f, 1L)))
  }

  test("testCountStarWithFilterOnCastedString (:5447)") {
    assert(single("SELECT COUNT(*) FROM foo WHERE CAST(dim1 AS bigint) = 2").getLong(0) == 1L)
  }

  test("testSumOfExtractionFn — Druid string→int casts route through double (:5932)") {
    // Spark's direct string→int parse rejects '10.1'; Druid truncates it to
    // 10, spelled with the intermediate double cast
    assert(single(
      "SELECT SUM(CAST(CAST(SUBSTRING(dim1, 1, 10) AS DOUBLE) AS INTEGER)) FROM foo")
      .getLong(0) == 13L)
  }

  test("testRepeatedIdenticalVirtualExpressionGrouping (:12364)") {
    val r = single(
      """SELECT CASE dim1 WHEN NULL THEN FALSE ELSE TRUE END AS col_a,
        |       CASE dim2 WHEN NULL THEN FALSE ELSE TRUE END AS col_b
        |FROM foo GROUP BY 1, 2""".stripMargin)
    assert((r.getBoolean(0), r.getBoolean(1)) == ((true, true)))
  }

  test("testCountAndAverageByConstantVirtualColumn — Druid integer AVG (:12803)") {
    val r = single(
      """SELECT dim5, COUNT(dim1), CAST(AVG(l1) AS BIGINT) FROM numfoo
        |WHERE dim1 = '10.1' AND l1 = 325323 GROUP BY dim5""".stripMargin)
    assert((r.getString(0), r.getLong(1), r.getLong(2)) == (("ab", 1L, 325323L)))
  }

  test("testValidationErrorNullLiteralIllegal / NonLiteral — REGEXP_LIKE " +
      "rejects null and non-literal patterns like the reference (:12396, :12408)") {
    // the reference's validator REJECTS a NULL or non-literal pattern
    // (RegexpLikeOperatorConversion / the macro's "pattern must be a string
    // literal") — the Druid-contract registration reproduces the rejection
    // rather than Spark's lenient per-row evaluation
    val e1 = intercept[Exception](single("SELECT REGEXP_LIKE('x', NULL)"))
    assert(e1.getMessage.contains("pattern must be a string literal"))
    val e2 = intercept[Exception](
      sql("SELECT REGEXP_LIKE(dim1, dim1) FROM foo WHERE dim1 <> ''"))
    assert(e2.getMessage.contains("pattern must be a string literal"))
  }
}
