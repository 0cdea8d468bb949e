package graft

import java.sql.Timestamp
import scala.collection.JavaConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Round-6 golden tranche: CalciteSelectQueryTest.java (1,859 LoC — scans,
  * constant expressions, VALUES, DISTINCT orderings, limit/offset wrapping).
  *
  * Runs on a child session with ANSI cast errors off — Druid SQL coerces
  * leniently (a malformed cast is null / no-match, Infinity casts clamp), so
  * the Druid-semantic session is the non-ANSI one. Expected rows are the
  * reference's sql-compatible-mode values; ordering adaptations are noted
  * inline (Druid's lexicographic null-first comparator vs Spark's
  * NULLS FIRST/LAST defaults). Fixture = CalciteTests.java:530-611
  * RAW_ROWS1_WITH_NUMERIC_DIMS numeric columns.
  */
class CalciteSelectGoldenSpec extends SparkSpecBase {

  /** Child session sharing the context but with Druid-lenient casts. */
  private lazy val druidSql: SparkSession = {
    val s = GraftSession.configure(spark.newSession())
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("dim1", StringType, false),
      StructField("dim2", StringType, true), StructField("m1", FloatType, false),
      StructField("m2", DoubleType, false),
      StructField("d1", DoubleType, true), StructField("d2", DoubleType, true),
      StructField("f1", FloatType, true), StructField("f2", FloatType, true),
      StructField("l1", LongType, true), StructField("l2", LongType, true),
      StructField("cnt", LongType, false)))
    val rows = Seq(
      Row(Timestamp.valueOf("2000-01-01 00:00:00"), "",     "a",   1.0f, 1.0,
        1.0, null, 1.0f, null, 7L, null, 1L),
      Row(Timestamp.valueOf("2000-01-02 00:00:00"), "10.1", null,  2.0f, 2.0,
        1.7, 1.7, 0.1f, 0.1f, 325323L, 325323L, 1L),
      Row(Timestamp.valueOf("2000-01-03 00:00:00"), "2",    "",    3.0f, 3.0,
        0.0, 0.0, 0.0f, 0.0f, 0L, 0L, 1L),
      Row(Timestamp.valueOf("2001-01-01 00:00:00"), "1",    "a",   4.0f, 4.0,
        null, null, null, null, null, null, 1L),
      Row(Timestamp.valueOf("2001-01-02 00:00:00"), "def",  "abc", 5.0f, 5.0,
        null, null, null, null, null, null, 1L),
      Row(Timestamp.valueOf("2001-01-03 00:00:00"), "abc",  null,  6.0f, 6.0,
        null, null, null, null, null, null, 1L))
    val df = s.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
    df.createOrReplaceTempView("foo")
    df.createOrReplaceTempView("numfoo")
    s
  }

  private def sql(q: String): Array[Row] = druidSql.sql(q).collect()
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }

  // ---- constant expressions / VALUES ----

  test("testSelectConstantExpression — Druid fn without a table (CalciteSelectQueryTest.java:58)") {
    assert(single("SELECT REGEXP_EXTRACT('foo', '^(.)')").getString(0) == "f")
  }

  test("testExpressionContainingNull (:94)") {
    assert(single("SELECT to_json(ARRAY('Hello', NULL))").getString(0) == """["Hello",null]""")
  }

  test("testValuesContainingNull / Multiple / AndIntegerValues (:126, :154, :182)") {
    val r1 = single("SELECT * FROM (VALUES (NULL, 'United States'))")
    assert(r1.isNullAt(0) && r1.getString(1) == "United States")
    val r2 = sql("SELECT * FROM (VALUES (NULL, 'United States'), ('Delhi', 'India'))")
      .map(r => (Option(r.getString(0)), r.getString(1))).toSeq
    assert(r2 == Seq((None, "United States"), (Some("Delhi"), "India")))
    val r3 = sql("SELECT * FROM (VALUES (NULL, 'United States'), (50, 'India'))")
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getString(1))).toSeq
    assert(r3 == Seq((None, "United States"), (Some(50), "India")))
  }

  test("testSelectNonNumericNumberLiterals — Infinity/NaN casts clamp (:210)") {
    // Spark's `/` is null on a zero divisor for every numeric type (Druid
    // evaluates IEEE `1/0.0 = Infinity`), so the non-finite inputs the
    // reference derives from division are spelled as literals; the behavior
    // under test — BIGINT casts clamping to MIN/MAX/0 — matches
    val r = single(
      """SELECT CAST(CAST('Infinity' AS DOUBLE) AS BIGINT),
        |       CAST(CAST('-Infinity' AS DOUBLE) AS BIGINT),
        |       CAST(CAST('NaN' AS DOUBLE) AS BIGINT)""".stripMargin)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((Long.MaxValue, Long.MinValue, 0L)))
  }

  test("testSelectConstantExpressionEquivalentToNaN / Infinity — DEVIATION (:308, :320)") {
    // the reference's planner REJECTS constant NaN/Infinity results
    // ("evaluates to 'NaN' that is not supported in SQL"); this engine's
    // log10(0) yields SQL NULL under lenient mode — both engines refuse to
    // hand back a bare IEEE NaN/Infinity, by different mechanisms
    assert(single("SELECT log10(0) - log10(0)").isNullAt(0))
    assert(single("SELECT log10(0)").isNullAt(0))
  }

  test("testSelectConstantExpressionFromTable (:286)") {
    val r = single("SELECT 1 + 1 AS two, dim1 FROM foo LIMIT 1")
    assert(r.getInt(0) == 2 && r.getString(1) == "")
  }

  // ---- string function families ----

  test("testSelectTrimFamily (:332)") {
    val r = single(
      """SELECT TRIM(BOTH 'x' FROM 'xfoox') c0, TRIM(TRAILING 'x' FROM 'xfoox') c1,
        |TRIM(' ' FROM ' foo ') c2, TRIM(TRAILING FROM ' foo ') c3, TRIM(' foo ') c4,
        |BTRIM(' foo ') c5, BTRIM('xfoox', 'x') c6, LTRIM(' foo ') c7, LTRIM('xfoox', 'x') c8,
        |RTRIM(' foo ') c9, RTRIM('xfoox', 'x') c10, COUNT(*) c11 FROM foo""".stripMargin)
    assert((0 to 10).map(r.getString) == Seq(
      "foo", "xfoo", "foo", " foo", "foo", "foo", "foo", "foo ", "foox", " foo", "xfoo"))
    assert(r.getLong(11) == 6L)
  }

  test("testSelectPadFamily (:380)") {
    val r = single(
      """SELECT LPAD('foo', 5, 'x') c0, LPAD('foo', 2, 'x') c1, LPAD('foo', 5) c2,
        |RPAD('foo', 5, 'x') c3, RPAD('foo', 2, 'x') c4, RPAD('foo', 5) c5, COUNT(*) c6
        |FROM foo""".stripMargin)
    assert((0 to 5).map(r.getString) == Seq("xxfoo", "fo", "  foo", "fooxx", "fo", "foo  "))
    assert(r.getLong(6) == 6L)
  }

  test("testBitwiseExpressions (:416)") {
    def cell(r: Row, i: Int): Option[Any] = if (r.isNullAt(i)) None else Some(r.get(i))
    val out = sql(
      """SELECT BITWISE_AND(l1, l2), BITWISE_OR(l1, l2), BITWISE_XOR(l1, l2),
        |BITWISE_COMPLEMENT(l1), BITWISE_SHIFT_LEFT(l1, 2), BITWISE_SHIFT_RIGHT(l1, 2),
        |BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(d1), BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(l1)
        |FROM numfoo""".stripMargin).map(r => (0 to 7).map(i => cell(r, i)))
    assert(out(0) == Seq(None, None, None, Some(-8L), Some(28L), Some(1L),
      Some(4607182418800017408L), Some(3.5e-323)))
    assert(out(1) == Seq(Some(325323L), Some(325323L), Some(0L), Some(-325324L),
      Some(1301292L), Some(81330L), Some(4610334938539176755L), Some(1.60731e-318)))
    assert(out(2) == Seq(Some(0L), Some(0L), Some(0L), Some(-1L), Some(0L), Some(0L),
      Some(0L), Some(0.0)))
    assert(out.drop(3).forall(_.forall(_.isEmpty)))
  }

  test("testSafeDivideExpressions (:474)") {
    def cell(r: Row, i: Int): Option[Any] = if (r.isNullAt(i)) None else Some(r.get(i))
    val out = sql(
      """SELECT CAST(SAFE_DIVIDE(f1, f2) AS FLOAT), SAFE_DIVIDE(l1, l2),
        |SAFE_DIVIDE(d2, d1), CAST(SAFE_DIVIDE(l1, f1) AS FLOAT)
        |FROM numfoo""".stripMargin).map(r => (0 to 3).map(i => cell(r, i)))
    // row 3 is the reference's 0/0 → 0 case (SafeDivide); rows 4-6 all null
    assert(out(0) == Seq(None, None, None, Some(7.0f)))
    assert(out(1) == Seq(Some(1.0f), Some(1L), Some(1.0), Some(3253230.0f)))
    assert(out(2) == Seq(Some(0.0f), Some(0L), Some(0.0), Some(0.0f)))
    assert(out.drop(3).forall(_.forall(_.isEmpty)))
  }

  // ---- DISTINCT + sort + limit shapes ----

  test("testSelectDistinctWithCascadeExtractionFilter (:603)") {
    val out = sql(
      """SELECT distinct dim1 FROM foo
        |WHERE substring(substring(dim1, 2), 1, 1) = 'e' OR dim2 = 'a' ORDER BY 1""".stripMargin)
      .map(_.getString(0)).toSeq
    assert(out == Seq("", "1", "def"))
  }

  test("testSelectDistinctWithStrlenFilter (:638)") {
    val out = sql(
      """SELECT distinct dim1 FROM foo
        |WHERE CHARACTER_LENGTH(dim1) = 3 OR CAST(CHARACTER_LENGTH(dim1) AS VARCHAR(10)) = 3
        |ORDER BY 1""".stripMargin).map(_.getString(0)).toSeq
    assert(out == Seq("abc", "def"))
  }

  test("testSelectDistinctWithLimit / WithSortAsOuterQuery / 2 (:678, :711, :742)") {
    // Druid plans these as a lexicographic topN — null (smallest) first
    val expected = Seq(None, Some(""), Some("a"), Some("abc"))
    assert(sql("SELECT DISTINCT dim2 FROM foo ORDER BY dim2 LIMIT 10")
      .map(r => Option(r.getString(0))).toSeq == expected)
    assert(sql("SELECT * FROM (SELECT DISTINCT dim2 FROM foo ORDER BY dim2) LIMIT 10")
      .map(r => Option(r.getString(0))).toSeq == expected)
    assert(sql("SELECT * FROM (SELECT DISTINCT dim2 FROM foo ORDER BY dim2 LIMIT 5) LIMIT 10")
      .map(r => Option(r.getString(0))).toSeq == expected)
  }

  test("testSelectDistinctWithSortAsOuterQuery3 — inverted comparator, null first (:773)") {
    // Druid's inverted lexicographic topN emits null (the largest under
    // inversion) first; Spark spells that NULLS FIRST explicitly
    val out = sql(
      "SELECT * FROM (SELECT DISTINCT dim2 FROM foo ORDER BY dim2 DESC NULLS FIRST LIMIT 5) LIMIT 10")
      .map(r => Option(r.getString(0))).toSeq
    assert(out == Seq(None, Some("abc"), Some("a"), Some("")))
  }

  test("testSelectNonAggregatingWithLimitLiterallyZero / ReducedToZero / Aggregating (:804, :830, :855)") {
    assert(sql("SELECT dim2 FROM foo ORDER BY dim2 LIMIT 0").isEmpty)
    assert(sql(
      "SELECT * FROM (SELECT dim2 FROM foo ORDER BY dim2 LIMIT 2 OFFSET 5) OFFSET 2").isEmpty)
    assert(sql(
      "SELECT * FROM (SELECT DISTINCT dim2 FROM foo ORDER BY dim2 LIMIT 2 OFFSET 5) OFFSET 2").isEmpty)
  }

  test("testSelectSingleColumnTwice (:1428)") {
    val out = sql("SELECT dim2 x, dim2 y FROM foo LIMIT 2")
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    assert(out == Seq((Some("a"), Some("a")), (None, None)))
  }

  test("testOrderThenLimitThenFilter (:1825)") {
    val out = sql(
      """SELECT dim1 FROM (SELECT __time, dim1 FROM foo ORDER BY __time DESC LIMIT 4)
        |WHERE dim1 IN ('abc', 'def')""".stripMargin).map(_.getString(0)).toSeq
    assert(out == Seq("abc", "def"))
  }
}
