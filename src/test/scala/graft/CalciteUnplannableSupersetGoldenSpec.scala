package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}

/** CalciteQueryTest's "unplannable" and validation-error corpus. The
  * reference refuses these queries (scan-level sorts on non-time columns,
  * non-equi join conditions, two exact count-distincts); Catalyst plans
  * them, so each case is either a SUPERSET (expected rows computed from
  * the same fixture) or error parity where this engine also rejects.
  */
class CalciteUnplannableSupersetGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option("a"),   1.0f, 1L),
    (ts("2000-01-02 00:00:00"), "10.1", None: Option[String], 2.0f, 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(""),    3.0f, 1L),
    (ts("2001-01-01 00:00:00"), "1",    Option("a"),   4.0f, 1L),
    (ts("2001-01-02 00:00:00"), "def",  Option("abc"), 5.0f, 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[String], 6.0f, 1L)
  ).toDF("__time", "dim1", "dim2", "m1", "cnt")

  private lazy val lookyloo: DataFrame = Seq(
    ("a", "xa"), ("abc", "xabc"), ("nosuchkey", "mysteryvalue"), ("6", "x6")
  ).toDF("k", "v")

  private lazy val registered: Unit = {
    graft.functions.GraftSqlFunctions.register(spark)
    foo.createOrReplaceTempView("foo")
    lookyloo.createOrReplaceTempView("lookyloo")
  }

  private def sql(q: String): Array[Row] = { registered; spark.sql(q).collect() }
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }

  test("testUnplannableQueries — SUPERSET: non-time scan sort (CalciteQueryTest.java)") {
    // the reference: "order by non-time column [dim1 ASC] ... not supported"
    assert(sql("SELECT dim1 FROM foo ORDER BY dim1").map(_.getString(0)).toSeq ==
      Seq("", "1", "10.1", "2", "abc", "def"))
  }

  test("testUnplannableQueries — SUPERSET: NOT_EQUALS join condition") {
    // dim2 <> l.k joins every non-null dim2 against the three other keys
    assert(single(
      """SELECT COUNT(*) FROM foo INNER JOIN lookyloo l ON foo.dim2 <> l.k""")
      .getLong(0) == 13L)
  }

  test("testUnplannableQueries — SUPERSET: GREATER_THAN join condition") {
    assert(single(
      """SELECT COUNT(*) FROM foo
        |INNER JOIN lookyloo l ON CHARACTER_LENGTH(foo.dim2 || l.k) > 3""".stripMargin)
      .getLong(0) == 9L)
  }

  test("testUnplannableTwoExactCountDistincts — SUPERSET: two distincts in one pass") {
    val out = sql(
      """SELECT dim2, COUNT(DISTINCT dim1), COUNT(DISTINCT dim2) FROM foo
        |GROUP BY dim2 ORDER BY dim2 NULLS FIRST""".stripMargin)
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (None, 2L, 0L), (Some(""), 1L, 1L), (Some("a"), 2L, 1L), (Some("abc"), 1L, 1L)))
  }

  test("testCountStarWithTimeFilterUsingStringLiterals — valid literals plan, invalid reject") {
    assert(single(
      "SELECT COUNT(*) FROM foo WHERE __time = TIMESTAMP '2000-01-01 00:00:00'").getLong(0) == 1L)
    assert(single(
      """SELECT COUNT(*) FROM foo WHERE
        |__time = TIMESTAMP '2000-01-01 00:00:00'
        |OR __time = TIMESTAMP '2000-01-01 00:00:00' + INTERVAL '1' DAY""".stripMargin)
      .getLong(0) == 2L)
    // error parity with "_isUnplannable": the malformed literal rejects at
    // analysis (the reference: "Illegal TIMESTAMP constant")
    intercept[Exception](sql(
      """SELECT COUNT(*) FROM foo
        |WHERE __time >= 'z2000-01-01 00:00:00' AND __time < '2001-01-01 00:00:00'""".stripMargin))
  }

  test("testValidationErrorNonLiteralIllegal — non-literal regex pattern rejects like the reference") {
    val e = intercept[Exception](
      single("SELECT COUNT(*) FROM foo WHERE REGEXP_LIKE('x', dim1)"))
    assert(e.getMessage.contains("pattern must be a string literal"))
  }

  test("testValidationErrorWrongTypeLiteral — numeric pattern rejects like the reference") {
    val e = intercept[Exception](single("SELECT REGEXP_LIKE('x', 1)"))
    assert(e.getMessage.contains("pattern must be a string literal"))
  }

  test("testHumanReadableFormatFunctionException — wrong precision type and arity reject") {
    // the string NUMBER argument coerces leniently (documented superset);
    // a string precision and a third argument reject like the reference
    assert(sql("SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT('45678')").length == 1)
    intercept[Exception](sql("SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT(45678, '2')"))
    val e = intercept[Exception](sql("SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT(45678, 2, 1)"))
    assert(e.getMessage.contains("HUMAN_READABLE_BINARY_BYTE_FORMAT"))
  }
}
