package graft

import java.sql.Timestamp
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}

/** CalciteQueryTest UNION ALL table-mapping golden tranche (reference:
  * sql/src/test/.../calcite/CalciteQueryTest.java:2521-3060).
  *
  * The reference can only union SIMPLE table scans with identical column
  * names/types (its UnionDataSource is a physical segment concat), so half
  * this corpus asserts "unplannable". Spark unions by position at the plan
  * level, so those cases are SUPERSETS here: the expected rows below are
  * computed from the same fixtures under positional-union semantics and
  * labeled as such. Column-count and array/long type mismatches remain
  * errors in both engines (error parity).
  */
class CalciteUnionGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option("a"),   Option(Seq("a", "b")), 1.0f, 1.0, 1L),
    (ts("2000-01-02 00:00:00"), "10.1", None: Option[String], Option(Seq("b", "c")), 2.0f, 2.0, 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(""),    Option(Seq("d")), 3.0f, 3.0, 1L),
    (ts("2001-01-01 00:00:00"), "1",    Option("a"),   Option(Seq("")),  4.0f, 4.0, 1L),
    (ts("2001-01-02 00:00:00"), "def",  Option("abc"), None: Option[Seq[String]], 5.0f, 5.0, 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[String], None: Option[Seq[String]], 6.0f, 6.0, 1L)
  ).toDF("__time", "dim1", "dim2", "dim3", "m1", "m2", "cnt")

  // numfoo shares foo's core but carries extra dims → a different column count
  private lazy val numfoo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option("a"),   "a", "aa", 1.0f, 1.0, 1L),
    (ts("2000-01-02 00:00:00"), "10.1", None: Option[String], "a", "ab", 2.0f, 2.0, 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(""),    "a", "ba", 3.0f, 3.0, 1L),
    (ts("2001-01-01 00:00:00"), "1",    Option("a"),   "b", "ad", 4.0f, 4.0, 1L),
    (ts("2001-01-02 00:00:00"), "def",  Option("abc"), "b", "aa", 5.0f, 5.0, 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[String], "b", "ab", 6.0f, 6.0, 1L)
  ).toDF("__time", "dim1", "dim2", "dim4", "dim5", "m1", "m2", "cnt")

  // RAW_ROWS2 (CalciteTests.java:614) — dim3 is a LONG here, not an array
  private lazy val foo2: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "דרואיד", "he", 10L, 1.0f),
    (ts("2000-01-01 00:00:00"), "druid",  "en", 11L, 1.0f),
    (ts("2000-01-01 00:00:00"), "друид",  "ru", 12L, 1.0f)
  ).toDF("__time", "dim1", "dim2", "dim3", "m1")

  private lazy val registered: Unit = {
    foo.createOrReplaceTempView("foo")
    numfoo.createOrReplaceTempView("numfoo")
    foo2.createOrReplaceTempView("foo2")
  }

  private def sql(q: String): Array[Row] = { registered; spark.sql(q).collect() }
  private def grouped(q: String): Seq[(String, String, Double, Long)] =
    sql(q).map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq

  test("testUnionAllQueriesWithLimit (CalciteQueryTest.java:2553)") {
    val out = sql(
      """SELECT * FROM (
        |SELECT COUNT(*) FROM foo UNION ALL SELECT SUM(cnt) FROM foo UNION ALL SELECT COUNT(*) FROM foo
        |) LIMIT 2""".stripMargin).map(_.getLong(0)).toSeq
    assert(out == Seq(6L, 6L))
  }

  test("testJoinUnionAllDifferentTablesWithMapping (:2622)") {
    val out = grouped(
      """SELECT dim1, dim2, SUM(m1), COUNT(*)
        |FROM (SELECT dim1, dim2, m1 FROM foo UNION ALL SELECT dim1, dim2, m1 FROM numfoo)
        |WHERE dim2 = 'a' OR dim2 = 'def'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
    assert(out == Seq(("", "a", 2.0, 2L), ("1", "a", 8.0, 2L)))
  }

  test("testUnionAllSameTableTwice / WithSameMapping (:2793, :2835)") {
    for (branch <- Seq("SELECT * FROM foo", "SELECT * FROM foo")) {
      val out = grouped(
        s"""SELECT dim1, dim2, SUM(m1), COUNT(*)
           |FROM ($branch UNION ALL $branch)
           |WHERE dim2 = 'a' OR dim2 = 'def'
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      assert(out == Seq(("", "a", 2.0, 2L), ("1", "a", 8.0, 2L)))
    }
  }

  test("testUnionAllSameTableThreeTimes / WithSameMapping (:2892, :3007)") {
    val out = grouped(
      """SELECT dim1, dim2, SUM(m1), COUNT(*)
        |FROM (SELECT * FROM foo UNION ALL SELECT * FROM foo UNION ALL SELECT * FROM foo)
        |WHERE dim2 = 'a' OR dim2 = 'def'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
    assert(out == Seq(("", "a", 3.0, 3L), ("1", "a", 12.0, 3L)))
  }

  test("testUnionAllSameTableTwiceWithDifferentMapping — SUPERSET: positional union (:2877)") {
    // the reference refuses (column names differ between branches); the
    // positional union keeps the first branch's names, so the second
    // branch contributes its (dim2, dim1) pair swapped
    val out = grouped(
      """SELECT dim1, dim2, SUM(m1), COUNT(*)
        |FROM (SELECT dim1, dim2, m1 FROM foo UNION ALL SELECT dim2, dim1, m1 FROM foo)
        |WHERE dim2 = 'a' OR dim2 = 'def'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
    assert(out == Seq(("", "a", 1.0, 1L), ("1", "a", 4.0, 1L), ("abc", "def", 5.0, 1L)))
  }

  test("testUnionAllTablesWhenMappingIsRequired — SUPERSET: aliased branches (:2750)") {
    val out = sql(
      """SELECT c, COUNT(*)
        |FROM (SELECT dim1 AS c, m1 FROM foo UNION ALL SELECT dim2 AS c, m1 FROM numfoo)
        |WHERE c = 'a' OR c = 'def'
        |GROUP BY 1 ORDER BY 1""".stripMargin).map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 2L), ("def", 1L)))
  }

  test("testUnionAllTablesWhenCastAndMappingIsRequired — SUPERSET: long widens to string (:2777)") {
    // Druid-lenient session: the ANSI union coercion picks BIGINT (and then
    // refuses dim1=''); the lenient one widens the long branch to STRING,
    // matching Druid's string-dimension coercion direction
    val lenient = GraftSession.configure(spark.newSession())
    lenient.createDataFrame(foo.collectAsList(), foo.schema).createOrReplaceTempView("foo")
    lenient.createDataFrame(numfoo.collectAsList(), numfoo.schema).createOrReplaceTempView("numfoo")
    val out = lenient.sql(
      """SELECT c, COUNT(*)
        |FROM (SELECT dim1 AS c, m1 FROM foo UNION ALL SELECT cnt AS c, m1 FROM numfoo)
        |WHERE c = 'a' OR c = 'def'
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("def", 1L)))
  }

  test("testUnionIsUnplannable — SUPERSET: UNION distinct is supported (:2766)") {
    val out = sql("SELECT dim2, dim1, m1 FROM foo2 UNION SELECT dim1, dim2, m1 FROM foo")
    assert(out.length == 9)
  }

  test("testUnionAllTablesColumnTypeMismatchStringLong — error parity (:2734)") {
    // foo.dim3 is an array, foo2.dim3 a long: both engines refuse the union
    val e = intercept[AnalysisException](sql(
      """SELECT dim3, dim2, SUM(m1), COUNT(*)
        |FROM (SELECT dim3, dim2, m1 FROM foo2 UNION ALL SELECT dim3, dim2, m1 FROM foo)
        |WHERE dim2 = 'a' OR dim2 = 'en'
        |GROUP BY 1, 2""".stripMargin))
    assert(e.getMessage.contains("INCOMPATIBLE_COLUMN_TYPE"))
  }

  test("testUnionAllThreeTablesColumnCountMismatch1/2/3 — error parity (:2935, :2959, :2983)") {
    for (from <- Seq(
      "SELECT * FROM numfoo UNION ALL SELECT * FROM foo UNION ALL SELECT * FROM foo",
      "SELECT * FROM foo UNION ALL SELECT * FROM numfoo UNION ALL SELECT * FROM foo",
      "SELECT * FROM foo UNION ALL SELECT * FROM foo UNION ALL SELECT * FROM numfoo")) {
      val e = intercept[AnalysisException](sql(
        s"""SELECT dim1, dim2, SUM(m1), COUNT(*)
           |FROM ($from)
           |WHERE dim2 = 'a' OR dim2 = 'def'
           |GROUP BY 1, 2""".stripMargin))
      assert(e.getMessage.contains("NUM_COLUMNS_MISMATCH"))
    }
  }
}
