package graft

import java.sql.Timestamp
import scala.collection.JavaConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Round-7 golden tranche: the remaining uncovered reference cases across
  * CalciteSelectQueryTest (VALUES rows, limit-wrapping-over-offset,
  * zero-row reductions, projection over inner DESC limits, view
  * select-star), CalciteSimpleQueryTest (dim+time groupBy orderings),
  * CalciteArraysQueryTest / CalciteMultiValueStringQueryTest (non-literal
  * array membership, MV_TO_ARRAY scalar coercions, legacy null-MV
  * homogenization).
  *
  * Porting rules are the standing ones (sql-compatible null mode; Druid's
  * implicit MV unnesting spelled as explicit LATERAL VIEW/explode; MV cells
  * rendered via to_json; OUTER_LIMIT query contexts spelled as an explicit
  * outer LIMIT, which is how a context cap reaches this engine).
  * Fixture foo = CalciteTests.java RAW_ROWS1; forbiddenDatasource =
  * CalciteTests.java:662 FORBIDDEN_ROWS.
  */
class CalciteRound7GoldenSpec extends SparkSpecBase {

  private lazy val druidSql: SparkSession = {
    val s = GraftSession.configure(spark.newSession())
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("cnt", LongType, false),
      StructField("dim1", StringType, false), StructField("dim2", StringType, true),
      StructField("dim3", ArrayType(StringType, true), true),
      StructField("m1", FloatType, false), StructField("m2", DoubleType, false)))
    val rows = Seq(
      Row(Timestamp.valueOf("2000-01-01 00:00:00"), 1L, "",     "a",   Seq("a", "b"), 1.0f, 1.0),
      Row(Timestamp.valueOf("2000-01-02 00:00:00"), 1L, "10.1", null,  Seq("b", "c"), 2.0f, 2.0),
      Row(Timestamp.valueOf("2000-01-03 00:00:00"), 1L, "2",    "",    Seq("d"),      3.0f, 3.0),
      Row(Timestamp.valueOf("2001-01-01 00:00:00"), 1L, "1",    "a",   Seq(""),       4.0f, 4.0),
      Row(Timestamp.valueOf("2001-01-02 00:00:00"), 1L, "def",  "abc", null,          5.0f, 5.0),
      Row(Timestamp.valueOf("2001-01-03 00:00:00"), 1L, "abc",  null,  null,          6.0f, 6.0))
    val df = s.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
    df.createOrReplaceTempView("foo")
    df.createOrReplaceTempView("numfoo")
    // FORBIDDEN_ROWS (CalciteTests.java:662-665): createRow(t, dim1, dim2, m1)
    val fbSchema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("dim1", StringType, false),
      StructField("dim2", StringType, false), StructField("m1", FloatType, false)))
    val fbRows = Seq(
      Row(Timestamp.valueOf("2000-01-01 00:00:00"), "forbidden", "abcd", 9999.0f),
      Row(Timestamp.valueOf("2000-01-02 00:00:00"), "forbidden", "a", 1234.0f))
    s.createDataFrame(new java.util.ArrayList[Row](fbRows.asJava), fbSchema)
      .createOrReplaceTempView("forbiddenDatasource")
    s
  }

  private def sql(q: String): Array[Row] = druidSql.sql(q).collect()
  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  // ---- CalciteSelectQueryTest: VALUES inline rows ----

  test("testMultipleValuesContainingNull (CalciteSelectQueryTest.java)") {
    // inline VALUES with a NULL cell: both columns type STRING, null survives
    val out = sql("SELECT * FROM (VALUES (NULL, 'United States'), ('Delhi', 'India'))")
      .map(r => (Option(r.getString(0)), r.getString(1))).toSeq
    assert(out == Seq((None, "United States"), (Some("Delhi"), "India")))
  }

  test("testMultipleValuesContainingNullAndIntegerValues (CalciteSelectQueryTest.java)") {
    // mixed NULL + integer: first column types LONG, null survives
    val out = sql(
      "SELECT * FROM (VALUES (NULL, 'United States'), (50, 'India'))")
    assert(out.map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getString(1))).toSeq ==
      Seq((None, "United States"), (Some(50), "India")))
  }

  // ---- CalciteSelectQueryTest: limit wrapping on top of OFFSET ----
  // the reference applies an OUTER_LIMIT=2 query context over these; the
  // cap is spelled as an explicit outer LIMIT here (the facade's
  // maxResultRows is the context analog)

  test("testSelectLimitWrappingOnTopOfOffset (CalciteSelectQueryTest.java)") {
    val out = sql(
      """SELECT * FROM (SELECT dim1 FROM foo ORDER BY __time DESC OFFSET 1) LIMIT 2""")
      .map(_.getString(0)).toSeq
    assert(out == Seq("def", "1"))
  }

  test("testSelectLimitWrappingOnTopOfOffsetAndHighLimit / AndLowLimit (CalciteSelectQueryTest.java)") {
    // high inner limit: outer cap 2 wins
    assert(sql(
      """SELECT * FROM (SELECT dim1 FROM foo ORDER BY __time DESC LIMIT 10 OFFSET 1) LIMIT 2""")
      .map(_.getString(0)).toSeq == Seq("def", "1"))
    // low inner limit: inner LIMIT 1 wins under the outer cap
    assert(sql(
      """SELECT * FROM (SELECT dim1 FROM foo ORDER BY __time DESC LIMIT 1 OFFSET 1) LIMIT 2""")
      .map(_.getString(0)).toSeq == Seq("def"))
  }

  test("testSelectNonAggregatingWithLimitReducedToZero (CalciteSelectQueryTest.java)") {
    // inner LIMIT 2 OFFSET 5 leaves one row at most; outer OFFSET 2 reduces
    // the plan to LIMIT 0 — empty, no error
    val out = sql(
      "SELECT * FROM (SELECT dim2 FROM foo ORDER BY dim2 LIMIT 2 OFFSET 5) OFFSET 2")
    assert(out.isEmpty)
  }

  test("testSelectProjectionFromSelectSingleColumnWithInnerAndOuterLimitDescending (CalciteSelectQueryTest.java)") {
    val out = sql(
      """SELECT 'beep ' || dim1 FROM (SELECT dim1 FROM foo ORDER BY __time DESC LIMIT 4) LIMIT 2""")
      .map(_.getString(0)).toSeq
    assert(out == Seq("beep abc", "beep def"))
  }

  test("testSelectDistinctWithSortAsOuterQuery2 (CalciteSelectQueryTest.java)") {
    val out = sql(
      """SELECT * FROM (SELECT DISTINCT dim2 FROM foo ORDER BY dim2 LIMIT 5) LIMIT 10""")
      .map(r => Option(r.getString(0))).toSeq
    // sql-compatible mode: null sorts first, then '', 'a', 'abc'
    assert(out == Seq(None, Some(""), Some("a"), Some("abc")))
  }

  // ---- CalciteSelectQueryTest: select-star through views ----
  // no auth layer here (PlannerResources types the resources; the
  // authorizer is the deployment's) — the data-side expectations are the
  // reference's SUPER_USER rows. Druid SUBSTRING of '' yields null in
  // sql-compatible mode; Spark's yields '' — spelled NULLIF to match.

  test("testSelectStarOnForbiddenView (CalciteSelectQueryTest.java; view = BaseCalciteQueryTest.java:1055)") {
    graft.server.PlannerResources.createView(druidSql, "forbiddenView",
      "SELECT __time, NULLIF(SUBSTRING(dim1, 1, 1), '') AS dim1_firstchar, dim2 FROM foo WHERE dim2 = 'a'")
    val out = sql("SELECT * FROM forbiddenView ORDER BY __time")
      .map(r => (r.getTimestamp(0), Option(r.getString(1)), r.getString(2))).toSeq
    assert(out == Seq(
      (ts("2000-01-01"), None, "a"),
      (ts("2001-01-01"), Some("1"), "a")))
  }

  test("testSelectStarOnRestrictedView (CalciteSelectQueryTest.java; view = BaseCalciteQueryTest.java:1059)") {
    graft.server.PlannerResources.createView(druidSql, "restrictedView",
      "SELECT __time, dim1, dim2, m1 FROM forbiddenDatasource WHERE dim2 = 'a'")
    val out = sql("SELECT * FROM restrictedView")
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getFloat(3))).toSeq
    assert(out == Seq((ts("2000-01-02"), "forbidden", "a", 1234.0f)))
  }

  // ---- CalciteSimpleQueryTest: dim + FLOOR(__time TO MONTH) orderings ----

  test("testGroupByDimAndTimeOrderByTimeDesc (CalciteSimpleQueryTest.java)") {
    val out = sql(
      """SELECT dim2, TIME_FLOOR(__time, 'P1M') AS t, SUM(cnt) AS s
        |FROM foo GROUP BY 1, 2
        |ORDER BY TIME_FLOOR(__time, 'P1M') DESC, dim2 ASC NULLS FIRST""".stripMargin)
      .map(r => (Option(r.getString(0)), r.getTimestamp(1), r.getLong(2))).toSeq
    // sql-compatible branch; the reference's single-key DESC sort leaves
    // same-month rows in dimension-ascending-nulls-first order — made
    // explicit so row order is deterministic (standing porting rule)
    assert(out == Seq(
      (None, ts("2001-01-01"), 1L),
      (Some("a"), ts("2001-01-01"), 1L),
      (Some("abc"), ts("2001-01-01"), 1L),
      (None, ts("2000-01-01"), 1L),
      (Some(""), ts("2000-01-01"), 1L),
      (Some("a"), ts("2000-01-01"), 1L)))
  }

  test("testGroupByTimeAndDimOrderByDimDesc (CalciteSimpleQueryTest.java)") {
    val out = sql(
      """SELECT TIME_FLOOR(__time, 'P1M') AS t, dim2, SUM(cnt) AS s
        |FROM foo GROUP BY 1, 2
        |ORDER BY dim2 DESC NULLS LAST, TIME_FLOOR(__time, 'P1M') ASC""".stripMargin)
      .map(r => (r.getTimestamp(0), Option(r.getString(1)), r.getLong(2))).toSeq
    assert(out == Seq(
      (ts("2001-01-01"), Some("abc"), 1L),
      (ts("2000-01-01"), Some("a"), 1L),
      (ts("2001-01-01"), Some("a"), 1L),
      (ts("2000-01-01"), Some(""), 1L),
      (ts("2000-01-01"), None, 1L),
      (ts("2001-01-01"), None, 1L)))
  }

  // ---- Arrays / MV: non-literal array membership ----

  test("testArrayContainsArrayOfNonLiteral (CalciteArraysQueryTest.java) + testMultiValueStringContainsArrayOfNonLiteral (CalciteMultiValueStringQueryTest.java)") {
    // ARRAY_CONTAINS(mv, ARRAY[dim2]): contains-ALL with a non-literal
    // array argument — only the ["a","b"] row (dim2='a') matches
    val out = sql(
      "SELECT to_json(dim3) FROM foo WHERE ARRAY_CONTAINS(dim3, ARRAY(dim2)) LIMIT 5")
      .map(_.getString(0)).toSeq
    assert(out == Seq("""["a","b"]"""))
    // MV_CONTAINS is the same operator under the MV_* alias
    val out2 = sql(
      "SELECT to_json(dim3) FROM foo WHERE MV_CONTAINS(dim3, ARRAY(dim2)) LIMIT 5")
      .map(_.getString(0)).toSeq
    assert(out2 == Seq("""["a","b"]"""))
  }

  test("testSelectNonConstantArrayExpressionFromTableForMultival (CalciteArraysQueryTest.java)") {
    // a non-constant ARRAY over an MV column maps element-wise (the
    // reference's nested-array mode: map(dim3 -> array(concat(x,'word'),
    // 'up'))); a null MV homogenizes to [null] before mapping
    val out = sql(
      """SELECT to_json(transform(coalesce(dim3, array(CAST(NULL AS STRING))),
        |                         x -> array(concat(x, 'word'), 'up'))) AS arr, dim1
        |FROM foo ORDER BY __time LIMIT 5""".stripMargin)
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(
      ("""[["aword","up"],["bword","up"]]""", ""),
      ("""[["bword","up"],["cword","up"]]""", "10.1"),
      ("""[["dword","up"]]""", "2"),
      ("""[["word","up"]]""", "1"),
      ("""[[null,"up"]]""", "def")))
  }

  test("testMultiValueStringConcatBackwardsCompat0dot22andOlder (CalciteMultiValueStringQueryTest.java)") {
    // the 0.22-and-older homogenization mode turns a null MV cell into
    // [null] before MV_CONCAT; spelled with explicit coalesce — the two
    // null-dim3 rows then contribute 2 null elements each
    val out = sql(
      """SELECT v, SUM(cnt) AS s FROM (
        |  SELECT explode_outer(concat(coalesce(dim3, array(CAST(NULL AS STRING))),
        |                              coalesce(dim3, array(CAST(NULL AS STRING))))) AS v, cnt
        |  FROM foo)
        |GROUP BY v ORDER BY 2 DESC, v ASC NULLS FIRST""".stripMargin)
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(out == Seq(
      (None, 4L), (Some("b"), 4L),
      (Some(""), 2L), (Some("a"), 2L), (Some("c"), 2L), (Some("d"), 2L)))
  }
}
