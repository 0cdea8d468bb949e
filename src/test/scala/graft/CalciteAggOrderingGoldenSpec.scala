package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}

/** CalciteQueryTest golden tranche: ORDER BY over EARLIEST/LATEST/ANY
  * aggregates, ANY numeric-null handling, dead-aggregator pruning, and
  * projection/sort shapes. Porting conventions follow
  * CalciteFirstLastAnyGoldenSpec: EARLIEST/LATEST spell `__time`
  * explicitly, ANY_VALUE drops the reference's maxStringBytes argument,
  * and the reference's TopN dimension tiebreak is spelled as a secondary
  * ORDER BY key. Expected rows are sql-compatible-null-mode values.
  */
class CalciteAggOrderingGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option("a"),   1.0f, 1.0, 1L),
    (ts("2000-01-02 00:00:00"), "10.1", None: Option[String], 2.0f, 2.0, 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(""),    3.0f, 3.0, 1L),
    (ts("2001-01-01 00:00:00"), "1",    Option("a"),   4.0f, 4.0, 1L),
    (ts("2001-01-02 00:00:00"), "def",  Option("abc"), 5.0f, 5.0, 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[String], 6.0f, 6.0, 1L)
  ).toDF("__time", "dim1", "dim2", "m1", "m2", "cnt")

  private lazy val numfoo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     "a",   1.0f,
      Some(1.0), None: Option[Double], Some(1.0f), None: Option[Float], Some(7L), None: Option[Long], 1L),
    (ts("2000-01-02 00:00:00"), "10.1", null,  2.0f,
      Some(1.7), Some(1.7), Some(0.1f), Some(0.1f), Some(325323L), Some(325323L), 1L),
    (ts("2000-01-03 00:00:00"), "2",    "",    3.0f,
      Some(0.0), Some(0.0), Some(0.0f), Some(0.0f), Some(0L), Some(0L), 1L),
    (ts("2001-01-01 00:00:00"), "1",    "a",   4.0f,
      None, None, None, None, None, None, 1L),
    (ts("2001-01-02 00:00:00"), "def",  "abc", 5.0f,
      None, None, None, None, None, None, 1L),
    (ts("2001-01-03 00:00:00"), "abc",  null,  6.0f,
      None, None, None, None, None, None, 1L))
    .toDF("__time", "dim1", "dim2", "m1", "d1", "d2", "f1", "f2", "l1", "l2", "cnt")

  private lazy val registered: Unit = {
    graft.functions.GraftSqlFunctions.register(spark)
    foo.createOrReplaceTempView("foo")
    numfoo.createOrReplaceTempView("numfoo")
  }

  private def sql(q: String): Array[Row] = { registered; spark.sql(q).collect() }
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }

  // ---- ORDER BY over time-ordered aggregates ----

  private def longPairs(q: String): Seq[(String, Option[Long])] =
    sql(q).map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
  private def doublePairs(q: String): Seq[(String, Option[Double])] =
    sql(q).map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq

  test("testOrderByEarliestLong / testOrderByLatestLong (CalciteQueryTest.java, nulls sort first)") {
    for (agg <- Seq("EARLIEST(l1, __time)", "LATEST(l1, __time)")) {
      val out = longPairs(
        s"SELECT dim1, $agg FROM numfoo GROUP BY 1 ORDER BY 2 NULLS FIRST, 1 LIMIT 10")
      assert(out == Seq(("1", None), ("abc", None), ("def", None),
        ("2", Some(0L)), ("", Some(7L)), ("10.1", Some(325323L))))
    }
  }

  test("testOrderByEarliestDouble / testOrderByLatestDouble") {
    for (agg <- Seq("EARLIEST(d1, __time)", "LATEST(d1, __time)")) {
      val out = doublePairs(
        s"SELECT dim1, $agg FROM numfoo GROUP BY 1 ORDER BY 2 NULLS FIRST, 1 LIMIT 10")
      assert(out == Seq(("1", None), ("abc", None), ("def", None),
        ("2", Some(0.0)), ("", Some(1.0)), ("10.1", Some(1.7))))
    }
  }

  test("testOrderByAnyLong / testOrderByAnyDouble — the reference's inverted-TopN comparator puts nulls last") {
    val outL = longPairs(
      "SELECT dim1, ANY_VALUE(l1) FROM numfoo GROUP BY 1 ORDER BY 2 NULLS LAST, 1 LIMIT 10")
    assert(outL == Seq(("2", Some(0L)), ("", Some(7L)), ("10.1", Some(325323L)),
      ("1", None), ("abc", None), ("def", None)))
    val outD = doublePairs(
      "SELECT dim1, ANY_VALUE(d1) FROM numfoo GROUP BY 1 ORDER BY 2 NULLS LAST, 1 LIMIT 10")
    assert(outD == Seq(("2", Some(0.0)), ("", Some(1.0)), ("10.1", Some(1.7)),
      ("1", None), ("abc", None), ("def", None)))
  }

  // ---- ANY aggregators ----

  test("testAnyAggregator — scalar and expression operands") {
    val r = single(
      """SELECT ANY_VALUE(cnt), ANY_VALUE(m1), ANY_VALUE(m2), ANY_VALUE(dim1),
        |ANY_VALUE(cnt + 1), ANY_VALUE(m1 + 1), ANY_VALUE(dim1 || CAST(cnt AS STRING))
        |FROM (SELECT * FROM foo ORDER BY __time)""".stripMargin)
    // m1 + 1 stays FLOAT, as in Druid
    assert((r.getLong(0), r.getFloat(1), r.getDouble(2), r.getString(3),
      r.getLong(4), r.getFloat(5), r.getString(6)) ==
      ((1L, 1.0f, 1.0, "", 2L, 2.0f, "1")))
  }

  test("testAnyAggregatorsOnHeapNumericNulls") {
    val r = single("SELECT ANY_VALUE(l1), ANY_VALUE(d1), ANY_VALUE(f1) FROM (SELECT * FROM numfoo ORDER BY __time)")
    assert((r.getLong(0), r.getDouble(1), r.getFloat(2)) == ((7L, 1.0, 1.0f)))
  }

  test("testAnyAggregatorsOffHeapNumericNulls — grouped, null group keeps the first row's values") {
    val out = sql(
      """SELECT ANY_VALUE(l1), ANY_VALUE(d1), ANY_VALUE(f1)
        |FROM (SELECT * FROM numfoo ORDER BY __time) GROUP BY dim2
        |ORDER BY dim2 NULLS FIRST""".stripMargin)
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getFloat(2)))).toSeq
    assert(out == Seq(
      (Some(325323L), Some(1.7), Some(0.1f)),
      (Some(0L), Some(0.0), Some(0.0f)),
      (Some(7L), Some(1.0), Some(1.0f)),
      (None, None, None)))
  }

  // ---- dead-aggregator pruning ----

  test("testPruneDeadAggregators / ThroughPostProjection / ThroughHaving") {
    assert(single(
      """SELECT CASE 'foo' WHEN 'bar' THEN SUM(cnt) WHEN 'foo' THEN SUM(m1)
        |WHEN 'baz' THEN SUM(m2) END FROM foo""".stripMargin).getDouble(0) == 21.0)
    assert(single(
      """SELECT CASE 'foo' WHEN 'bar' THEN SUM(cnt) / 10 WHEN 'foo' THEN SUM(m1) / 10
        |WHEN 'baz' THEN SUM(m2) / 10 END FROM foo""".stripMargin).getDouble(0) == 2.1)
    assert(single(
      """SELECT CASE 'foo' WHEN 'bar' THEN SUM(cnt) WHEN 'foo' THEN SUM(m1)
        |WHEN 'baz' THEN SUM(m2) END AS theCase FROM foo
        |HAVING theCase = 21""".stripMargin).getDouble(0) == 21.0)
  }

  // ---- projection / sort shapes ----

  test("testProjectAfterSort3WithoutAmbiguity — duplicate grouping column projected once") {
    val out = sql(
      """SELECT copydim1 FROM
        |(SELECT dim1, dim1 AS copydim1, COUNT(*) cnt FROM foo GROUP BY dim1, dim1 ORDER BY cnt)""".stripMargin)
      .map(_.getString(0)).toSet
    assert(out == Set("", "1", "10.1", "2", "abc", "def"))
  }

  test("testQueryWithSelectProjectAndIdentityProjectDoesNotRename") {
    val r = single(
      """SELECT
        |(SUM(CASE WHEN (TIMESTAMP '2000-01-04 17:00:00'<=__time AND __time<TIMESTAMP '2022-01-05 17:00:00') THEN 1 ELSE 0 END)*1.0/COUNT(DISTINCT CASE WHEN (TIMESTAMP '2000-01-04 17:00:00'<=__time AND __time<TIMESTAMP '2022-01-05 17:00:00') THEN dim1 END))
        |FROM foo""".stripMargin)
    // the 1.0 literal makes this DECIMAL arithmetic in Spark (DOUBLE in Druid)
    assert(r.getDecimal(0).doubleValue == 1.0)
  }

  test("testTopNWithSelectAndOrderByProjections — DEVIATION: out-of-range SUBSTRING is '' here, null in Druid") {
    val out = sql(
      """SELECT dim1, SUBSTRING(dim1, 2)
        |FROM foo
        |GROUP BY dim1
        |ORDER BY CHARACTER_LENGTH(dim1) DESC, dim1
        |LIMIT 10""".stripMargin).map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("10.1", "0.1"), ("abc", "bc"), ("def", "ef"),
      ("1", ""), ("2", ""), ("", "")))
  }

  test("testGroupByWithSortOnPostAggregationNoTopNConfig / NoTopNContext") {
    val out = sql(
      "SELECT dim1, MIN(m1) + MAX(m1) AS x FROM foo GROUP BY dim1 ORDER BY x LIMIT 3")
      .map(r => (r.getString(0), r.getFloat(1))).toSeq
    assert(out == Seq(("", 2.0f), ("10.1", 4.0f), ("2", 6.0f)))
  }

  test("testReturnEmptyRowWhenGroupByIsConvertedToTimeseries — constant dims over empty filters") {
    assert(sql("SELECT 'A' FROM foo WHERE m1 = 50 AND dim1 = 'wat' GROUP BY 'foobar'").isEmpty)
    assert(sql("SELECT 'A', dim1 FROM foo WHERE m1 = 50 AND dim1 = 'wat' GROUP BY dim1").isEmpty)
    val r = single("SELECT 'A', dim1 FROM foo WHERE m1 = 2.0 AND dim1 = '10.1' GROUP BY dim1")
    assert((r.getString(0), r.getString(1)) == (("A", "10.1")))
  }

  test("testTimeseriesDontSkipEmptyBuckets — hourly grain over one day") {
    // the reference zero-fills 24 hourly buckets via query context; the
    // engine's zero-fill path is oracle-gated (timeseries_zerofill); here
    // the grouped subset parity is asserted
    val out = sql(
      """SELECT SUM(cnt), gran FROM (
        |  SELECT DATE_TRUNC('HOUR', __time) AS gran, cnt FROM foo
        |  WHERE __time >= TIMESTAMP '2000-01-01 00:00:00' AND __time < TIMESTAMP '2000-01-02 00:00:00'
        |) x
        |GROUP BY gran
        |ORDER BY gran""".stripMargin)
    assert(out.length == 1 &&
      (out.head.getLong(0), out.head.getTimestamp(1)) == ((1L, ts("2000-01-01 00:00:00"))))
  }
}
