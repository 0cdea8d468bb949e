package graft

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{Row, SparkSession}

/** CalciteQueryTest golden tranche: Los-Angeles-timezone timeseries
  * (sessions carry the tz via connection context in the reference; here the
  * child session's spark.sql.session.timeZone), FLOOR+CAST date grains,
  * TIMESTAMPADD shifts, and TIME_EXTRACT arity errors. Expected rows are
  * the sql-compatible values; timestamps are asserted as instants so the
  * session timezone cannot blur the comparison.
  */
class CalciteTimeArithGoldenSpec extends SparkSpecBase {

  private def instant(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  /** foo rows at their UTC instants (CalciteTests RAW_ROWS1 __time values). */
  private def fooRows = Seq(
    ("2000-01-01T00:00:00Z", "",     Option("a"),   1L),
    ("2000-01-02T00:00:00Z", "10.1", None: Option[String], 1L),
    ("2000-01-03T00:00:00Z", "2",    Option(""),    1L),
    ("2001-01-01T00:00:00Z", "1",    Option("a"),   1L),
    ("2001-01-02T00:00:00Z", "def",  Option("abc"), 1L),
    ("2001-01-03T00:00:00Z", "abc",  None: Option[String], 1L))

  private def registerFoo(s: SparkSession): Unit = {
    import org.apache.spark.sql.types._
    import scala.collection.JavaConverters._
    val schema = StructType(Seq(
      StructField("__time", TimestampType, false), StructField("dim1", StringType, false),
      StructField("dim2", StringType, true), StructField("cnt", LongType, false)))
    val rows = fooRows.map { case (t, d1, d2, c) =>
      Row(instant(t), d1, d2.orNull, c)
    }
    s.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
      .createOrReplaceTempView("foo")
  }

  private lazy val laSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    GraftSession.configure(s)
    registerFoo(s)
    s
  }

  private lazy val utcSession: SparkSession = {
    graft.functions.GraftSqlFunctions.register(spark)
    registerFoo(spark)
    spark
  }

  private val laMonths = Seq(
    (1L, "1999-12-01T08:00:00Z"), (2L, "2000-01-01T08:00:00Z"),
    (1L, "2000-12-01T08:00:00Z"), (2L, "2001-01-01T08:00:00Z"))

  test("testTimeseriesLosAngelesViaQueryContext — FLOOR TO MONTH in an LA session (CalciteQueryTest.java)") {
    val out = laSession.sql(
      """SELECT SUM(cnt), DATE_TRUNC('MONTH', __time) AS gran FROM foo
        |GROUP BY 2 ORDER BY 2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    assert(out == laMonths.map { case (c, t) => (c, instant(t)) })
  }

  test("testTimeseriesLosAngelesUsingTimeFloorConnectionLosAngeles — explicit tz argument") {
    // the reference reads the tz from the connection; the explicit fourth
    // TIME_FLOOR argument is this engine's spelling of the same bucket
    val out = utcSession.sql(
      """SELECT SUM(cnt), TIME_FLOOR(__time, 'P1M', NULL, 'America/Los_Angeles') AS gran FROM foo
        |GROUP BY 2 ORDER BY 2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    assert(out == laMonths.map { case (c, t) => (c, instant(t)) })
  }

  test("testTimeseriesUsingFloorPlusCastAsDate — quarter floor cast to DATE") {
    val out = utcSession.sql(
      """SELECT SUM(cnt), dt FROM (
        |  SELECT CAST(DATE_TRUNC('QUARTER', __time) AS DATE) AS dt, cnt FROM foo
        |) x GROUP BY dt ORDER BY dt""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSeq
    assert(out == Seq((3L, "2000-01-01"), (3L, "2001-01-01")))
  }

  test("testTimeseriesUsingTimeFloorWithTimestampAdd — shift then floor") {
    val out = utcSession.sql(
      """SELECT SUM(cnt), gran FROM (
        |  SELECT TIME_FLOOR(TIMESTAMPADD(DAY, -1, __time), 'P1M') AS gran, cnt FROM foo
        |) x GROUP BY gran ORDER BY gran""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    assert(out == Seq(
      (1L, instant("1999-12-01T00:00:00Z")), (2L, instant("2000-01-01T00:00:00Z")),
      (1L, instant("2000-12-01T00:00:00Z")), (2L, instant("2001-01-01T00:00:00Z"))))
  }

  test("testTimeStampAddZeroMonthPeriod / ZeroYearPeriod — identity shifts") {
    for (unit <- Seq("MONTH", "YEAR")) {
      val out = utcSession.sql(
        s"SELECT TIMESTAMPADD($unit, 0, __time) FROM foo ORDER BY 1").collect()
        .map(_.getTimestamp(0)).toSeq
      assert(out == fooRows.map(r => instant(r._1)))
    }
  }

  test("testTimeseriesWithLimitNoTopN — ordered month grain, LIMIT 1") {
    val r = utcSession.sql(
      """SELECT gran, SUM(cnt) FROM (
        |  SELECT DATE_TRUNC('MONTH', __time) AS gran, cnt FROM foo
        |) x GROUP BY gran ORDER BY gran LIMIT 1""".stripMargin).head()
    assert((r.getTimestamp(0), r.getLong(1)) == ((instant("2000-01-01T00:00:00Z"), 3L)))
  }

  test("testTimeExtractWithTooFewArguments — arity validation error") {
    val e = intercept[Exception](
      utcSession.sql("SELECT TIME_EXTRACT(__time) FROM foo").collect())
    assert(e.getMessage.toUpperCase.contains("TIME_EXTRACT"))
  }
}
