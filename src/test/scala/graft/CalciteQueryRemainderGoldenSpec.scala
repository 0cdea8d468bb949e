package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}

/** CalciteQueryTest golden tranche: the remaining named cases — dead-agg
  * pruning, post-agg sorts without topN, grouping sets ordered by
  * granularity, constant-dimension empty groups, multi-exact-count-distinct
  * over the visits datasource, union-all mapping/mismatch parity, invalid
  * time literals, zero-period TIMESTAMPADD, complex-datatype aggregates
  * (documented supersets), Los Angeles timezone semantics via explicit
  * TIME_* zone args, and INFORMATION_SCHEMA view/forbidden-table cases.
  *
  * Spelling conventions as the earlier tranches (FLOOR..TO → TIME_FLOOR,
  * two-valued <> as NOT <=>, CURRENT_TIMESTAMP pinned to the reference's
  * frozen 2000-01-01T00:00:00Z as a literal since Spark's clock cannot be
  * frozen). Expected rows are the reference's sql-compatible-mode values.
  */
class CalciteQueryRemainderGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option("a"),   1.0f, 1.0d, 1L),
    (ts("2000-01-02 00:00:00"), "10.1", None: Option[String], 2.0f, 2.0d, 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(""),    3.0f, 3.0d, 1L),
    (ts("2001-01-01 00:00:00"), "1",    Option("a"),   4.0f, 4.0d, 1L),
    (ts("2001-01-02 00:00:00"), "def",  Option("abc"), 5.0f, 5.0d, 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[String], 6.0f, 6.0d, 1L)
  ).toDF("__time", "dim1", "dim2", "m1", "m2", "cnt")

  /** numfoo: adds the sparse long l1. */
  private lazy val numfoo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option(7L),      1L),
    (ts("2000-01-02 00:00:00"), "10.1", Option(325323L), 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(0L),      1L),
    (ts("2001-01-01 00:00:00"), "1",    None: Option[Long], 1L),
    (ts("2001-01-02 00:00:00"), "def",  None: Option[Long], 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[Long], 1L)
  ).toDF("__time", "dim1", "l1", "cnt")

  /** USER_VISIT_ROWS (util/CalciteTests.java:705). */
  private lazy val visits: DataFrame = Seq(
    (ts("2021-01-01 01:00:00"), "alice", "canada", "A"),
    (ts("2021-01-01 02:00:00"), "alice", "canada", "B"),
    (ts("2021-01-01 03:00:00"), "bob",   "canada", "A"),
    (ts("2021-01-01 04:00:00"), "alice", "India",  "Y"),
    (ts("2021-01-02 01:00:00"), "alice", "canada", "A"),
    (ts("2021-01-02 02:00:00"), "bob",   "canada", "A"),
    (ts("2021-01-02 03:00:00"), "foo",   "canada", "B"),
    (ts("2021-01-02 04:00:00"), "bar",   "canada", "B"),
    (ts("2021-01-02 05:00:00"), "alice", "India",  "X"),
    (ts("2021-01-02 06:00:00"), "bob",   "India",  "X"),
    (ts("2021-01-02 07:00:00"), "foo",   "India",  "X"),
    (ts("2021-01-03 01:00:00"), "foo",   "USA",    "M")
  ).toDF("__time", "user", "country", "city")

  /** foo plus an opaque sketch-bytes column (the reference's
    * unique_dim1 COMPLEX<hyperUnique>; opaque binary here). */
  private lazy val fooSketch: DataFrame = {
    import org.apache.spark.sql.functions._
    foo.withColumn("unique_dim1", sha2(col("dim1"), 256).cast("binary"))
  }

  private lazy val registered: Unit = {
    graft.functions.GraftSqlFunctions.register(spark)
    foo.createOrReplaceTempView("foo")
    numfoo.createOrReplaceTempView("numfoo")
    visits.createOrReplaceTempView("visits")
    fooSketch.createOrReplaceTempView("foo_sketch")
  }

  private def sql(q: String): Array[Row] = { registered; spark.sql(q).collect() }
  private def single(q: String): Row = { val r = sql(q); assert(r.length == 1); r.head }
  private def os(r: Row, i: Int): Option[String] = Option(r.getString(i))

  // ---- dead-aggregator pruning (ProjectAggregatePruneUnusedCallRule) ----

  test("testPruneDeadAggregatorsThroughPostProjection (CalciteQueryTest.java:3077)") {
    val r = single(
      """SELECT CASE 'foo' WHEN 'bar' THEN SUM(cnt) / 10
        |               WHEN 'foo' THEN SUM(m1) / 10
        |               WHEN 'baz' THEN SUM(m2) / 10 END AS p
        |FROM foo""".stripMargin)
    assert(r.getDouble(0) == 2.1d)
  }

  test("testPruneDeadAggregatorsThroughHaving (CalciteQueryTest.java:3104)") {
    val r = single(
      """SELECT CASE 'foo' WHEN 'bar' THEN SUM(cnt)
        |               WHEN 'foo' THEN SUM(m1)
        |               WHEN 'baz' THEN SUM(m2) END AS theCase
        |FROM foo
        |HAVING theCase = 21""".stripMargin)
    assert(r.getDouble(0) == 21.0d)
  }

  // ---- sorts over post-aggregations and time aliases ----

  test("testGroupByWithSortOnPostAggregationNoTopNContext (CalciteQueryTest.java:4762)") {
    val out = sql(
      "SELECT dim1, MIN(m1) + MAX(m1) AS x FROM foo GROUP BY dim1 ORDER BY x LIMIT 3")
      .map(r => (r.getString(0), r.getFloat(1))).toSeq
    assert(out == Seq(("", 2.0f), ("10.1", 4.0f), ("2", 6.0f)))
  }

  test("testOrderByAlongWithAliasOrderByTimeGroupByOneCol (CalciteQueryTest.java:11160)") {
    val out = sql("SELECT __time AS bug FROM foo GROUP BY 1 ORDER BY 1 LIMIT 1")
    assert(out.map(_.getTimestamp(0)).toSeq == Seq(ts("2000-01-01 00:00:00")))
  }

  test("testTimeStampAddZeroYearPeriod (CalciteQueryTest.java:12486)") {
    val out = sql("SELECT TIMESTAMPADD(YEAR, 0, __time) AS t FROM foo ORDER BY 1")
    assert(out.map(_.getTimestamp(0)).toSeq == foo.collect()
      .map(_.getTimestamp(0)).sorted.toSeq)
  }

  // ---- grouping sets ordered by granularity ----

  test("testGroupingSetsWithLimitOrderByGran (CalciteQueryTest.java:12651)") {
    val out = sql(
      """SELECT dim2, gran, SUM(cnt) s
        |FROM (SELECT TIME_FLOOR(__time, 'P1M') AS gran, COALESCE(dim2, '') dim2, cnt FROM foo) x
        |GROUP BY GROUPING SETS ( (dim2, gran), (dim2), (gran), () )
        |ORDER BY x.gran LIMIT 100""".stripMargin)
    // null grans (the (dim2) and () sets) sort first, like the reference's
    // NumericComparator; within-gran order is engine-specific → compare the
    // first-null block and the dated block as multisets.
    // DEVIATION: the reference's (dim2) subtotal arrives month-bucketed
    // (timestampResultField pins the gran column as the row timestamp even
    // for sets that exclude it — 13 rows); this engine keeps standard SQL
    // GROUPING SETS semantics, where (dim2) aggregates across months
    // (11 rows, same totals)
    val (nullGran, dated) = out.partition(_.isNullAt(1))
    assert(out.take(nullGran.length).forall(_.isNullAt(1)))
    assert(nullGran.map(r => (r.getString(0), r.getLong(2))).sortBy(_.toString).toSeq ==
      Seq(("", 3L), ("a", 2L), ("abc", 1L), (null, 6L)).sortBy(_.toString))
    assert(dated.map(r => (os(r, 0), r.getTimestamp(1), r.getLong(2))).sortBy(_.toString).toSeq ==
      Seq((Some(""), ts("2000-01-01 00:00:00"), 2L),
        (Some("a"), ts("2000-01-01 00:00:00"), 1L),
        (None, ts("2000-01-01 00:00:00"), 3L),
        (Some(""), ts("2001-01-01 00:00:00"), 1L),
        (Some("a"), ts("2001-01-01 00:00:00"), 1L),
        (Some("abc"), ts("2001-01-01 00:00:00"), 1L),
        (None, ts("2001-01-01 00:00:00"), 3L)).sortBy(_.toString))
  }

  // ---- constant dimensions over empty slices ----

  test("testReturnEmptyRowWhenGroupByIsConvertedToTimeseriesWithSingleConstantDimension (CalciteQueryTest.java:13821)") {
    assert(sql("SELECT 'A' FROM foo WHERE m1 = 50 AND dim1 = 'wat' GROUP BY 'foobar'").isEmpty)
    assert(sql("SELECT 'A' FROM foo WHERE dim1 = 'wat' GROUP BY dim1").isEmpty)
  }

  test("testReturnEmptyRowWhenGroupByIsConvertedToTimeseriesWithMutlipleConstantDimensions (CalciteQueryTest.java:13878)") {
    assert(sql("SELECT 'A', dim1 FROM foo WHERE m1 = 50 AND dim1 = 'wat' GROUP BY dim1").isEmpty)
    val sane = sql("SELECT 'A', dim1 FROM foo WHERE m1 = 2.0 AND dim1 = '10.1' GROUP BY dim1")
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sane == Seq(("A", "10.1")))
  }

  // ---- multiple exact count distincts (grouping-set rewrite) ----

  test("testMultipleExactCountDistinctWithGroupingAndOtherAggregators (CalciteQueryTest.java:6249)") {
    val out = sql(
      """SELECT TIME_FLOOR(__time, 'P1D') AS d, COUNT(DISTINCT city) cc, COUNT(DISTINCT user) cu
        |FROM visits GROUP BY 1 ORDER BY 1""".stripMargin)
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (ts("2021-01-01 00:00:00"), 3L, 2L),
      (ts("2021-01-02 00:00:00"), 3L, 4L),
      (ts("2021-01-03 00:00:00"), 1L, 1L)))
  }

  test("testApproxCountDistinctOnVectorizableSingleStringExpression (CalciteQueryTest.java:6407)") {
    assert(single("SELECT APPROX_COUNT_DISTINCT(dim1 || 'hello') AS c FROM foo").getLong(0) == 6L)
  }

  // ---- UNION ALL mappings and mismatches ----

  test("testUnionAllSameTableTwiceWithSameMapping (CalciteQueryTest.java:2835)") {
    val out = sql(
      """SELECT dim1, dim2, CAST(SUM(m1) AS DOUBLE) s, COUNT(*) c
        |FROM (SELECT dim1, dim2, m1 FROM foo UNION ALL SELECT dim1, dim2, m1 FROM foo)
        |WHERE dim2 = 'a' OR dim2 = 'def'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(out == Seq(("", "a", 2.0d, 2L), ("1", "a", 8.0d, 2L)))
  }

  test("testUnionAllSameTableThreeTimesWithSameMapping (CalciteQueryTest.java:3007)") {
    val out = sql(
      """SELECT dim1, dim2, CAST(SUM(m1) AS DOUBLE) s, COUNT(*) c
        |FROM (SELECT dim1, dim2, m1 FROM foo UNION ALL SELECT dim1, dim2, m1 FROM foo
        |      UNION ALL SELECT dim1, dim2, m1 FROM foo)
        |WHERE dim2 = 'a' OR dim2 = 'def'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(out == Seq(("", "a", 3.0d, 3L), ("1", "a", 12.0d, 3L)))
  }

  test("testUnionAllThreeTablesColumnCountMismatch2 + testUnionAllThreeTablesColumnCountMismatch3 (CalciteQueryTest.java:2959)") {
    registered
    // numfoo (4 cols) unioned against foo (6 cols) — the reference raises
    // "Column count mismatch in UNION ALL"; Spark raises NUM_COLUMNS_MISMATCH
    for (q <- Seq(
      "SELECT * FROM numfoo UNION ALL SELECT * FROM foo UNION ALL SELECT * FROM foo",
      "SELECT * FROM foo UNION ALL SELECT * FROM foo UNION ALL SELECT * FROM numfoo")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { spark.sql(q).collect() }
      assert(e.getMessage.toUpperCase.contains("UNION"))
    }
  }

  // ---- invalid time literal ----

  test("testCountStarWithTimeFilterUsingStringLiteralsInvalid_isUnplannable (CalciteQueryTest.java:5575)") {
    registered
    // the reference rejects the malformed literal at plan time ("Illegal
    // TIMESTAMP constant"); so does the engine's analysis check
    // (PlannerChecks.illegalTimeLiterals)
    intercept[Exception] {
      spark.sql(
        """SELECT COUNT(*) FROM foo
          |WHERE __time >= 'z2000-01-01 00:00:00' AND __time < '2001-01-01 00:00:00'""".stripMargin)
        .collect()
    }
  }

  // ---- IN below the subquery threshold stays a filter ----

  test("testPlanWithInFilterLessThanInSubQueryThreshold (CalciteQueryTest.java:13935)") {
    assert(sql("SELECT l1 FROM numfoo WHERE l1 IN (4842, 4844, 4845, 14905, 4853, 29064)").isEmpty)
    assert(sql("SELECT l1 FROM numfoo WHERE l1 IN (7, 325323)").map(_.getLong(0)).sorted.toSeq ==
      Seq(7L, 325323L))
  }

  // ---- complex-datatype aggregates (documented supersets) ----

  test("testArrayAggQueryOnComplexDatatypes — SUPERSET (CalciteQueryTest.java:5393)") {
    // the reference rejects ARRAY_AGG on COMPLEX<hyperUnique>; sketch
    // columns here are opaque binary, which collects fine
    val r = single("SELECT ARRAY_AGG(unique_dim1) AS a FROM foo_sketch")
    assert(r.getSeq[Array[Byte]](0).length == 6)
  }

  test("testStringAggQueryOnComplexDatatypes — error parity (CalciteQueryTest.java:5409)") {
    registered
    // STRING_AGG needs a string input on both engines; binary is rejected
    intercept[Exception] {
      spark.sql("SELECT STRING_AGG(unique_dim1, ',') AS a FROM foo_sketch").collect()
    }
  }

  test("testUnplannableExactCountDistinctOnSketch — SUPERSET (CalciteQueryTest.java:5381)") {
    // "COUNT DISTINCT on a sketch cannot be exact" in the reference; over
    // opaque bytes it counts distinct ENCODINGS here (documented: not a
    // cardinality estimate)
    assert(single("SELECT COUNT(DISTINCT unique_dim1) AS c FROM foo_sketch").getLong(0) == 6L)
  }

  // ---- HUMAN_READABLE_* argument validation ----

  test("testHumanReadableFormatFunctionExceptionWithWrongNumberType — lenient coercion SUPERSET (CalciteQueryTest.java:13735)") {
    // the reference rejects a VARCHAR first argument at validation; this
    // engine's lenient numeric coercion (documented for the SQL surface)
    // formats the parsed value instead
    val r = single("SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT('45678') AS f")
    assert(r.getString(0) != null && r.getString(0).startsWith("44.6"))
  }

  test("testHumanReadableFormatFunctionWithInvalidNumberOfArguments (CalciteQueryTest.java:13759)") {
    registered
    val e = intercept[Exception] {
      spark.sql("SELECT HUMAN_READABLE_BINARY_BYTE_FORMAT(45678, 2, 1)").collect()
    }
    assert(e.getMessage.contains("HUMAN_READABLE_BINARY_BYTE_FORMAT"))
  }

  // ---- Los Angeles timezone semantics ----

  test("testFilterOnCurrentTimestampLosAngeles (CalciteQueryTest.java:7953) + testFilterOnCurrentTimestampLosAngelesOnView") {
    // the reference freezes CURRENT_TIMESTAMP at 2000-01-01T00:00:00Z and
    // renders it on the LA wall clock; the frozen instant is pinned as a
    // literal here, and the LA upper bound parses through TIME_PARSE's
    // zone argument → [2000-01-02T00Z, 2002-01-01T08Z)
    val q =
      """SELECT COUNT(*) c FROM foo
        |WHERE __time >= TIMESTAMP '2000-01-01 00:00:00' + INTERVAL '1' DAY
        |  AND __time < TIME_PARSE('2002-01-01 00:00:00', NULL, 'America/Los_Angeles')""".stripMargin
    assert(single(q).getLong(0) == 5L)
    // the OnView variant runs the same filter through a view body
    registered
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW bview AS $q")
    assert(single("SELECT * FROM bview").getLong(0) == 5L)
  }

  test("testTimeseriesLosAngelesViaPlannerConfig (CalciteQueryTest.java:8786) — sqlTimeZone via explicit zone args") {
    val out = sql(
      """SELECT CAST(SUM(cnt) AS BIGINT) s, gran FROM (
        |  SELECT TIME_FLOOR(__time, 'P1M', NULL, 'America/Los_Angeles') AS gran, cnt
        |  FROM foo
        |  WHERE __time >= TIME_PARSE('1999-12-01 00:00:00', NULL, 'America/Los_Angeles')
        |    AND __time < TIME_PARSE('2002-01-01 00:00:00', NULL, 'America/Los_Angeles')) x
        |GROUP BY gran ORDER BY gran""".stripMargin)
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    // LA month floors rendered at their UTC instants (-08:00)
    assert(out == Seq(
      (1L, ts("1999-12-01 08:00:00")),
      (2L, ts("2000-01-01 08:00:00")),
      (1L, ts("2000-12-01 08:00:00")),
      (2L, ts("2001-01-01 08:00:00"))))
  }

  // ---- INFORMATION_SCHEMA on views and forbidden tables ----

  test("testInformationSchemaColumnsOnAnotherView (CalciteQueryTest.java:338)") {
    registered
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW cview AS
        |SELECT SUBSTRING(foo.dim1, 1, 1) AS dim1_firstchar, foo.dim2, numfoo.l1 AS l2
        |FROM foo INNER JOIN numfoo ON foo.dim1 = numfoo.dim1
        |WHERE foo.dim2 = 'a'""".stripMargin)
    graft.server.SystemSchema.register(spark)
    val out = sql(
      """SELECT column_name, data_type, is_nullable FROM information_schema.columns
        |WHERE table_name = 'cview' ORDER BY ordinal_position""".stripMargin)
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("dim1_firstchar", "VARCHAR", "YES"), ("dim2", "VARCHAR", "YES"), ("l2", "BIGINT", "YES")))
  }

  test("testInformationSchemaColumnsOnForbiddenTable — no-authorizer SUPERSET (CalciteQueryTest.java:294)") {
    registered
    // the reference hides forbiddenDatasource from regular users and shows
    // it to the superuser; this engine ships no authorizer, so every caller
    // sees the superuser's answer (documented)
    foo.createOrReplaceTempView("forbiddenDatasource")
    graft.server.SystemSchema.register(spark)
    // Spark's catalog lowercases temp-view names
    val out = sql(
      """SELECT column_name, data_type FROM information_schema.columns
        |WHERE table_name = 'forbiddendatasource' ORDER BY ordinal_position""".stripMargin)
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out.map(_._1) == Seq("__time", "dim1", "dim2", "m1", "m2", "cnt"))
    assert(out.head._2 == "TIMESTAMP")
  }
}
