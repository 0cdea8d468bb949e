package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.server.PlannerResources
import graft.server.PlannerResources.{read, write, ResourceAction}

/** DruidPlannerResourceAnalyzeTest golden tranche — all 13 reference cases
  * (sql/src/test/java/org/apache/druid/sql/calcite/
  * DruidPlannerResourceAnalyzeTest.java, cited per test). The reference
  * feeds these sets to its authorizer; this engine has no auth layer, so
  * the analyzed set itself is asserted (it is also what the SQL façade's
  * EXPLAIN renders as RESOURCES). Views are registered through the
  * ViewManager analog `PlannerResources.createView` with the reference's
  * own view SQL (BaseCalciteQueryTest.java:1027-1051); `view.`-prefixed
  * references stay analyzable even though this port registers views
  * unprefixed. */
class PlannerResourceAnalyzeGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), "",     Option("a"),   1L),
    (ts("2000-01-02 00:00:00"), "10.1", None: Option[String], 1L),
    (ts("2000-01-03 00:00:00"), "2",    Option(""),    1L),
    (ts("2001-01-01 00:00:00"), "1",    Option("a"),   1L),
    (ts("2001-01-02 00:00:00"), "def",  Option("abc"), 1L),
    (ts("2001-01-03 00:00:00"), "abc",  None: Option[String], 1L))
    .toDF("__time", "dim1", "dim2", "cnt")

  private lazy val numfoo: DataFrame = Seq(
    ("", Option("a"), Option(7L)), ("10.1", None: Option[String], Option(325323L)),
    ("2", Option(""), Option(0L)), ("1", Option("a"), None: Option[Long]),
    ("def", Option("abc"), None: Option[Long]), ("abc", None: Option[String], None: Option[Long]))
    .toDF("dim1", "dim2", "l2")

  private lazy val registered: Unit = {
    foo.createOrReplaceTempView("foo")
    numfoo.createOrReplaceTempView("numfoo")
    foo.createOrReplaceTempView("foo2")
    // the reference's view definitions (BaseCalciteQueryTest.java:1027)
    PlannerResources.createView(spark, "aview",
      "SELECT SUBSTRING(dim1, 1, 1) AS dim1_firstchar FROM foo WHERE dim2 = 'a'")
    PlannerResources.createView(spark, "cview",
      """SELECT SUBSTRING(bar.dim1, 1, 1) AS dim1_firstchar, bar.dim2 as dim2, dnf.l2 as l2
        |FROM (SELECT * from foo WHERE dim2 = 'a') as bar INNER JOIN numfoo dnf ON bar.dim2 = dnf.dim2""".stripMargin)
    PlannerResources.createView(spark, "dview",
      "SELECT SUBSTRING(dim1, 1, 1) AS numfoo FROM foo WHERE dim2 = 'a'")
  }

  private def analyze(sql: String,
      context: Map[String, Any] = Map.empty,
      authorizeSysTables: Boolean = false,
      authorizeQueryContextParams: Boolean = false): Set[ResourceAction] = {
    registered
    PlannerResources.analyze(spark, sql, context, authorizeSysTables,
      authorizeQueryContextParams)
  }

  test("testTable (DruidPlannerResourceAnalyzeTest.java:41)") {
    assert(analyze("SELECT COUNT(*) FROM foo WHERE foo.dim1 <> 'z'") ==
      Set(read("foo", "DATASOURCE")))
  }

  test("testConfusingTable (:60) — an alias named druid stays an alias") {
    assert(analyze("SELECT COUNT(*) FROM foo as druid WHERE druid.dim1 <> 'z'") ==
      Set(read("foo", "DATASOURCE")))
  }

  test("testSubquery (:79) — IN-subquery tables are resources too") {
    assert(analyze(
      """SELECT COUNT(*) FROM (
        |  SELECT DISTINCT dim2 FROM druid.foo
        |  WHERE SUBSTRING(dim2, 1, 1) IN (
        |    SELECT SUBSTRING(dim1, 1, 1) FROM druid.numfoo WHERE dim1 IS NOT NULL))""".stripMargin) ==
      Set(read("foo", "DATASOURCE"), read("numfoo", "DATASOURCE")))
  }

  test("testSubqueryUnion (:103)") {
    assert(analyze(
      """SELECT SUM(cnt), COUNT(*) FROM (
        |  SELECT dim2, SUM(cnt) AS cnt
        |  FROM (SELECT * FROM druid.foo UNION ALL SELECT * FROM druid.foo2)
        |  GROUP BY dim2)""".stripMargin) ==
      Set(read("foo", "DATASOURCE"), read("foo2", "DATASOURCE")))
  }

  test("testJoin (:131)") {
    assert(analyze(
      "SELECT COUNT(*) FROM foo INNER JOIN numfoo ON foo.dim1 = numfoo.dim1 WHERE numfoo.dim1 <> 'z'") ==
      Set(read("foo", "DATASOURCE"), read("numfoo", "DATASOURCE")))
  }

  test("testView (:151) — the view is the resource, its tables are not expanded") {
    assert(analyze("SELECT COUNT(*) FROM view.aview as druid WHERE dim1_firstchar <> 'z'") ==
      Set(read("aview", "VIEW")))
  }

  test("testSubqueryView (:170)") {
    assert(analyze(
      """SELECT COUNT(*) FROM (
        |  SELECT DISTINCT dim2 FROM druid.foo
        |  WHERE SUBSTRING(dim2, 1, 1) IN (
        |    SELECT SUBSTRING(dim1, 1, 1) FROM view.cview WHERE dim2 IS NOT NULL))""".stripMargin) ==
      Set(read("foo", "DATASOURCE"), read("cview", "VIEW")))
  }

  test("testJoinView (:197)") {
    assert(analyze(
      "SELECT COUNT(*) FROM view.cview as aview INNER JOIN numfoo ON aview.dim2 = numfoo.dim2 WHERE numfoo.dim1 <> 'z'") ==
      Set(read("cview", "VIEW"), read("numfoo", "DATASOURCE")))
  }

  test("testConfusingViewIdentifiers (:218) — dview's column is named numfoo") {
    assert(analyze("SELECT COUNT(*) FROM view.dview as druid WHERE druid.numfoo <> 'z'") ==
      Set(read("dview", "VIEW")))
  }

  test("testDynamicParameters (:236) — unbound ? carries no resources") {
    assert(analyze(
      "SELECT SUBSTRING(dim2, CAST(? as BIGINT), CAST(? as BIGINT)) FROM druid.foo LIMIT ?") ==
      Set(read("foo", "DATASOURCE")))
    // a ? inside a block comment or a string literal is not a parameter:
    // the quote in the comment must not open a literal that would swallow
    // the real ? after it
    assert(analyze(
      "SELECT dim1 FROM druid.foo /* it's ? */ WHERE dim2 = '?' LIMIT ?") ==
      Set(read("foo", "DATASOURCE")))
  }

  test("testSysTables (:255) — resources only under authorizeSysTables") {
    val sysTables = Seq("segments", "servers", "server_segments", "tasks", "supervisors")
    for (t <- sysTables) {
      assert(analyze(s"SELECT * FROM sys.$t") == Set.empty[ResourceAction])
      assert(analyze(s"SELECT * FROM sys.$t", authorizeSysTables = true) ==
        Set(read(t, "SYSTEM_TABLE")))
    }
  }

  test("testSysTableWithQueryContext (:303)") {
    val ctx = Map[String, Any]("baz" -> "fo", "nested-bar" -> Map("nested-key" -> "nested-val"))
    for (t <- Seq("segments", "servers", "tasks")) {
      assert(analyze(s"SELECT * FROM sys.$t", ctx, authorizeQueryContextParams = true) ==
        Set(write("baz", "QUERY_CONTEXT"), write("nested-bar", "QUERY_CONTEXT")))
      assert(analyze(s"SELECT * FROM sys.$t", ctx, authorizeSysTables = true,
        authorizeQueryContextParams = true) ==
        Set(read(t, "SYSTEM_TABLE"),
          write("baz", "QUERY_CONTEXT"), write("nested-bar", "QUERY_CONTEXT")))
    }
  }

  test("testQueryContext (:337) — context keys are WRITE actions") {
    assert(analyze("SELECT COUNT(*) FROM foo WHERE foo.dim1 <> 'z'",
      Map("baz" -> "fo", "nested-bar" -> Map("nested-key" -> "nested-val")),
      authorizeQueryContextParams = true) ==
      Set(read("foo", "DATASOURCE"),
        write("baz", "QUERY_CONTEXT"), write("nested-bar", "QUERY_CONTEXT")))
  }

  test("INSERT analysis — the target is a DATASOURCE WRITE, EXTERN is the EXTERNAL resource") {
    // the InsertDml corpus' expectResources shape (CalciteInsertDmlTest
    // .testInsertFromTable: read foo + write dst; testExplainInsertFromExternal:
    // the fixed EXTERNAL resource + write dst)
    assert(analyze("INSERT INTO dst SELECT * FROM foo PARTITIONED BY ALL TIME") ==
      Set(read("foo", "DATASOURCE"), write("dst", "DATASOURCE")))
    assert(analyze(
      """INSERT INTO dst SELECT * FROM TABLE(EXTERN('{"type":"inline","data":"a,b,1"}',
        |'{"type":"csv","columns":["x","y","z"]}',
        |'[{"name":"x","type":"STRING"},{"name":"y","type":"STRING"},{"name":"z","type":"LONG"}]'))
        |PARTITIONED BY ALL TIME""".stripMargin.replace("\n", " ")) ==
      Set(read("EXTERNAL", "EXTERNAL"), write("dst", "DATASOURCE")))
  }
}
