package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.HttpFacade
import graft.sources.Sources

/** SqlResourceTest golden tranche — the reference's SQL HTTP surface
  * (sql/src/test/.../http/SqlResourceTest.java): the five ResultFormats with
  * their exact header and termination bytes, the QueryException error
  * envelope, and the X-Druid-SQL-Query-Id response header.
  *
  * Fixture: the reference's `foo` (CalciteTests.java:417-528 RAW_ROWS1),
  * minus unique_dim1 (a Druid hyperUnique complex column — segment-level
  * state with no table-column analog here).
  * Queries alias the computed column to EXPR$8 explicitly where Calcite
  * auto-names it.
  *
  * Documented renderings where the engines' column typing differs:
  * multi-value dim3 is a real ARRAY<STRING> column on this engine, so rows
  * carry JSON arrays (and type headers say ARRAY<STRING>/ARRAY) where Druid
  * SQL stringifies MV values and types them STRING/VARCHAR; a ROW value
  * renders as Spark's field-named object rather than Calcite's positional
  * array — the header typing (null Druid type, SQL type ROW) matches.
  */
class SqlResourceGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), 1L, "",     Option("a"),   Seq("a", "b"),     1.0f, 1.0),
    (ts("2000-01-02 00:00:00"), 1L, "10.1", None,          Seq("b", "c"),     2.0f, 2.0),
    (ts("2000-01-03 00:00:00"), 1L, "2",    Option(""),    Seq("d"),          3.0f, 3.0),
    (ts("2001-01-01 00:00:00"), 1L, "1",    Option("a"),   Seq(""),           4.0f, 4.0),
    (ts("2001-01-02 00:00:00"), 1L, "def",  Option("abc"), null: Seq[String], 5.0f, 5.0),
    (ts("2001-01-03 00:00:00"), 1L, "abc",  None,          null: Seq[String], 6.0f, 6.0)
  ).toDF("__time", "cnt", "dim1", "dim2", "dim3", "m1", "m2")

  /** POST a SqlQuery body; returns (status, raw body, X-Druid-SQL-Query-Id). */
  private def post(port: Int, body: String): (Int, String, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/druid/v2/sql"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body(),
      resp.headers().firstValue("X-Druid-SQL-Query-Id").orElse(""))
  }

  private def withFacade[A](f: Int => A): A = {
    foo.createOrReplaceTempView("foo")
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try f(facade.port) finally facade.stop()
  }

  // the result-format family's shared query (SqlResourceTest.java:531) —
  // EXPR$8 aliased explicitly (Spark names expression columns differently)
  private val StarQuery =
    "SELECT *, CASE dim2 WHEN '' THEN dim2 END AS `EXPR$8` " +
      "FROM foo ORDER BY __time LIMIT 2"

  private val Row1Obj =
    """{"__time":"2000-01-01T00:00:00.000Z","cnt":1,"dim1":"","dim2":"a",""" +
      """"dim3":["a","b"],"m1":1.0,"m2":1.0,"EXPR$8":null}"""
  private val Row2Obj =
    """{"__time":"2000-01-02T00:00:00.000Z","cnt":1,"dim1":"10.1","dim2":null,""" +
      """"dim3":["b","c"],"m1":2.0,"m2":2.0,"EXPR$8":null}"""
  private val Row1Arr =
    """["2000-01-01T00:00:00.000Z",1,"","a",["a","b"],1.0,1.0,null]"""
  private val Row2Arr =
    """["2000-01-02T00:00:00.000Z",1,"10.1",null,["b","c"],2.0,2.0,null]"""

  // SqlResourceTest.java:120-127 minus unique_dim1; dim3 typed honestly
  private val HeaderNames =
    """["__time","cnt","dim1","dim2","dim3","m1","m2","EXPR$8"]"""
  private val HeaderTypes =
    """["LONG","LONG","STRING","STRING","ARRAY<STRING>","FLOAT","DOUBLE","STRING"]"""
  private val HeaderSqlTypes =
    """["TIMESTAMP","BIGINT","VARCHAR","VARCHAR","ARRAY","FLOAT","DOUBLE","VARCHAR"]"""

  test("testCountStar (SqlResourceTest.java:336)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT COUNT(*) AS cnt, 'foo' AS a FROM foo"}""")
      assert(status == 200)
      assert(body == """[{"cnt":6,"a":"foo"}]""" + "\n")
    }
  }

  test("testTimestampsInResponse (:374) — ISO millis UTC") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT __time, CAST(__time AS DATE) AS t2 FROM foo ORDER BY __time LIMIT 1"}""")
      assert(status == 200)
      val row = JsonMethods.parse(body).asInstanceOf[JArray].arr.head
      assert((row \ "__time") == JString("2000-01-01T00:00:00.000Z"))
    }
  }

  test("testTimestampsInResponseWithParameterizedLimit (:397)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT __time, CAST(__time AS DATE) AS t2 FROM foo ORDER BY __time LIMIT ?",
            "parameters": [{"type":"INTEGER","value":1}]}""")
      assert(status == 200)
      assert(body ==
        """[{"__time":"2000-01-01T00:00:00.000Z","t2":"2000-01-01T00:00:00.000Z"}]""" + "\n")
    }
  }

  test("testTimestampsInResponseWithNulls (:443) — null timestamp cell carried explicitly") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT MAX(__time) AS t1, MAX(CASE WHEN dim1 = 'non_existing' THEN __time END) AS t2 FROM foo"}""")
      assert(status == 200)
      // sql-compatible null mode: t2 is null, not Long.MIN's timestamp
      assert(body == """[{"t1":"2001-01-03T00:00:00.000Z","t2":null}]""" + "\n")
    }
  }

  test("testFieldAliasingGroupBy (:497) — sql-null mode groups null and '' apart") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT dim2 AS x, dim2 AS y FROM foo GROUP BY dim2 ORDER BY dim2 ASC NULLS FIRST"}""")
      assert(status == 200)
      assert(body == ("""[{"x":null,"y":null},{"x":"","y":""},""" +
        """{"x":"a","y":"a"},{"x":"abc","y":"abc"}]""" + "\n"))
    }
  }

  test("testFieldAliasingSelect (:474) — duplicate aliases both render") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT dim2 AS x, dim2 AS y FROM foo WHERE dim2 = 'a' LIMIT 1"}""")
      assert(status == 200)
      assert(body == """[{"x":"a","y":"a"}]""" + "\n")
    }
  }

  test("testArrayResultFormat (:530)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "array"}""")
      assert(status == 200)
      assert(body == s"[$Row1Arr,$Row2Arr]\n")
    }
  }

  test("testArrayResultFormatWithHeader (:638) — names + types + sqlTypes rows") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "array",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      assert(body ==
        s"[$HeaderNames,$HeaderTypes,$HeaderSqlTypes,$Row1Arr,$Row2Arr]\n")
    }
  }

  test("testArrayResultFormatWithHeader_nullColumnType (:679) — ROW: null Druid type") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT struct(1, 2) AS `EXPR$0`",
            "resultFormat": "array",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      val rows = JsonMethods.parse(body).asInstanceOf[JArray].arr
      assert(rows(0) == JArray(List(JString("EXPR$0"))))
      assert(rows(1) == JArray(List(JNull)))          // no Druid type
      assert(rows(2) == JArray(List(JString("ROW")))) // SQL type ROW
      // value: Spark renders the ROW with field names (reference: positional)
      assert((rows(3).asInstanceOf[JArray].arr.head \ "col1") == JInt(1))
    }
  }

  test("testArrayLinesResultFormat (:703) — 4 lines, blank-line trailer") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "arrayLines"}""")
      assert(status == 200)
      assert(body.split("\n", -1).toSeq == Seq(Row1Arr, Row2Arr, "", ""))
    }
  }

  test("testArrayLinesResultFormatWithHeader (:748) — 7 lines") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "arrayLines",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      assert(body.split("\n", -1).toSeq ==
        Seq(HeaderNames, HeaderTypes, HeaderSqlTypes, Row1Arr, Row2Arr, "", ""))
    }
  }

  test("testObjectResultFormat (:824) — nulls carried explicitly") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "object"}""")
      assert(status == 200)
      assert(body == s"[$Row1Obj,$Row2Obj]\n")
    }
  }

  test("testObjectLinesResultFormat (:870)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "objectLines"}""")
      assert(status == 200)
      assert(body.split("\n", -1).toSeq == Seq(Row1Obj, Row2Obj, "", ""))
    }
  }

  test("testObjectLinesResultFormatWithMinimalHeader (:927) — {col: null} header") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "objectLines", "header": true}""")
      assert(status == 200)
      val lines = body.split("\n", -1).toSeq
      assert(lines.length == 5)
      val expectedHeader = JObject(List("__time", "cnt", "dim1", "dim2",
        "dim3", "m1", "m2", "EXPR$8").map(_ -> (JNull: JValue)))
      assert(JsonMethods.parse(lines.head) == expectedHeader)
      assert(lines(1) == Row1Obj && lines(2) == Row2Obj)
      assert(lines(3) == "" && lines(4) == "")
    }
  }

  test("testObjectLinesResultFormatWithFullHeader (:987) — {type, sqlType} per column") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "objectLines",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      val lines = body.split("\n", -1).toSeq
      assert(lines.length == 5)
      val header = JsonMethods.parse(lines.head)
      assert((header \ "cnt") ==
        JObject("type" -> JString("LONG"), "sqlType" -> JString("BIGINT")))
      assert((header \ "__time") ==
        JObject("type" -> JString("LONG"), "sqlType" -> JString("TIMESTAMP")))
      assert((header \ "m1") ==
        JObject("type" -> JString("FLOAT"), "sqlType" -> JString("FLOAT")))
    }
  }

  test("testObjectLinesResultFormatWithFullHeader_nullColumnType (:1053)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT struct(1, 2) AS `EXPR$0`",
            "resultFormat": "objectLines",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      val header = JsonMethods.parse(body.split("\n", -1).head)
      assert((header \ "EXPR$0") ==
        JObject("type" -> JNull, "sqlType" -> JString("ROW")))
    }
  }

  test("testCsvResultFormat (:1082) — RFC-4180 quoting, blank-line trailer") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "csv"}""")
      assert(status == 200)
      assert(body.split("\n", -1).toSeq == Seq(
        """2000-01-01T00:00:00.000Z,1,,a,"[""a"",""b""]",1.0,1.0,""",
        """2000-01-02T00:00:00.000Z,1,10.1,,"[""b"",""c""]",2.0,2.0,""",
        "", ""))
    }
  }

  test("testCsvResultFormatWithHeaders (:1104)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "csv",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      val lines = body.split("\n", -1).toSeq
      assert(lines.take(3) == Seq(
        "__time,cnt,dim1,dim2,dim3,m1,m2,EXPR$8",
        "LONG,LONG,STRING,STRING,ARRAY<STRING>,FLOAT,DOUBLE,STRING",
        "TIMESTAMP,BIGINT,VARCHAR,VARCHAR,ARRAY,FLOAT,DOUBLE,VARCHAR"))
      assert(lines(3).startsWith("2000-01-01T00:00:00.000Z,1,,a,"))
    }
  }

  test("testCsvResultFormatWithHeaders_nullColumnType (:1129) — empty type cell") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT struct(1, 2) AS `EXPR$0`", "resultFormat": "csv",
            "header": true, "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      assert(body.split("\n", -1).take(3).toSeq == Seq("EXPR$0", "", "ROW"))
    }
  }

  test("testCannotParse (:1182) — 'SQL parse failed' QueryException at 400") {
    withFacade { port =>
      // the reference posts "FROM druid.foo"; Spark's grammar accepts the
      // Hive FROM-first form, so an unambiguously unparsable string stands
      // in to exercise the same parse-error surface
      val (status, body, _) = post(port, """{"query": "SELECT COUNT(*) FRM foo"}""")
      assert(status == 400)
      val err = JsonMethods.parse(body)
      // SqlPlanningException.PlanningError.SQL_PARSE_ERROR's code + class
      assert((err \ "error") == JString("SQL parse failed"))
      assert((err \ "errorClass") ==
        JString("org.apache.calcite.sql.parser.SqlParseException"))
      assert((err \ "host") == JNull)
      assert((err \ "errorMessage").isInstanceOf[JString])
    }
  }

  test("testCannotValidate (:1197) — unknown column is 'Plan validation failed'") {
    withFacade { port =>
      val (status, body, _) = post(port, """{"query": "SELECT dim4 FROM foo"}""")
      assert(status == 400)
      val err = JsonMethods.parse(body)
      assert((err \ "error") == JString("Plan validation failed"))
      assert((err \ "errorClass") ==
        JString("org.apache.calcite.tools.ValidationException"))
      assert((err \ "errorMessage").asInstanceOf[JString].s.contains("dim4"))
    }
  }

  test("testErrorResponseReturnSameQueryIdWhenSetInContext (:1296)") {
    withFacade { port =>
      val (status, _, queryId) = post(port,
        """{"query": "SELECT A ORDER BY 1", "context": {"sqlQueryId": "id123"}}""")
      assert(status != 200)
      assert(queryId == "id123")
    }
  }

  test("testErrorResponseReturnNewQueryIdWhenNotSetInContext (:1314)") {
    withFacade { port =>
      val (status, _, queryId) = post(port, """{"query": "SELECT A ORDER BY 1"}""")
      assert(status != 200)
      assert(queryId.nonEmpty)
    }
  }

  test("success responses also carry X-Druid-SQL-Query-Id (SqlResource.java:173)") {
    withFacade { port =>
      val (status, _, queryId) = post(port,
        """{"query": "SELECT COUNT(*) AS cnt FROM foo", "context": {"sqlQueryId": "ok1"}}""")
      assert(status == 200)
      assert(queryId == "ok1")
    }
  }

  test("resultFormat parses case-insensitively and canonicalizes to the " +
      "enum spelling (ResultFormatTest.testDeserializeWithDifferentCase, " +
      "testSerde)") {
    withFacade { port =>
      for (spelling <- Seq("OBJECTLINES", "objectlines", "oBjEcTlInEs")) {
        val (status, body, _) = post(port,
          s"""{"query": "SELECT COUNT(*) AS cnt FROM foo", "resultFormat": "$spelling"}""")
        assert(status == 200)
        assert(body == "{\"cnt\":6}\n\n")
      }
    }
    // testSerde: any casing canonicalizes to the enum's own spelling —
    // observable through each format's writer (termination/content shape)
    withFacade { port =>
      val (_, arrayBody, _) = post(port,
        """{"query": "SELECT COUNT(*) AS cnt FROM foo", "resultFormat": "ARRAY"}""")
      assert(arrayBody == "[[6]]\n")
      val (_, csvBody, _) = post(port,
        """{"query": "SELECT COUNT(*) AS cnt FROM foo", "resultFormat": "CSV"}""")
      assert(csvBody == "6\n\n")
      val (_, linesBody, _) = post(port,
        """{"query": "SELECT COUNT(*) AS cnt FROM foo", "resultFormat": "ArrayLines"}""")
      assert(linesBody == "[6]\n\n")
    }
  }

  test("testCountStarExtendedCharacters (SqlResourceTest.java:354) — " +
      "non-Latin literals through the HTTP body") {
    Seq(("ㅑ ㅓ ㅕ ㅗ ㅛ ㅜ ㅠ ㅡ ㅣ", 1L), ("plain", 2L))
      .toDF("dimMultivalEnumerated", "n")
      .createOrReplaceTempView("lotsocolumns")
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT COUNT(*) AS cnt FROM lotsocolumns WHERE dimMultivalEnumerated = 'ㅑ ㅓ ㅕ ㅗ ㅛ ㅜ ㅠ ㅡ ㅣ'"}""")
      assert(status == 200)
      assert(body == "[{\"cnt\":1}]\n")
    }
  }

  test("testTimestampsInResponseLosAngelesTimeZone (:420) — sqlTimeZone " +
      "context evaluates AND renders in the query's zone") {
    withFacade { port =>
      val (status, body, _) = post(port,
        """{"query": "SELECT __time, CAST(__time AS DATE) AS t2 FROM foo LIMIT 1",
           "context": {"sqlTimeZone": "America/Los_Angeles"}}""")
      assert(status == 200)
      val row = JsonMethods.parse(body).asInstanceOf[JArray].arr.head
      assert((row \ "__time") == JString("1999-12-31T16:00:00.000-08:00"))
      assert((row \ "t2") == JString("1999-12-31T00:00:00.000-08:00"))
    }
  }

  test("sqlTimeZone also reads the statement's time literals: a TIMESTAMP " +
      "literal is an instant in the query's zone") {
    withFacade { port =>
      for (lit <- Seq("TIMESTAMP", "TIMESTAMP_LTZ")) {
        val q = s"SELECT COUNT(*) AS c FROM foo WHERE __time >= $lit '2000-01-02 00:00:00'"
        // 2000-01-02T08:00Z in Los Angeles: the 2000-01-02 row falls out
        val (s1, la, _) = post(port,
          s"""{"query": "$q", "context": {"sqlTimeZone": "America/Los_Angeles"}}""")
        assert(s1 == 200 && la == "[{\"c\":4}]\n", s"$lit: $la")
        val (s2, utc, _) = post(port, s"""{"query": "$q"}""")
        assert(s2 == 200 && utc == "[{\"c\":5}]\n", s"$lit: $utc")
      }
    }
  }

  test("testArrayLinesResultFormatWithHeader_nullColumnType (:796) — a ROW " +
      "value has no Druid type (null) and SQL type ROW in the type headers") {
    withFacade { port =>
      // Spark's ROW constructor spelling (Calcite: SELECT (1, 2));
      // documented rendering deviation: the row cell is a field-named
      // object, not Calcite's positional array — the HEADER typing is the
      // point of the reference test and matches exactly
      val (status, body, _) = post(port,
        """{"query": "SELECT struct(1, 2) AS `EXPR$0`",
           "resultFormat": "arrayLines", "header": true,
           "typesHeader": true, "sqlTypesHeader": true}""")
      assert(status == 200)
      val lines = body.split("\n", -1).toList
      assert(lines.size == 6)
      assert(lines(0) == """["EXPR$0"]""")
      assert(lines(1) == "[null]")   // no Druid type for ROW
      assert(lines(2) == """["ROW"]""")
      assert(JsonMethods.parse(lines(3)).isInstanceOf[JArray])
      assert(lines(4) == "" && lines(5) == "")
    }
  }

  test("testTooManyRequests (:1411) — concurrent queries beyond the " +
      "capacity answer 429 'Query capacity exceeded'") {
    foo.createOrReplaceTempView("foo")
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      maxConcurrentQueries = 1)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // a query slow enough to hold the only slot while the others arrive
      val slow = """{"query":
        "SELECT COUNT(*) AS cnt, 'foo' AS TheFoo FROM foo CROSS JOIN range(40000000)",
        "context": {"sqlQueryId": "tooManyRequestsTest"}}"""
      val futures = (1 to 3).map(_ => Future(post(facade.port, slow)))
      val results = Await.result(Future.sequence(futures), 180.seconds)
      val statuses = results.map(_._1)
      assert(statuses.contains(200))
      assert(statuses.contains(429))
      results.filter(_._1 == 429).foreach { case (_, body, _) =>
        val e = JsonMethods.parse(body)
        assert((e \ "error") == JString("Query capacity exceeded"))
        assert((e \ "errorMessage").asInstanceOf[JString].s
          .startsWith("Too many concurrent queries, total query capacity of 1 exceeded"))
      }
      results.filter(_._1 == 200).foreach { case (_, body, _) =>
        assert(body == "[{\"cnt\":240000000,\"TheFoo\":\"foo\"}]\n")
      }
    } finally facade.stop()
  }

  test("useApproximateCountDistinct context plans COUNT(DISTINCT) approximately " +
      "(PlannerConfig.useApproximateCountDistinct)") {
    foo.createOrReplaceTempView("foo")
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val q = """SELECT COUNT(DISTINCT dim1) AS cnt FROM foo"""
      // exact by default
      val (s1, b1, _) = post(facade.port, s"""{"query": "$q"}""")
      assert(s1 == 200 && b1 == "[{\"cnt\":6}]\n")
      // approximate on request: HLL++ is exact at this tiny cardinality,
      // and the plan no longer carries a distinct aggregate
      val (s2, b2, _) = post(facade.port,
        s"""{"query": "$q", "context": {"useApproximateCountDistinct": true}}""")
      assert(s2 == 200 && b2 == "[{\"cnt\":6}]\n")
      val plan = graft.plans.PlannerChecks.approximateCountDistinct(
        spark.sql(q)).queryExecution.executedPlan.toString
      assert(!plan.contains("Expand") && plan.contains("approx_count_distinct"))
    } finally facade.stop()
  }

  test("sqlOuterLimit context caps the outermost result (PlannerContext.CTX_SQL_OUTER_LIMIT)") {
    foo.createOrReplaceTempView("foo")
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val (s1, b1, _) = post(facade.port,
        """{"query": "SELECT dim1 FROM foo ORDER BY dim1",
            "context": {"sqlOuterLimit": 2}}""")
      assert(s1 == 200)
      assert(JsonMethods.parse(b1).asInstanceOf[JArray].arr.size == 2)
      // without the context the full 6 rows return
      val (s2, b2, _) = post(facade.port, """{"query": "SELECT dim1 FROM foo"}""")
      assert(s2 == 200)
      assert(JsonMethods.parse(b2).asInstanceOf[JArray].arr.size == 6)
    } finally facade.stop()
  }

  test("testTooManyQueryInLane (QueryResourceTest.java:1115) — the low lane " +
      "fills before total capacity; negative priority routes there implicitly " +
      "(HiLoQueryLaningStrategy.java:76-85)") {
    foo.createOrReplaceTempView("foo")
    // total 2, maxLowPercent 50 → the low lane holds exactly 1
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      maxConcurrentQueries = 2, maxLowPercent = 50)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val slowLow = """{"query":
        "SELECT COUNT(*) AS cnt FROM foo CROSS JOIN range(40000000)",
        "context": {"lane": "low"}}"""
      val slowNegPriority = """{"query":
        "SELECT COUNT(*) AS cnt FROM foo CROSS JOIN range(40000000)",
        "context": {"priority": -1}}"""
      val fast = """{"query": "SELECT COUNT(*) AS cnt FROM foo"}"""
      // two low-lane queries race for the single low permit — whether lane
      // is explicit or implied by negative priority — while a default-lane
      // query still fits in the remaining total capacity
      val futures = Seq(slowLow, slowNegPriority).map(q => Future(post(facade.port, q)))
      Thread.sleep(300)
      val (fastStatus, _, _) = post(facade.port, fast)
      val results = Await.result(Future.sequence(futures), 180.seconds)
      val statuses = results.map(_._1)
      assert(fastStatus == 200)
      assert(statuses.contains(429))
      results.filter(_._1 == 429).foreach { case (_, body, _) =>
        val e = JsonMethods.parse(body)
        assert((e \ "error") == JString("Query capacity exceeded"))
        assert((e \ "errorMessage").asInstanceOf[JString].s.startsWith(
          "Too many concurrent queries for lane 'low', query capacity of 1 exceeded"))
      }
    } finally facade.stop()
  }

  test("runtime failure mid-result → clean QueryException envelope " +
      "(testObjectResultFormatWithErrorAfterFirstRow :582 family, DEVIATION: " +
      "results materialize at the broker before streaming, so no truncated " +
      "bodies — the trailer bytes the reference adds to detect truncation " +
      "are always present on success here)") {
    withFacade { port =>
      // fails at execution time, after planning succeeded — the reference's
      // five *WithErrorAfterFirstRow tests (:582,:596,:610 object/array/
      // objectLines/arrayLines/csv) would emit a truncated body
      val (status, body, _) = post(port,
        """{"query": "SELECT CASE WHEN cnt > 0 THEN raise_error('mid-stream failure') ELSE 'x' END AS c FROM foo"}""")
      assert(status == 500)
      val e = JsonMethods.parse(body)
      assert((e \ "error") == JString("Unknown exception"))
      assert((e \ "errorMessage").asInstanceOf[JString].s.contains("mid-stream failure"))
    }
  }

  test("testCannotConvert (:1212) / testCannotConvert_UnsupportedSQLQueryException " +
      "(:1236) — SUPERSET: queries the reference cannot plan run here") {
    withFacade { port =>
      // "SELECT + ORDER unsupported" in the reference (order by non-time
      // column on a scan); Catalyst plans it fine
      val (s1, body1, _) = post(port,
        """{"query": "SELECT dim1 FROM foo ORDER BY dim1", "resultFormat": "array"}""")
      assert(s1 == 200)
      assert(body1 == """[[""],["1"],["10.1"],["2"],["abc"],["def"]]""" + "\n")
      // max aggregation on a string type (UnsupportedSQLQueryException in
      // the reference's rules) also plans here
      val (s2, body2, _) = post(port,
        """{"query": "SELECT MAX(dim1) AS m FROM foo"}""")
      assert(s2 == 200)
      assert(body2 == "[{\"m\":\"def\"}]\n")
    }
  }

  test("typesHeader without header is rejected (SqlQuery.java:75-82)") {
    withFacade { port =>
      val (status, body, _) = post(port,
        s"""{"query": "$StarQuery", "resultFormat": "array", "typesHeader": true}""")
      // request validation thrown during SqlQuery body deserialization — a
      // bad request, not a server error
      assert(status == 400)
      assert(JsonMethods.parse(body) \ "errorMessage" ==
        JString("Cannot include 'typesHeader' without 'header'"))
    }
  }
}
