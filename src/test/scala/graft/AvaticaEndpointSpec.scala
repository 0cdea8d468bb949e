package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.HttpFacade
import graft.sources.Sources

/** DruidAvaticaHandlerTest golden tranche over the raw Avatica JSON-RPC
  * wire (the reference serves Calcite Avatica's protocol at
  * DruidAvaticaJsonHandler.AVATICA_PATH `/druid/v2/sql/avatica/`;
  * sql/src/test/.../avatica/DruidAvaticaHandlerTest.java drives it through
  * a real JDBC client — here the same request/response cycle is asserted at
  * the protocol level, since the Avatica client jar is not a dependency).
  *
  * NON-GOAL (no user/authorization model on this engine — deployments
  * front the Spark driver with their own authn/z): the auth-split method
  * variants testDatabaseMetaDataTablesAsSuperuser (:481),
  * testDatabaseMetaDataColumnsOnForbiddenDatasource (:633),
  * testDatabaseMetaDataColumnsWithSuperuser (:646) — every client here
  * sees the full (superuser) metadata, asserted by the unsplit ports of
  * getTables/getColumns above.
  */
class AvaticaEndpointSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // first rows of the reference foo fixture (CalciteTests.java:417-528)
  private lazy val foo: DataFrame = Seq(
    (ts("2000-01-01 00:00:00"), 1L, "",     Option("a"),   1.0f, 1.0),
    (ts("2000-01-02 00:00:00"), 1L, "10.1", None,          2.0f, 2.0),
    (ts("2000-01-03 00:00:00"), 1L, "2",    Option(""),    3.0f, 3.0),
    (ts("2001-01-01 00:00:00"), 1L, "1",    Option("a"),   4.0f, 4.0),
    (ts("2001-01-02 00:00:00"), 1L, "def",  Option("abc"), 5.0f, 5.0),
    (ts("2001-01-03 00:00:00"), 1L, "abc",  None,          6.0f, 6.0)
  ).toDF("__time", "cnt", "dim1", "dim2", "m1", "m2")

  private def postStatus(port: Int, path: String, body: String): (Int, JValue) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  private def post(port: Int, path: String, body: String): JValue =
    postStatus(port, path, body)._2

  /** Open a connection + statement, run `sql` via prepareAndExecute, return
    * the firstFrame rows (the JDBC executeQuery cycle). */
  private def query(port: Int, conn: String, sql: String,
      path: String = "/druid/v2/sql/avatica/"): (List[JValue], JValue) = {
    assert((post(port, path,
      s"""{"request":"openConnection","connectionId":"$conn"}""")
      \ "response") == JString("openConnection"))
    val created = post(port, path,
      s"""{"request":"createStatement","connectionId":"$conn"}""")
    val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
    val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("prepareAndExecute"),
      "connectionId" -> JString(conn), "statementId" -> JInt(sid),
      "sql" -> JString(sql), "maxRowCount" -> JInt(-1)))))
    assert((executed \ "response") == JString("executeResults"))
    val rs = (executed \ "results").asInstanceOf[JArray].arr.head
    ((rs \ "firstFrame" \ "rows").asInstanceOf[JArray].arr, rs \ "signature")
  }

  private def withFacade[A](f: Int => A): A = {
    foo.createOrReplaceTempView("foo")
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try f(facade.port) finally facade.stop()
  }

  test("testSelectCount (DruidAvaticaHandlerTest.java:256) — the full JDBC cycle") {
    withFacade { port =>
      val (rows, sig) = query(port, "c1", "SELECT COUNT(*) AS cnt FROM foo")
      assert(rows == List(JArray(List(JInt(6)))))
      val col = (sig \ "columns").asInstanceOf[JArray].arr.head
      assert((col \ "columnName") == JString("cnt"))
      assert((col \ "type" \ "name") == JString("BIGINT"))
      assert((col \ "type" \ "id") == JInt(-5)) // java.sql.Types.BIGINT
    }
  }

  test("testSelectCountNoTrailingSlash (:269)") {
    withFacade { port =>
      val (rows, _) = query(port, "c2", "SELECT COUNT(*) AS cnt FROM foo",
        path = "/druid/v2/sql/avatica")
      assert(rows == List(JArray(List(JInt(6)))))
    }
  }

  test("testSelectCountAlternateStyle (:282) — prepare then execute") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"c3"}""")
      val prepared = post(port, path,
        """{"request":"prepare","connectionId":"c3",
           "sql":"SELECT COUNT(*) AS cnt FROM foo","maxRowCount":-1}""")
      assert((prepared \ "response") == JString("prepare"))
      val sid = (prepared \ "statement" \ "id").asInstanceOf[JInt].num.toInt
      val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("execute"),
        "statementHandle" -> JObject("connectionId" -> JString("c3"), "id" -> JInt(sid)),
        "parameterValues" -> JArray(Nil), "maxRowCount" -> JInt(-1)))))
      val rs = (executed \ "results").asInstanceOf[JArray].arr.head
      assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(JInt(6))))))
    }
  }

  test("testTimestampsInResponse (:295) — TIMESTAMP cells ride as epoch millis") {
    withFacade { port =>
      val (rows, sig) = query(port, "c4",
        "SELECT __time, CAST(__time AS DATE) AS t2 FROM foo ORDER BY __time LIMIT 1")
      // 2000-01-01T00:00:00Z = 946684800000 ms; epoch days = 10957
      assert(rows == List(JArray(List(JInt(946684800000L), JInt(10957L)))))
      val cols = (sig \ "columns").asInstanceOf[JArray].arr
      // epoch-millis wire cells → rep LONG (DruidStatement.rep:417)
      assert((cols(0) \ "type" \ "rep") == JString("LONG"))
      assert((cols(1) \ "type" \ "name") == JString("DATE"))
    }
  }

  test("testFieldAliasingSelect (:336)") {
    withFacade { port =>
      val (rows, sig) = query(port, "c5",
        "SELECT dim2 AS x, dim2 AS y FROM foo WHERE dim2 = 'a' LIMIT 1")
      assert(rows == List(JArray(List(JString("a"), JString("a")))))
      assert((sig \ "columns").asInstanceOf[JArray].arr.map(c =>
        (c \ "columnName").asInstanceOf[JString].s) == List("x", "y"))
    }
  }

  test("testSelectBoolean (:351)") {
    withFacade { port =>
      val (rows, _) = query(port, "c6",
        "SELECT dim2, dim2 IS NULL AS isnull FROM foo WHERE dim2 = 'a' LIMIT 1")
      assert(rows == List(JArray(List(JString("a"), JBool(false)))))
    }
  }

  test("testExplainSelectCount (:366) — PLAN + RESOURCES through JDBC") {
    withFacade { port =>
      val (rows, sig) = query(port, "c7",
        "EXPLAIN PLAN FOR SELECT COUNT(*) AS cnt FROM foo")
      val row = rows.head.asInstanceOf[JArray].arr
      assert(row.head.asInstanceOf[JString].s.contains("Physical Plan"))
      assert(row(1).asInstanceOf[JString].s.contains("\"type\":\"DATASOURCE\""))
      assert((sig \ "columns").asInstanceOf[JArray].arr.map(c =>
        (c \ "columnName").asInstanceOf[JString].s) == List("PLAN", "RESOURCES"))
    }
  }

  test("testDatabaseMetaDataCatalogs (:388) — catalog row [druid]") {
    withFacade { port =>
      val rs = post(port, "/druid/v2/sql/avatica/",
        """{"request":"getCatalogs","connectionId":"m1"}""")
      assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(JString("druid"))))))
    }
  }

  test("testDatabaseMetaDataSchemas (:400) — TABLE_SCHEM druid / TABLE_CATALOG druid") {
    withFacade { port =>
      val rs = post(port, "/druid/v2/sql/avatica/",
        """{"request":"getSchemas","connectionId":"m2","schemaPattern":{"s":"druid"}}""")
      assert((rs \ "firstFrame" \ "rows") ==
        JArray(List(JArray(List(JString("druid"), JString("druid"))))))
    }
  }

  test("testDatabaseMetaDataTables (:412) — TABLE rows for the registered tables") {
    withFacade { port =>
      val rs = post(port, "/druid/v2/sql/avatica/",
        """{"request":"getTables","connectionId":"m3","tableNamePattern":{"s":"foo"}}""")
      assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(
        JString("druid"), JString("druid"), JString("foo"), JString("TABLE"))))))
    }
  }

  test("testDatabaseMetaDataColumns (:555) — JDBC type ids + IS_NULLABLE") {
    withFacade { port =>
      val rs = post(port, "/druid/v2/sql/avatica/",
        """{"request":"getColumns","connectionId":"m4","tableNamePattern":{"s":"foo"}}""")
      val rows = (rs \ "firstFrame" \ "rows").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JArray].arr)
      val byName = rows.map(r => r(3).asInstanceOf[JString].s -> r).toMap
      // (TABLE_CAT, TABLE_SCHEM, TABLE_NAME, COLUMN_NAME, DATA_TYPE,
      //  TYPE_NAME, ORDINAL_POSITION, IS_NULLABLE)
      assert(byName("__time")(4) == JInt(93) && byName("__time")(5) == JString("TIMESTAMP"))
      assert(byName("cnt")(4) == JInt(-5) && byName("cnt")(5) == JString("BIGINT"))
      assert(byName("dim1")(4) == JInt(12) && byName("dim1")(5) == JString("VARCHAR"))
      assert(byName("m1")(4) == JInt(6) && byName("m1")(5) == JString("FLOAT"))
      assert(byName("m2")(4) == JInt(8) && byName("m2")(5) == JString("DOUBLE"))
      assert(byName("dim2")(7) == JString("YES")) // nullable string
      assert(byName("__time")(2) == JString("foo"))
    }
  }

  /** Drive an endpoint (custom frame config) at the protocol level. */
  private def rpc(ep: graft.server.AvaticaEndpoint, body: String): JValue =
    JsonMethods.parse(ep.handle(body)._2)

  test("testMaxRowsPerFrame (:865) — a small server-side frame cap chunks " +
      "results into frames continued by fetch") {
    foo.createOrReplaceTempView("foo")
    // the reference test configures the SERVER with maxRowsPerFrame=2
    // (the min floor coerces down to the cap: AvaticaServerConfig:76)
    val ep = new graft.server.AvaticaEndpoint(spark, "test", maxRowsPerFrame = 2)
    rpc(ep, """{"request":"openConnection","connectionId":"f1"}""")
    val created = rpc(ep, """{"request":"createStatement","connectionId":"f1"}""")
    val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
    val executed = rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("prepareAndExecute"),
      "connectionId" -> JString("f1"), "statementId" -> JInt(sid),
      "sql" -> JString("SELECT dim1 FROM foo ORDER BY __time"),
      "maxRowCount" -> JInt(-1), "maxRowsInFirstFrame" -> JInt(-1)))))
    val first = (executed \ "results").asInstanceOf[JArray].arr.head \ "firstFrame"
    assert((first \ "done") == JBool(false))
    assert((first \ "rows").asInstanceOf[JArray].arr.size == 2)
    // continuation fetches are also capped at 2 rows per frame
    val fetched = rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("fetch"),
      "connectionId" -> JString("f1"), "statementId" -> JInt(sid),
      "offset" -> JInt(2), "fetchMaxRowCount" -> JInt(100)))))
    assert((fetched \ "frame" \ "done") == JBool(false))
    assert((fetched \ "frame" \ "rows").asInstanceOf[JArray].arr.map(
      _.asInstanceOf[JArray].arr.head.asInstanceOf[JString].s) == List("2", "1"))
    val last = rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("fetch"),
      "connectionId" -> JString("f1"), "statementId" -> JInt(sid),
      "offset" -> JInt(4), "fetchMaxRowCount" -> JInt(100)))))
    assert((last \ "frame" \ "done") == JBool(true))
    assert((last \ "frame" \ "rows").asInstanceOf[JArray].arr.map(
      _.asInstanceOf[JArray].arr.head.asInstanceOf[JString].s) == List("def", "abc"))
  }

  test("testMinRowsPerFrame (:954) — a client fetch size below the server " +
      "minimum is coerced up; the whole result rides the first frame") {
    foo.createOrReplaceTempView("foo")
    val ep = new graft.server.AvaticaEndpoint(spark, "test",
      maxRowsPerFrame = 5000, minRowsPerFrame = 1000)
    rpc(ep, """{"request":"openConnection","connectionId":"mf1"}""")
    val created = rpc(ep, """{"request":"createStatement","connectionId":"mf1"}""")
    val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
    // client asks for 2-row frames (statement.setFetchSize(2))
    val executed = rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("prepareAndExecute"),
      "connectionId" -> JString("mf1"), "statementId" -> JInt(sid),
      "sql" -> JString("SELECT dim1 FROM foo ORDER BY __time"),
      "maxRowCount" -> JInt(-1), "maxRowsInFirstFrame" -> JInt(2)))))
    val first = (executed \ "results").asInstanceOf[JArray].arr.head \ "firstFrame"
    // minimum threshold used → everything in the first frame, no fetches
    assert((first \ "done") == JBool(true))
    assert((first \ "rows").asInstanceOf[JArray].arr.map(
      _.asInstanceOf[JArray].arr.head.asInstanceOf[JString].s) ==
      List("", "10.1", "2", "1", "def", "abc"))
  }

  test("testConcurrentQueries (:717) — parallel clients over the pooled " +
      "server each get their own correct result") {
    withFacade { port =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // the reference drives 2000 queries through a small worker pool over
      // shared client state; here 4 workers × 10 sequential queries, each
      // closing its connection (staying under the 25-connection cap)
      val futures = (0 until 4).map { w =>
        Future {
          (0 until 10).map { j =>
            val i = w * 10 + j
            val conn = s"cc${w}_$j"
            val (rows, _) = query(port, conn, s"SELECT COUNT(*) + $i AS ci FROM foo")
            post(port, "/druid/v2/sql/avatica/",
              s"""{"request":"closeConnection","connectionId":"$conn"}""")
            rows match {
              case List(JArray(List(JInt(n)))) => (i, n.toInt)
              case other => sys.error(s"unexpected rows: $other")
            }
          }
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds).flatten
      results.foreach { case (i, ci) => assert(ci == i + 6) }
    }
  }

  test("testArrayStuffs (:1370) — ARRAY_AGG columns ride frames as JSON " +
      "arrays with ARRAY signature type") {
    withFacade { port =>
      val (rows, sig) = query(port, "arr1",
        "SELECT ARRAY_AGG(dim1) AS arr1, ARRAY_AGG(cnt) AS arr2 FROM foo")
      assert(rows.size == 1)
      val row = rows.head.asInstanceOf[JArray].arr
      assert(row(0).asInstanceOf[JArray].arr.collect { case JString(s) => s }.toSet ==
        Set("", "10.1", "2", "1", "def", "abc"))
      assert(row(1).asInstanceOf[JArray].arr == List.fill(6)(JInt(1)))
      val cols = (sig \ "columns").asInstanceOf[JArray].arr
      assert(cols.forall(c => (c \ "type" \ "name") == JString("ARRAY")))
    }
  }

  test("testTooManyStatements (:748) — limit is[4] per connection") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"s1"}""")
      (1 to 4).foreach { _ =>
        assert((post(port, path,
          """{"request":"createStatement","connectionId":"s1"}""")
          \ "response") == JString("createStatement"))
      }
      val fifth = post(port, path,
        """{"request":"createStatement","connectionId":"s1"}""")
      assert((fifth \ "response") == JString("error"))
      assert((fifth \ "errorMessage").asInstanceOf[JString].s ==
        "Too many open statements, limit is[4]")
    }
  }

  test("statement close frees the slot (testNotTooManyStatementsWhenYouCloseThem :761)") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"s2"}""")
      (1 to 10).foreach { _ =>
        val created = post(port, path,
          """{"request":"createStatement","connectionId":"s2"}""")
        assert((created \ "response") == JString("createStatement"))
        val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
        post(port, path,
          s"""{"request":"closeStatement","connectionId":"s2","statementId":$sid}""")
      }
    }
  }

  test("testTooManyConnections (:835) — limit is[25] per broker (every " +
      "connection holds a statement, like the reference's test)") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      (1 to 25).foreach { i =>
        assert((post(port, path,
          s"""{"request":"openConnection","connectionId":"conn$i"}""")
          \ "response") == JString("openConnection"))
        // a live statement keeps the connection non-evictable
        assert((post(port, path,
          s"""{"request":"createStatement","connectionId":"conn$i"}""")
          \ "response") == JString("createStatement"))
      }
      val extra = post(port, path,
        """{"request":"openConnection","connectionId":"conn26"}""")
      assert((extra \ "response") == JString("error"))
      assert((extra \ "errorMessage").asInstanceOf[JString].s ==
        "Too many connections, limit is[25] per broker")
      // duplicate open is DruidMeta.java:769's "already open" error
      val dup = post(port, path,
        """{"request":"openConnection","connectionId":"conn1"}""")
      assert((dup \ "errorMessage").asInstanceOf[JString].s ==
        "Connection[conn1] already open.")
      (1 to 25).foreach { i =>
        post(port, path, s"""{"request":"closeConnection","connectionId":"conn$i"}""")
      }
    }
  }

  test("testNotTooManyConnectionsWhenTheyAreEmpty (:849) — at the cap, one " +
      "abandoned statement-less connection is evicted for the new opener") {
    foo.createOrReplaceTempView("foo")
    val ep = new graft.server.AvaticaEndpoint(spark, "test", maxConnections = 4)
    (1 to 4).foreach { i =>
      assert((rpc(ep, s"""{"request":"openConnection","connectionId":"e$i"}""")
        \ "response") == JString("openConnection"))
      // create + close a statement: the connection ends empty
      val sid = (rpc(ep, s"""{"request":"createStatement","connectionId":"e$i"}""")
        \ "statementId").asInstanceOf[JInt].num.toInt
      rpc(ep, s"""{"request":"closeStatement","connectionId":"e$i","statementId":$sid}""")
    }
    // a 5th open succeeds by clearing one abandoned connection
    assert((rpc(ep, """{"request":"openConnection","connectionId":"e5"}""")
      \ "response") == JString("openConnection"))
  }

  test("testNotTooManyStatementsWhenYouFullyIterateThem (:778) — a " +
      "fully-served result auto-closes its statement slot") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"it1"}""")
      (1 to 50).foreach { _ =>
        val created = post(port, path,
          """{"request":"createStatement","connectionId":"it1"}""")
        assert((created \ "response") == JString("createStatement"))
        val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
        val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
          "request" -> JString("prepareAndExecute"),
          "connectionId" -> JString("it1"), "statementId" -> JInt(sid),
          "sql" -> JString("SELECT COUNT(*) AS cnt FROM foo"),
          "maxRowCount" -> JInt(-1)))))
        val rs = (executed \ "results").asInstanceOf[JArray].arr.head
        assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(JInt(6))))))
      }
    }
  }

  test("testNotTooManyStatementsWhenTheyThrowErrors (:796) — a failed " +
      "execute releases the statement slot") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"er1"}""")
      (1 to 50).foreach { _ =>
        val created = post(port, path,
          """{"request":"createStatement","connectionId":"er1"}""")
        val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
        val failed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
          "request" -> JString("prepareAndExecute"),
          "connectionId" -> JString("er1"), "statementId" -> JInt(sid),
          "sql" -> JString("SELECT SUM(nonexistent) FROM foo"),
          "maxRowCount" -> JInt(-1)))))
        assert((failed \ "response") == JString("error"))
        // and a fresh statement still works right after
        val ok = post(port, path,
          """{"request":"createStatement","connectionId":"er1"}""")
        val sid2 = (ok \ "statementId").asInstanceOf[JInt].num.toInt
        val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
          "request" -> JString("prepareAndExecute"),
          "connectionId" -> JString("er1"), "statementId" -> JInt(sid2),
          "sql" -> JString("SELECT COUNT(*) AS cnt FROM foo"),
          "maxRowCount" -> JInt(-1)))))
        val rs = (executed \ "results").asInstanceOf[JArray].arr.head
        assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(JInt(6))))))
      }
    }
  }

  test("testParameterBinding (:1089) — TypedValue STRING bound to ?") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"p1"}""")
      val prepared = post(port, path,
        """{"request":"prepare","connectionId":"p1",
           "sql":"SELECT COUNT(*) AS cnt FROM foo WHERE dim1 = ? OR dim1 = ?",
           "maxRowCount":-1}""")
      val sid = (prepared \ "statement" \ "id").asInstanceOf[JInt].num.toInt
      val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("execute"),
        "statementHandle" -> JObject("connectionId" -> JString("p1"), "id" -> JInt(sid)),
        "parameterValues" -> JArray(List(
          JObject("type" -> JString("STRING"), "value" -> JString("abc")),
          JObject("type" -> JString("STRING"), "value" -> JString("def")))),
        "maxRowCount" -> JInt(-1)))))
      val rs = (executed \ "results").asInstanceOf[JArray].arr.head
      assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(JInt(2))))))
    }
  }

  test("testExtendedCharacters (:1135)") {
    withFacade { port =>
      val (rows, _) = query(port, "c8",
        "SELECT COUNT(*) AS cnt FROM foo WHERE dim1 = 'друид' OR dim1 <> ''")
      assert(rows == List(JArray(List(JInt(5)))))
    }
  }

  test("INSERT DML through JDBC reports the published count as updateCount") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"i1"}""")
      val created = post(port, path,
        """{"request":"createStatement","connectionId":"i1"}""")
      val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
      // unique target per JVM: the default ingest base persists on disk, so
      // a fixed name would append across suite runs and drift the count
      val target = s"dst_avatica_${System.nanoTime}"
      val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepareAndExecute"),
        "connectionId" -> JString("i1"), "statementId" -> JInt(sid),
        "sql" -> JString(
          s"INSERT INTO $target SELECT dim1, cnt FROM foo PARTITIONED BY ALL TIME"),
        "maxRowCount" -> JInt(-1)))))
      val rs = (executed \ "results").asInstanceOf[JArray].arr.head
      assert((rs \ "updateCount") == JInt(6))
      assert((rs \ "firstFrame" \ "done") == JBool(true))
    }
  }

  test("error responses carry HTTP 500 (Calcite AvaticaJsonHandler sends " +
      "ErrorResponse with 500; clients key off the status)") {
    withFacade { port =>
      val (status, body) = postStatus(port, "/druid/v2/sql/avatica/",
        """{"request":"createStatement","connectionId":"nope"}""")
      assert(status == 500)
      assert((body \ "response") == JString("error"))
      val (okStatus, _) = postStatus(port, "/druid/v2/sql/avatica/",
        """{"request":"openConnection","connectionId":"ok500"}""")
      assert(okStatus == 200)
    }
  }

  test("prepare never executes a non-query statement (DruidMeta.prepare only " +
      "plans; Spark would run command plans eagerly on spark.sql)") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"prep1"}""")
      // a Spark-parseable DDL command: if prepare planned it through
      // spark.sql, the view would be dropped here
      val prepared = post(port, path,
        """{"request":"prepare","connectionId":"prep1",
           "sql":"DROP VIEW foo","maxRowCount":-1}""")
      assert((prepared \ "response") == JString("prepare"))
      assert((prepared \ "statement" \ "signature" \ "columns") == JArray(Nil))
      // the view survives: prepare did not execute the command
      val (rows, _) = query(port, "prep2", "SELECT COUNT(*) AS cnt FROM foo")
      assert(rows == List(JArray(List(JInt(6)))))
    }
  }

  test("prepare of INSERT DML reports statementType INSERT without running " +
      "the ingest (Avatica Meta.StatementType fidelity)") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"prep3"}""")
      val target = s"dst_prepared_${System.nanoTime}"
      val prepared = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepare"), "connectionId" -> JString("prep3"),
        "sql" -> JString(
          s"INSERT INTO $target SELECT dim1, cnt FROM foo PARTITIONED BY ALL TIME"),
        "maxRowCount" -> JInt(-1)))))
      assert((prepared \ "statement" \ "signature" \ "statementType") == JString("INSERT"))
      // nothing was ingested at prepare time: the target datasource does
      // not exist until execute runs the ingest
      val err = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepareAndExecute"),
        "connectionId" -> JString("prep3"),
        "statementId" -> (prepared \ "statement" \ "id"),
        "sql" -> JString(s"SELECT COUNT(*) AS c FROM $target"),
        "maxRowCount" -> JInt(-1)))))
      assert((err \ "response") == JString("error")) // unresolved relation → never written
    }
  }

  test("getColumns metadata cursor types DATA_TYPE/ORDINAL_POSITION as " +
      "INTEGER (reference returns typed metadata columns, not all-VARCHAR)") {
    withFacade { port =>
      val rs = post(port, "/druid/v2/sql/avatica/",
        """{"request":"getColumns","connectionId":"mt1","tableNamePattern":{"s":"foo"}}""")
      val cols = (rs \ "signature" \ "columns").asInstanceOf[JArray].arr
      val byName = cols.map(c => (c \ "columnName").asInstanceOf[JString].s -> c).toMap
      assert((byName("DATA_TYPE") \ "type" \ "name") == JString("INTEGER"))
      assert((byName("ORDINAL_POSITION") \ "type" \ "name") == JString("INTEGER"))
      assert((byName("TYPE_NAME") \ "type" \ "name") == JString("VARCHAR"))
    }
  }

  test("testEscapingForGetColumns (:1165) — backslash escapes _ in patterns; " +
      "unescaped _ stays a wildcard; column-name patterns filter") {
    withFacade { port =>
      // two tables whose names differ only at the wildcard position
      foo.withColumnRenamed("m1", "m1_x").createOrReplaceTempView("some_datasource")
      foo.withColumnRenamed("m1", "m1_x").createOrReplaceTempView("somexdatasource")
      def tableNames(pattern: String): List[String] = {
        val rs = post(port, "/druid/v2/sql/avatica/",
          s"""{"request":"getTables","connectionId":"e1","tableNamePattern":{"s":"$pattern"}}""")
        (rs \ "firstFrame" \ "rows").asInstanceOf[JArray].arr
          .map(_.asInstanceOf[JArray].arr(2).asInstanceOf[JString].s)
      }
      // unescaped: _ matches any char → both tables (testEscapingForGetTables :1319)
      assert(tableNames("some_datasource") ==
        List("some_datasource", "somexdatasource"))
      // escaped: literal underscore only
      assert(tableNames("some\\\\_datasource") == List("some_datasource"))
      // column-name pattern with escape: m1\_x matches m1_x only
      val rs = post(port, "/druid/v2/sql/avatica/",
        """{"request":"getColumns","connectionId":"e2",
           "tableNamePattern":{"s":"some\\_datasource"},
           "columnNamePattern":{"s":"m_\\_x"}}""")
      val colNames = (rs \ "firstFrame" \ "rows").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JArray].arr(3).asInstanceOf[JString].s)
      assert(colNames == List("m1_x"))
      spark.catalog.dropTempView("some_datasource")
      spark.catalog.dropTempView("somexdatasource")
    }
  }

  test("testSysTableParameterBindingSuperUser (:1119) — sys.servers " +
      "queryable with bound parameters through JDBC (the RegularUser " +
      "variant :1105 is the auth non-goal: no user model here, every " +
      "client sees the metadata a superuser would)") {
    graft.server.SystemSchema.registerServers(spark)
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"sys1"}""")
      val prepared = post(port, path,
        """{"request":"prepare","connectionId":"sys1",
           "sql":"SELECT COUNT(*) AS cnt FROM sys.servers WHERE host = ?",
           "maxRowCount":-1}""")
      val sid = (prepared \ "statement" \ "id").asInstanceOf[JInt].num.toInt
      val executed = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("execute"),
        "statementHandle" -> JObject("connectionId" -> JString("sys1"), "id" -> JInt(sid)),
        "parameterValues" -> JArray(List(
          JObject("type" -> JString("STRING"), "value" -> JString("dummy")))),
        "maxRowCount" -> JInt(-1)))))
      val rs = (executed \ "results").asInstanceOf[JArray].arr.head
      // no server named "dummy" → count 0 (the reference's superuser sees 1
      // for its one fixture server; the shape — bound param over sys — is
      // the ported surface)
      assert((rs \ "firstFrame" \ "rows") == JArray(List(JArray(List(JInt(0))))))
    }
  }

  test("testSignature (DruidStatementTest.java) — (label, type name, rep " +
      "clazz) triples match the reference's wire typing") {
    withFacade { port =>
      val (_, sig) = query(port, "sig1", "SELECT * FROM foo")
      val triples = (sig \ "columns").asInstanceOf[JArray].arr.map { c =>
        ((c \ "columnName").asInstanceOf[JString].s,
         (c \ "type" \ "name").asInstanceOf[JString].s,
         (c \ "columnClassName").asInstanceOf[JString].s)
      }
      // the reference's expected triples over its foo (DruidStatementTest
      // .testSignature; our fixture has no unique_dim1/dim3)
      assert(triples == List(
        ("__time", "TIMESTAMP", "java.lang.Long"),
        ("cnt", "BIGINT", "java.lang.Number"),
        ("dim1", "VARCHAR", "java.lang.String"),
        ("dim2", "VARCHAR", "java.lang.String"),
        ("m1", "FLOAT", "java.lang.Float"),
        ("m2", "DOUBLE", "java.lang.Double")))
      assert((sig \ "statementType") == JString("SELECT"))
    }
  }

  test("testSelectAllInFirstFrame / testSelectSplitOverTwoFrames " +
      "(DruidStatementTest.java:214) — exact frame boundaries and epoch " +
      "cell values") {
    foo.createOrReplaceTempView("foo")
    // minRowsPerFrame=1: DruidStatementTest drives the statement directly,
    // below DruidMeta's fetch-size coercion
    val ep = new graft.server.AvaticaEndpoint(spark, "test", minRowsPerFrame = 1)
    rpc(ep, """{"request":"openConnection","connectionId":"fr1"}""")
    val sid = (rpc(ep, """{"request":"createStatement","connectionId":"fr1"}""")
      \ "statementId").asInstanceOf[JInt].num.toInt
    val executed = rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("prepareAndExecute"),
      "connectionId" -> JString("fr1"), "statementId" -> JInt(sid),
      "sql" -> JString("SELECT __time, cnt, dim1, dim2, m1 FROM foo ORDER BY __time"),
      "maxRowCount" -> JInt(-1), "maxRowsInFirstFrame" -> JInt(2)))))
    val first = (executed \ "results").asInstanceOf[JArray].arr.head \ "firstFrame"
    assert((first \ "done") == JBool(false))
    // 2000-01-01 = 946684800000, 2000-01-02 = 946771200000 epoch millis
    assert((first \ "rows") == JArray(List(
      JArray(List(JInt(946684800000L), JInt(1), JString(""), JString("a"), JDouble(1.0))),
      JArray(List(JInt(946771200000L), JInt(1), JString("10.1"), JNull, JDouble(2.0))))))
    // last frame: ask for all remaining rows → done
    val fetched = rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
      "request" -> JString("fetch"),
      "connectionId" -> JString("fr1"), "statementId" -> JInt(sid),
      "offset" -> JInt(2), "fetchMaxRowCount" -> JInt(10)))))
    assert((fetched \ "frame" \ "done") == JBool(true))
    assert((fetched \ "frame" \ "rows").asInstanceOf[JArray].arr.size == 4)
  }

  test("testSubQueryWithOrderBy (DruidStatementTest.java:154) — aliased " +
      "DISTINCT subquery, ordered, all rows in one done frame") {
    withFacade { port =>
      val (rows, _) = query(port, "sq1",
        "select T20.F13 as F22 from (SELECT DISTINCT dim1 as F13 FROM foo T10) T20 order by T20.F13 ASC")
      assert(rows == List("", "1", "10.1", "2", "abc", "def")
        .map(s => JArray(List(JString(s)))))
    }
  }

  test("testSqlRequestLog (:1048) — one log line per executed statement " +
      "with success flag and timing; failures log success=false") {
    foo.createOrReplaceTempView("foo")
    val ep = new graft.server.AvaticaEndpoint(spark, "test")
    rpc(ep, """{"request":"openConnection","connectionId":"log1"}""")
    def execute(sql: String): JValue = {
      val sid = (rpc(ep, """{"request":"createStatement","connectionId":"log1"}""")
        \ "statementId").asInstanceOf[JInt].num.toInt
      rpc(ep, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepareAndExecute"),
        "connectionId" -> JString("log1"), "statementId" -> JInt(sid),
        "sql" -> JString(sql), "maxRowCount" -> JInt(-1)))))
    }
    (1 to 3).foreach(_ => execute("SELECT COUNT(*) AS cnt FROM foo"))
    val valid = ep.lifecycle.requestLog.recent
    assert(valid.size == 3)
    assert(valid.forall(l => l.success &&
      (JsonMethods.parse(l.statsJson) \ "query/time").asInstanceOf[JInt].num >= 0))
    // invalid sql logs success=false
    execute("SELECT notexist FROM foo")
    val all = ep.lifecycle.requestLog.recent
    assert(all.size == 4)
    assert(!all.last.success)
  }

  test("prepare of a Spark WITH … INSERT writes nothing: the parsed plan holds a " +
      "command below its CTE (and INSERT OVERWRITE DIRECTORY or EXECUTE IMMEDIATE " +
      "writes nothing)") {
    val dir = java.nio.file.Files.createTempDirectory("prep_with_insert").toString
    spark.sql(s"CREATE TABLE prep_with_insert_t (x INT) USING parquet LOCATION '$dir'")
    try withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"prep4"}""")
      val prepared = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepare"), "connectionId" -> JString("prep4"),
        "sql" -> JString(
          "WITH s AS (SELECT 1 AS x) INSERT INTO prep_with_insert_t SELECT x FROM s"),
        "maxRowCount" -> JInt(-1)))))
      assert((prepared \ "response") == JString("prepare"))
      assert((prepared \ "statement" \ "signature" \ "columns") == JArray(Nil))
      assert(spark.table("prep_with_insert_t").count() == 0)
      // a directory write is no Command node, and is refused too
      val out = new java.io.File(dir + "_dir")
      val toDir = post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepare"), "connectionId" -> JString("prep4"),
        "sql" -> JString(s"INSERT OVERWRITE DIRECTORY '$out' USING parquet SELECT 1 AS x"),
        "maxRowCount" -> JInt(-1)))))
      assert((toDir \ "statement" \ "signature" \ "columns") == JArray(Nil))
      assert(!out.exists, "prepare must not write the directory")
      post(port, path, JsonMethods.compact(JsonMethods.render(JObject(
        "request" -> JString("prepare"), "connectionId" -> JString("prep4"),
        "sql" -> JString("EXECUTE IMMEDIATE 'INSERT INTO prep_with_insert_t SELECT 1'"),
        "maxRowCount" -> JInt(-1)))))
      assert(spark.table("prep_with_insert_t").count() == 0,
        "prepare must not run the text of an EXECUTE IMMEDIATE")
    } finally spark.sql("DROP TABLE IF EXISTS prep_with_insert_t")
  }

  test("Avatica statements share the façade's capacity: with the one slot held, " +
      "prepareAndExecute is refused and its statement slot is freed (a malformed " +
      "native body still gets 400)") {
    import AvaticaEndpointSpec.{entered, release}
    foo.createOrReplaceTempView("foo")
    spark.udf.register("hold_capacity_slot", org.apache.spark.sql.functions.udf { () =>
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      1
    }.asNondeterministic())
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      maxConcurrentQueries = 1)
    val client = HttpClient.newHttpClient()
    try {
      val held = client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}/druid/v2/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query": "SELECT hold_capacity_slot() AS h"}"""))
          .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"the slot-holding query never ran: ${Option(held.getNow(null)).map(_.body())}")
      val path = "/druid/v2/sql/avatica/"
      post(facade.port, path, """{"request":"openConnection","connectionId":"cap1"}""")
      val sid = (post(facade.port, path,
        """{"request":"createStatement","connectionId":"cap1"}""") \ "statementId")
      val (status, refused) = postStatus(facade.port, path,
        JsonMethods.compact(JsonMethods.render(JObject(
          "request" -> JString("prepareAndExecute"), "connectionId" -> JString("cap1"),
          "statementId" -> sid, "sql" -> JString("SELECT COUNT(*) AS cnt FROM foo"),
          "maxRowCount" -> JInt(-1)))))
      assert(status == 500 && (refused \ "response") == JString("error"))
      assert((refused \ "errorMessage").asInstanceOf[JString].s.startsWith(
        "Too many concurrent queries, total query capacity of 1 exceeded"))
      // the refused statement's slot is free: the connection's 4 slots all open
      (1 to 4).foreach { _ =>
        assert((post(facade.port, path,
          """{"request":"createStatement","connectionId":"cap1"}""") \ "response")
          == JString("createStatement"))
      }
      // a native body that is not JSON is refused before admission: 400, not 429
      val badJson = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}/druid/v2"))
          .POST(HttpRequest.BodyPublishers.ofString("{not json")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(badJson.statusCode() == 400, badJson.body())
      release.countDown()
      assert(held.get(60, java.util.concurrent.TimeUnit.SECONDS).statusCode() == 200)
    } finally {
      release.countDown()
      facade.stop()
    }
  }

  test("testAutoReconnectOnNoSuchConnection (:820) — closeConnection drops " +
      "statements; a request on the closed id errors 'not open' and the " +
      "client-side driver reopens") {
    withFacade { port =>
      val path = "/druid/v2/sql/avatica/"
      post(port, path, """{"request":"openConnection","connectionId":"x1"}""")
      post(port, path, """{"request":"closeConnection","connectionId":"x1"}""")
      // a request against the closed connection errors with "not open" —
      // the client-side driver reacts by reopening (auto-reconnect)
      val err = post(port, path,
        """{"request":"createStatement","connectionId":"x1"}""")
      assert((err \ "response") == JString("error"))
      assert((err \ "errorMessage").asInstanceOf[JString].s.contains("not open"))
      // reopening the same id succeeds
      assert((post(port, path,
        """{"request":"openConnection","connectionId":"x1"}""")
        \ "response") == JString("openConnection"))
    }
  }
}

object AvaticaEndpointSpec {
  // static: a task runs a deserialized copy of the UDF's closure
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
