package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.HttpFacade
import graft.sources.Sources

/** Integration spec for the HTTP façade: POSTs the EXISTING gate JSON
  * (graft.queries.NativeQueries.TimeseriesGateJson) verbatim at /druid/v2,
  * and SQL at /druid/v2/sql, over the sf0.001 tables — the same request
  * bodies a reference user sends to QueryResource/SqlResource.
  *
  * SqlResourceTest name map for the remaining methods: testExplainCountStar
  * is the EXPLAIN PLAN FOR cases below (PLAN + RESOURCES row; the
  * reference's PLAN cell is its own native-JSON rendering, this engine's is
  * the Spark plan — a documented rendering difference, same row shape).
  * Adjudicated not-portable: testUnauthorized, testCancelForbidden,
  * testSysTableParameterBindingRegularUser (authorization is a documented
  * non-goal — DruidAvaticaHandlerTest's same-named user-binding case
  * likewise), testArrayResultFormatWithErrorAfterFirstRow /
  * testArrayLinesResultFormatWithErrorAfterFirstRow /
  * testCsvResultFormatWithErrorAfterFirstRow /
  * testObjectLinesResultFormatWithErrorAfterFirstRow (a mid-stream write
  * failure AFTER the response status is committed — a chunked-transport
  * detail of the reference's streaming writer; this facade renders the
  * payload before committing, so errors always arrive as error envelopes,
  * which the error-taxonomy cases below pin), and
  * testAssertionErrorThrowsErrorWithFilterResponse /
  * testUnsupportedQueryThrowsExceptionWithFilterResponse (the
  * error-response FILTER hook — a server-config extension point; the
  * unfiltered error envelopes are asserted here). */
class HttpFacadeSpec extends SparkSpecBase {

  private def post(port: Int, path: String, body: String): (Int, JValue) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  private def request(port: Int, method: String, path: String): (Int, JValue) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, HttpRequest.BodyPublishers.noBody())
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  test("POST /druid/v2 runs the native timeseries gate JSON verbatim, with the " +
      "{timestamp, result} envelope (docs/querying/timeseriesquery.md)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val (status, json) = post(facade.port, "/druid/v2",
        graft.queries.NativeQueries.TimeseriesGateJson)
      assert(status == 200)
      val rows = json.asInstanceOf[JArray].arr
      assert(rows.nonEmpty)
      // every bucket nests as {"timestamp": ISO millis, "result": {aggs}}
      rows.foreach { r =>
        assert((r \ "timestamp").isInstanceOf[JString])
        val result = (r \ "result").asInstanceOf[JObject].obj.toMap
        assert(Set("cnt", "sum_qty", "avg_qty").subsetOf(result.keySet))
        // the time column never leaks into the result object
        assert(!result.contains("l_shipdate"))
      }
      // timestamps render Druid-style: ISO-8601 with milliseconds, UTC
      val ts = (rows.head \ "timestamp").asInstanceOf[JString].s
      assert(ts.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z"""))
      assert(rows.forall(r => (r \ "result" \ "cnt") match {
        case JInt(n) => n >= 0; case JLong(n) => n >= 0; case _ => false
      }))
    } finally facade.stop()
  }

  test("serializeDateTimeAsLong renders native timestamps as epoch millis " +
      "(docs/querying/query-context.md:55)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val body = graft.queries.NativeQueries.TimeseriesGateJson.trim.dropRight(1) +
        ""","context": {"serializeDateTimeAsLong": true}}"""
      val (status, json) = post(facade.port, "/druid/v2", body)
      assert(status == 200)
      val rows = json.asInstanceOf[JArray].arr
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val ts = r \ "timestamp"
        val millis = ts match {
          case JLong(n) => n; case JInt(n) => n.toLong
          case other => fail(s"expected epoch-millis long, got $other")
        }
        // quarter buckets inside the queried 1996-1999 window
        assert(millis >= 820454400000L && millis < 915148800000L)
        assert(millis % 1000 == 0)
      }
      // timeBoundary's min/max cells honor the flag too
      val (s2, tb) = post(facade.port, "/druid/v2",
        """{"queryType": "timeBoundary", "dataSource": "orders",
            "timeColumn": "o_orderdate",
            "context": {"serializeDateTimeAsLong": true}}""")
      assert(s2 == 200)
      val res = (tb.asInstanceOf[JArray].arr.head \ "result")
      assert((res \ "minTime").isInstanceOf[JLong] || (res \ "minTime").isInstanceOf[JInt])
    } finally facade.stop()
  }

  test("POST /druid/v2 movingAverage renders groupBy-shaped rows " +
      "({version, timestamp, event} — MovingAverageQueryToolChest decorates " +
      "the groupBy runner)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val (status, json) = post(facade.port, "/druid/v2",
        """{
          "queryType": "movingAverage",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "granularity": {"type": "period", "period": "P1M"},
          "intervals": ["1995-01-01T00:00:00/1995-04-01T00:00:00"],
          "dimensions": [{"type": "default", "dimension": "o_orderstatus"}],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "averagers": [
            {"type": "longMean", "name": "avg3", "fieldName": "cnt", "buckets": 3}]
        }""")
      assert(status == 200)
      val rows = json.asInstanceOf[JArray].arr
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert((r \ "version") == JString("v1"))
        assert((r \ "timestamp").isInstanceOf[JString])
        val event = (r \ "event").asInstanceOf[JObject].obj.toMap
        // a gap bucket's cnt is null and the writer omits null cells (the
        // facade's documented rendering), so only the always-present keys
        // are required
        assert(Set("o_orderstatus", "avg3").subsetOf(event.keySet))
        assert(!event.contains("o_orderdate"), "time column must not leak into event")
      }
    } finally facade.stop()
  }

  test("POST /druid/v2 topN and groupBy envelopes (topnquery.md, groupbyquery.md)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      // topN: ONE granularity bucket holding the ranked dimension rows
      val (s1, topn) = post(facade.port, "/druid/v2",
        """{
          "queryType": "topN",
          "dataSource": "nation",
          "timeColumn": "n_nationkey",
          "dimension": "n_regionkey",
          "metric": "cnt",
          "threshold": 3,
          "aggregations": [{"type": "count", "name": "cnt"}]
        }""")
      assert(s1 == 200)
      val buckets = topn.asInstanceOf[JArray].arr
      assert(buckets.size == 1)
      val result = (buckets.head \ "result").asInstanceOf[JArray].arr
      assert(result.size == 3)
      assert(result.forall(r => (r \ "cnt") == JInt(5)))
      assert(result.forall(r => (r \ "n_regionkey") != JNothing))

      // groupBy: one {"version": "v1", "timestamp", "event"} object per row
      val (s2, gby) = post(facade.port, "/druid/v2",
        """{
          "queryType": "groupBy",
          "dataSource": "region",
          "timeColumn": "r_regionkey",
          "dimensions": ["r_name"],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "columns": ["r_name"], "limit": 2}
        }""")
      assert(s2 == 200)
      val rows = gby.asInstanceOf[JArray].arr
      assert(rows.size == 2)
      rows.foreach { r =>
        assert((r \ "version") == JString("v1"))
        assert((r \ "event" \ "cnt") == JInt(1))
        assert((r \ "event" \ "r_name").isInstanceOf[JString])
      }

      // groupBy with a non-ALL GRANULARITY: the bucket renders as the
      // envelope's "timestamp" (ISO millis) and never leaks into event
      val (s3, gby2) = post(facade.port, "/druid/v2",
        """{
          "queryType": "groupBy",
          "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "granularity": "year",
          "dimensions": ["o_orderstatus"],
          "aggregations": [{"type": "count", "name": "cnt"}],
          "limitSpec": {"type": "default", "limit": 5}
        }""")
      assert(s3 == 200)
      val rows2 = gby2.asInstanceOf[JArray].arr
      assert(rows2.size == 5)
      rows2.foreach { r =>
        val ts = (r \ "timestamp").asInstanceOf[JString].s
        assert(ts.matches("""\d{4}-01-01T00:00:00\.000Z"""), s"year bucket: $ts")
        assert((r \ "event" \ "o_orderdate") == JNothing) // no leak into event
        assert((r \ "event" \ "o_orderstatus").isInstanceOf[JString])
      }
    } finally facade.stop()
  }

  test("POST /druid/v2 scan, search, timeBoundary and dataSourceMetadata envelopes") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      // scan (scan-query.md): one {segmentId: null, columns, events} batch;
      // compactedList renders events as positional arrays
      val (s1, scan) = post(facade.port, "/druid/v2",
        """{
          "queryType": "scan",
          "dataSource": "region",
          "timeColumn": "r_regionkey",
          "columns": ["r_regionkey", "r_name"],
          "resultFormat": "compactedList",
          "limit": 2
        }""")
      assert(s1 == 200)
      val batch = scan.asInstanceOf[JArray].arr.head
      assert((batch \ "segmentId") == JNull)
      assert((batch \ "columns") == JArray(List(JString("r_regionkey"), JString("r_name"))))
      val events = (batch \ "events").asInstanceOf[JArray].arr
      assert(events.size == 2)
      assert(events.head == JArray(List(JInt(0), JString("AFRICA"))))

      // search (searchquery.md): one bucket of {dimension, value, count}
      val (s2, search) = post(facade.port, "/druid/v2",
        """{
          "queryType": "search",
          "dataSource": "region",
          "timeColumn": "r_regionkey",
          "searchDimensions": ["r_name"],
          "query": {"type": "insensitive_contains", "value": "americ"}
        }""")
      assert(s2 == 200)
      val hits = (search.asInstanceOf[JArray].arr.head \ "result").asInstanceOf[JArray].arr
      assert(hits.size == 1)
      assert((hits.head \ "dimension") == JString("r_name"))
      assert((hits.head \ "value") == JString("AMERICA"))
      assert((hits.head \ "count") == JInt(1))

      // timeBoundary (timeboundaryquery.md): timestamp = minTime
      val (s3, tb) = post(facade.port, "/druid/v2",
        """{"queryType": "timeBoundary", "dataSource": "orders", "timeColumn": "o_orderdate"}""")
      assert(s3 == 200)
      val tbRow = tb.asInstanceOf[JArray].arr.head
      assert((tbRow \ "timestamp") == (tbRow \ "result" \ "minTime"))
      assert((tbRow \ "result" \ "maxTime").isInstanceOf[JString])

      // dataSourceMetadata: timestamp = maxIngestedEventTime
      val (s4, dsm) = post(facade.port, "/druid/v2",
        """{"queryType": "dataSourceMetadata", "dataSource": "orders", "timeColumn": "o_orderdate"}""")
      assert(s4 == 200)
      val dsmRow = dsm.asInstanceOf[JArray].arr.head
      assert((dsmRow \ "timestamp") == (dsmRow \ "result" \ "maxIngestedEventTime"))
    } finally facade.stop()
  }

  test("POST /druid/v2 segmentMetadata nests a merged SegmentAnalysis (SegmentAnalysis.java:43)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val (s, out) = post(facade.port, "/druid/v2",
        """{
          "queryType": "segmentMetadata",
          "dataSource": "region",
          "timeColumn": "r_regionkey",
          "analysisTypes": ["minmax", "size"]
        }""")
      assert(s == 200)
      val analyses = out.asInstanceOf[JArray].arr
      assert(analyses.size == 1) // one merged analysis
      val a = analyses.head
      assert((a \ "id") == JString("merged")) // SegmentMetadataQueryQueryToolChest.java:350
      // columns is a MAP of name -> ColumnAnalysis (ColumnAnalysis.java:42)
      val cols = (a \ "columns").asInstanceOf[JObject].obj.toMap
      assert(cols.keySet == Set("r_regionkey", "r_name"))
      val nameCol = cols("r_name")
      assert((nameCol \ "type") == JString("STRING"))
      assert((nameCol \ "hasMultipleValues") == JBool(false))
      assert((nameCol \ "hasNulls") == JBool(false))
      assert((nameCol \ "cardinality") == JInt(5))
      assert((nameCol \ "minValue") == JString("AFRICA"))
      assert((nameCol \ "maxValue") == JString("MIDDLE EAST"))
      assert((nameCol \ "errorMessage") == JNull)
      assert((cols("r_regionkey") \ "type") == JString("LONG"))
      // table-level fields: numRows, total size, spec analyses null here
      assert((a \ "numRows") == JInt(5))
      val size = (a \ "size").asInstanceOf[JInt].num.toLong
      assert(size > 0L)
      assert((a \ "rollup") == JNull)
    } finally facade.stop()
  }

  test("EXPLAIN PLAN FOR returns the PLAN + RESOURCES row (DruidPlanner.java:669)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "nation").createOrReplaceTempView("nation")
      val (s, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "EXPLAIN PLAN FOR SELECT COUNT(*) FROM nation"}""")
      assert(s == 200)
      val row = out.asInstanceOf[JArray].arr.head
      val plan = (row \ "PLAN").asInstanceOf[JString].s
      assert(plan.contains("Physical Plan"))
      val resources = JsonMethods.parse((row \ "RESOURCES").asInstanceOf[JString].s)
      assert(resources == JArray(List(
        JObject("name" -> JString("nation"), "type" -> JString("DATASOURCE")))))
    } finally facade.stop()
  }

  test("testExplainInsertFromExternal (CalciteInsertDmlTest.java:564) — " +
      "EXPLAIN PLAN FOR INSERT from EXTERN") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val extern =
        """TABLE(EXTERN('{\"type\":\"inline\",\"data\":\"a,b,1\"}',""" +
          """'{\"type\":\"csv\",\"columns\":[\"x\",\"y\",\"z\"]}',""" +
          """'[{\"name\":\"x\",\"type\":\"STRING\"},{\"name\":\"y\",\"type\":\"STRING\"},{\"name\":\"z\",\"type\":\"LONG\"}]'))"""
      val (s, out) = post(facade.port, "/druid/v2/sql",
        s"""{"query": "EXPLAIN PLAN FOR INSERT INTO dst_explain SELECT * FROM $extern PARTITIONED BY ALL TIME"}""")
      assert(s == 200)
      val row = out.asInstanceOf[JArray].arr.head
      // the plan is the inner SELECT's (the reference renders the scan query)
      assert((row \ "PLAN").asInstanceOf[JString].s.contains("Physical Plan"))
      // the reference's expected resources JSON: the fixed EXTERNAL resource
      // plus the write target (testExplainInsertFromExternal)
      val resources = JsonMethods.parse((row \ "RESOURCES").asInstanceOf[JString].s)
      assert(resources == JArray(List(
        JObject("name" -> JString("EXTERNAL"), "type" -> JString("EXTERNAL")),
        JObject("name" -> JString("dst_explain"), "type" -> JString("DATASOURCE")))))
      // EXPLAIN must not have executed the insert
      assert(!spark.catalog.tableExists("dst_explain"))
    } finally facade.stop()
  }

  test("maxResultRows guards the driver-side materialization") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      maxResultRows = 3)
    try {
      Sources.table(spark, sf(), "nation").createOrReplaceTempView("nation")
      val (ok, small) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT n_name FROM nation LIMIT 3"}""")
      assert(ok == 200 && small.asInstanceOf[JArray].arr.size == 3)
      val (status, err) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT n_name FROM nation"}""")
      // the reference's ResourceLimitExceededException surface: QueryException
      // JSON at HTTP 400 (SqlResourceTest.testResourceLimitExceeded)
      assert(status == 400)
      assert((err \ "error") == JString("Resource limit exceeded"))
      assert((err \ "errorMessage").asInstanceOf[JString].s.contains("maxResultRows"))
    } finally facade.stop()
  }

  test("POST /druid/v2/sql runs SQL with object and array result formats") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "nation").createOrReplaceTempView("nation")
      val (s1, obj) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT n_regionkey, count(*) AS cnt FROM nation GROUP BY 1 ORDER BY 1"}""")
      assert(s1 == 200)
      val objRows = obj.asInstanceOf[JArray].arr
      assert(objRows.size == 5)
      assert((objRows.head \ "cnt") == JInt(5))

      val (s2, arr) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT n_regionkey, count(*) AS cnt FROM nation GROUP BY 1 ORDER BY 1",
            "resultFormat": "array"}""")
      assert(s2 == 200)
      val arrRows = arr.asInstanceOf[JArray].arr
      assert(arrRows.size == 5)
      assert(arrRows.head == JArray(List(JInt(0), JInt(5))))
    } finally facade.stop()
  }

  test("POST /druid/v2/sql binds typed positional parameters (SqlQuery.java parameters)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "nation").createOrReplaceTempView("nation")
      // CalciteParameterQueryTest.java:84 shape: params in SELECT and LIMIT
      val (s1, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT 1 + ?, n_name FROM nation ORDER BY n_nationkey LIMIT ?",
            "resultFormat": "array",
            "parameters": [{"type":"INTEGER","value":1}, {"type":"INTEGER","value":1}]}""")
      assert(s1 == 200)
      assert(out.asInstanceOf[JArray].arr == List(JArray(List(JInt(2), JString("NATION_0")))))

      // VARCHAR param in a filter; '?' inside a string literal is untouched
      val (s2, out2) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT count(*) AS cnt FROM nation WHERE n_name = ? AND n_name <> 'who?'",
            "parameters": [{"type":"VARCHAR","value":"NATION_3"}]}""")
      assert(s2 == 200)
      assert((out2.asInstanceOf[JArray].arr.head \ "cnt") == JInt(1))
    } finally facade.stop()
  }

  test("POST /druid/v2/sql header=true prepends the column-name row") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "region").createOrReplaceTempView("region")
      val (s, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT r_regionkey FROM region ORDER BY 1 LIMIT 2",
            "resultFormat": "array", "header": true}""")
      assert(s == 200)
      val rows = out.asInstanceOf[JArray].arr
      assert(rows.head == JArray(List(JString("r_regionkey"))))
      assert(rows.tail == List(JArray(List(JInt(0))), JArray(List(JInt(1)))))
    } finally facade.stop()
  }

  test("header=true prepends the null-valued column object for the object format " +
      "(ObjectWriter.writeHeader)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "region").createOrReplaceTempView("region")
      val (s, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT r_regionkey, r_name FROM region ORDER BY 1 LIMIT 1",
            "header": true}""")
      assert(s == 200)
      val rows = out.asInstanceOf[JArray].arr
      assert(rows.head == JObject("r_regionkey" -> JNull, "r_name" -> JNull))
      assert((rows(1) \ "r_regionkey") == JInt(0))
    } finally facade.stop()
  }

  test("'?' inside block comments does not consume a parameter") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "nation").createOrReplaceTempView("nation")
      val (s, out) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT count(*) AS cnt /* not a param? */ FROM nation WHERE n_name = ?",
            "parameters": [{"type":"VARCHAR","value":"NATION_3"}]}""")
      assert(s == 200)
      assert((out.asInstanceOf[JArray].arr.head \ "cnt") == JInt(1))
    } finally facade.stop()
  }

  test("errors surface as QueryException JSON (QueryResource: bad native query → 400)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val (status, json) = post(facade.port, "/druid/v2", """{"queryType": "nope"}""")
      assert(status == 400)
      assert((json \ "error").isInstanceOf[JString])
      assert((json \ "errorMessage").isInstanceOf[JString])
      assert((json \ "host") == JNull)
    } finally facade.stop()
  }

  private def send(port: Int, method: String, path: String,
      body: String = ""): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val builder = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = (method match {
      case "GET" => builder.GET()
      case "DELETE" => builder.DELETE()
      case "POST" => builder.POST(HttpRequest.BodyPublishers.ofString(body))
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("lookup config CRUD round trip (LookupCoordinatorResource.java): " +
      "POST container → GET spec/tier/list → queryable via LOOKUP() → DELETE") {
    val registry = new graft.sources.LookupRegistry
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      lookups = registry)
    try {
      val p = facade.port
      val base = "/druid/coordinator/v1/lookups/config"
      // create with the reference's container shape
      val (postStatus, _) = send(p, "POST", s"$base/__default/country_names",
        """{"version": "v1", "lookupExtractorFactory":
           {"type": "map", "map": {"DE": "Germany", "FR": "France"}}}""")
      assert(postStatus == 202)
      // tier listing + names + full dump
      assert(send(p, "GET", base) == ((200, """["__default"]""")))
      assert(send(p, "GET", s"$base/__default")._2.contains("country_names"))
      val (allStatus, all) = send(p, "GET", s"$base/all")
      assert(allStatus == 200 && all.contains("\"DE\":\"Germany\""))
      // spec read-back carries version + factory
      val (getStatus, spec) = send(p, "GET", s"$base/__default/country_names")
      assert(getStatus == 200)
      val parsed = JsonMethods.parse(spec)
      assert((parsed \ "version") == JString("v1"))
      assert((parsed \ "lookupExtractorFactory" \ "map" \ "FR") == JString("France"))
      // the HTTP-registered lookup is live for queries on this registry
      val enriched = registry(
        spark.createDataFrame(Seq(Tuple1("DE"))).toDF("code"),
        "code", "country_names", "country").head()
      assert(enriched.getString(1) == "Germany")
      // unknown tier / unknown lookup are 404s
      assert(send(p, "GET", s"$base/no_such_tier")._1 == 404)
      assert(send(p, "GET", s"$base/__default/nope")._1 == 404)
      assert(send(p, "DELETE", s"$base/__default/nope")._1 == 404)
      // delete drops it
      assert(send(p, "DELETE", s"$base/__default/country_names")._1 == 202)
      assert(send(p, "GET", s"$base/__default/country_names")._1 == 404)
    } finally facade.stop()
  }

  test("GET /status, /status/health, /status/properties (StatusResource.java) " +
      "and /druid/v2/datasources client info (ClientInfoResource.java)") {
    import org.apache.spark.sql.functions.col
    Sources.table(spark, sf(), "lineitem")
      .select(col("l_shipdate").as("__time"), col("l_returnflag"),
        col("l_quantity")).createOrReplaceTempView("status_ds")
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val p = facade.port
      // /status: version + memory block
      val (s1, status) = send(p, "GET", "/status")
      assert(s1 == 200)
      val parsed = JsonMethods.parse(status)
      assert((parsed \ "version").isInstanceOf[JString])
      assert((parsed \ "memory" \ "maxMemory").isInstanceOf[JLong]
        || (parsed \ "memory" \ "maxMemory").isInstanceOf[JInt])
      // /status/health is the literal boolean load balancers poll
      assert(send(p, "GET", "/status/health") == ((200, "true")))
      // /status/properties dumps the runtime conf
      val (s2, props) = send(p, "GET", "/status/properties")
      assert(s2 == 200 && props.contains("spark.sql.session.timeZone"))
      // client info: names + dimension/metric split
      val (s3, names) = send(p, "GET", "/druid/v2/datasources")
      assert(s3 == 200 && names.contains("status_ds"))
      val (s4, info) = send(p, "GET", "/druid/v2/datasources/status_ds")
      assert(s4 == 200)
      val i = JsonMethods.parse(info)
      assert((i \ "dimensions") == JArray(List(JString("l_returnflag"))))
      assert((i \ "metrics") == JArray(List(JString("l_quantity"))))
      assert(send(p, "GET", "/druid/v2/datasources/status_ds/dimensions")._2 ==
        """["l_returnflag"]""")
      assert(send(p, "GET", "/druid/v2/datasources/status_ds/metrics")._2 ==
        """["l_quantity"]""")
      spark.catalog.dropTempView("status_ds")
    } finally facade.stop()
  }

  test("coordinator datasources admin (DataSourcesResource.java): names, " +
      "simple summary, segment list, per-segment metadata+servers, 404") {
    import graft.server.SystemSchema
    val out = java.nio.file.Files.createTempDirectory("dsrsc").toString
    Sources.table(spark, sf(), "nation").write.mode("overwrite").parquet(out)
    SystemSchema.registerSegments(spark, "nation_admin_ds", out, "n_nationkey")
    SystemSchema.registerServers(spark)
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val p = facade.port
      val base = "/druid/coordinator/v1/datasources"
      val (s1, names) = send(p, "GET", base)
      assert(s1 == 200 && names.contains("nation_admin_ds"))
      val (s2, summary) = send(p, "GET", s"$base/nation_admin_ds")
      assert(s2 == 200)
      val j = JsonMethods.parse(summary)
      val count = (j \ "segments" \ "count") match {
        case JLong(n) => n; case JInt(n) => n.toLong; case _ => -1L
      }
      assert(count > 0)
      assert((j \ "tiers" \ "_default_tier" \ "size") != JNothing)
      val (s3, ids) = send(p, "GET", s"$base/nation_admin_ds/segments")
      assert(s3 == 200)
      val idList = JsonMethods.parse(ids).asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JString].s)
      assert(idList.size == count)
      // per-segment metadata + the servers able to serve it
      val enc = java.net.URLEncoder.encode(idList.head, "UTF-8")
      val (s4, seg) = send(p, "GET", s"$base/nation_admin_ds/segments/$enc")
      assert(s4 == 200)
      val sj = JsonMethods.parse(seg)
      assert((sj \ "metadata" \ "datasource") == JString("nation_admin_ds"))
      assert((sj \ "servers").asInstanceOf[JArray].arr.nonEmpty)
      assert(send(p, "GET", s"$base/no_such_ds")._1 == 404)
    } finally facade.stop()
  }

  test("supervisor admin round trip (SupervisorResource.java): POST spec → " +
      "list/status/health → suspend/resume → sys.supervisors reflects → " +
      "terminate → 404") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val p = facade.port
      val base = "/druid/indexer/v1/supervisor"
      // create with a reference-shaped kafka supervisor spec
      val (cs, created) = send(p, "POST", base,
        """{"type": "kafka", "spec": {"dataSchema": {"dataSource": "events_http_sup"},
            "ioConfig": {"topic": "events-topic"}}}""")
      assert(cs == 200 && JsonMethods.parse(created) \ "id" == JString("events_http_sup"))
      // id listing + stateful listing
      assert(send(p, "GET", base)._2.contains("events_http_sup"))
      val (_, stateful) = send(p, "GET", s"$base?state=true")
      val entry = JsonMethods.parse(stateful).asInstanceOf[JArray].arr
        .find(e => (e \ "id") == JString("events_http_sup")).get
      assert((entry \ "state") == JString("RUNNING"))
      // spec read-back, status envelope, health
      val (_, spec) = send(p, "GET", s"$base/events_http_sup")
      assert((JsonMethods.parse(spec) \ "spec" \ "ioConfig" \ "topic") ==
        JString("events-topic"))
      val (_, status) = send(p, "GET", s"$base/events_http_sup/status")
      val sj = JsonMethods.parse(status)
      assert((sj \ "payload" \ "stream") == JString("events-topic"))
      assert((sj \ "payload" \ "state") == JString("RUNNING"))
      assert(send(p, "GET", s"$base/events_http_sup/health")._2 == """{"healthy":true}""")
      // suspend flips state in the admin API AND in sys.supervisors
      val (_, suspended) = send(p, "POST", s"$base/events_http_sup/suspend")
      assert((JsonMethods.parse(suspended) \ "suspended") == JBool(true))
      graft.server.SystemSchema.registerServers(spark)
      val sysState = spark.sql(
        """SELECT state FROM sys.supervisors
          |WHERE supervisor_id = 'events_http_sup'""".stripMargin).head().getString(0)
      assert(sysState == "SUSPENDED")
      val (_, resumed) = send(p, "POST", s"$base/events_http_sup/resume")
      assert((JsonMethods.parse(resumed) \ "suspended") == JBool(false))
      // terminate removes; unknown ids answer the reference 404 message
      assert(send(p, "POST", s"$base/events_http_sup/terminate")._1 == 200)
      val (nf, nfBody) = send(p, "GET", s"$base/events_http_sup")
      assert(nf == 404)
      assert(JsonMethods.parse(nfBody) \ "error" ==
        JString("[events_http_sup] does not exist"))
    } finally facade.stop()
  }

  test("cluster reads (CoordinatorResource/ServersResource/OverlordResource): " +
      "leader, isLeader, loadstatus, servers, tasks") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val p = facade.port
      // leader is this driver; isLeader answers the unsecured health shape
      val (s1, leader) = send(p, "GET", "/druid/coordinator/v1/leader")
      assert(s1 == 200 && leader == s""""http://127.0.0.1:$p"""")
      assert(send(p, "GET", "/druid/coordinator/v1/isLeader") ==
        ((200, """{"leader":true}""")))
      // loadstatus: every registered datasource fully loaded
      val (s2, load) = send(p, "GET", "/druid/coordinator/v1/loadstatus")
      assert(s2 == 200)
      assert(JsonMethods.parse(load).isInstanceOf[JObject])
      // server inventory: names, simple shapes, per-server reads
      val (s3, names) = send(p, "GET", "/druid/coordinator/v1/servers")
      assert(s3 == 200)
      val serverNames = JsonMethods.parse(names).asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JString].s)
      assert(serverNames.nonEmpty)
      val (s4, simple) = send(p, "GET", "/druid/coordinator/v1/servers?simple")
      assert(s4 == 200)
      val first = JsonMethods.parse(simple).asInstanceOf[JArray].arr.head
      assert((first \ "tier") == JString("_default_tier"))
      assert((first \ "type") == JString("historical"))
      val (s5, one) = send(p, "GET", s"/druid/coordinator/v1/servers/${serverNames.head}")
      assert(s5 == 200 && (JsonMethods.parse(one) \ "host") == JString(serverNames.head))
      assert(send(p, "GET", "/druid/coordinator/v1/servers/nope:1")._1 == 404)
      // overlord task listing (no active streams here → empty list, not error)
      assert(send(p, "GET", "/druid/indexer/v1/tasks")._1 == 200)
      assert(send(p, "GET", "/druid/indexer/v1/task/unknown/status")._1 == 404)
    } finally facade.stop()
  }

  test("lookup introspection (LookupIntrospectionResource + " +
      "MapLookupExtractorFactory handler): map, /keys, /values, 404") {
    val registry = new graft.sources.LookupRegistry
    registry.registerMap(spark, "intro_lk", Map("a" -> "x", "b" -> "y"))
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      lookups = registry)
    try {
      val p = facade.port
      val base = "/druid/v1/lookups/introspect"
      assert(send(p, "GET", s"$base/intro_lk") ==
        ((200, """{"a":"x","b":"y"}""")))
      assert(send(p, "GET", s"$base/intro_lk/keys") == ((200, """["a","b"]""")))
      assert(send(p, "GET", s"$base/intro_lk/values") == ((200, """["x","y"]""")))
      assert(send(p, "GET", s"$base/no_such_lookup")._1 == 404)
    } finally facade.stop()
  }

  private def delete(port: Int, path: String): Int = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .DELETE().build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("DELETE /druid/v2/sql/{id} cancels the in-flight query: 202, the POST " +
      "fails with 'Query cancelled' at 500, and the Spark jobs stop " +
      "(SqlResourceTest.testCancelBetweenPlanAndExecute)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // a query the box cannot finish quickly: 10^12 multiply-accumulate
      val slow = """{"query":
        "SELECT SUM(a.id * b.id) AS s FROM range(1000000) a CROSS JOIN range(1000000) b",
        "context": {"sqlQueryId": "toCancel"}}"""
      val pending = Future(post(facade.port, "/druid/v2/sql", slow))
      // poll until the request registers (cancel of a not-yet-arrived id is 404)
      var status = 404
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (status == 404 && System.nanoTime < deadline) {
        Thread.sleep(50)
        status = delete(facade.port, "/druid/v2/sql/toCancel")
      }
      assert(status == 202)
      val (postStatus, json) = Await.result(pending, 60.seconds)
      assert(postStatus == 500)
      assert((json \ "error") == JString("Query cancelled"))
      // the registry entry is gone: a second cancel is 404
      // (testCancelBetweenValidateAndPlan asserts lifecycleManager empty)
      assert(delete(facade.port, "/druid/v2/sql/toCancel") == 404)
      // and the engine still answers new queries promptly afterwards
      val (okStatus, ok) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT 1 + 1 AS two"}""")
      assert(okStatus == 200)
      assert(ok.asInstanceOf[JArray].arr.head \ "two" == JInt(2))
    } finally facade.stop()
  }

  test("testQueryTimeoutException (SqlResourceTest.java:1466) — context " +
      "timeout elapses → 504 'Query timeout', lifecycle deregistered") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val (status, json) = post(facade.port, "/druid/v2/sql",
        """{"query":
          "SELECT SUM(a.id * b.id) AS s FROM range(1000000) a CROSS JOIN range(1000000) b",
          "context": {"sqlQueryId": "timeoutTest", "timeout": 400}}""")
      assert(status == 504)
      assert((json \ "error") == JString("Query timeout"))
      assert((json \ "errorClass") ==
        JString("org.apache.druid.query.QueryTimeoutException"))
      // lifecycleManager.getAll(sqlQueryId).isEmpty — deregistered
      assert(delete(facade.port, "/druid/v2/sql/timeoutTest") == 404)
      // a fast query with a generous timeout is unaffected
      val (okStatus, ok) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT 2 + 2 AS four", "context": {"timeout": 60000}}""")
      assert(okStatus == 200)
      assert(ok.asInstanceOf[JArray].arr.head \ "four" == JInt(4))
    } finally facade.stop()
  }

  test("DELETE /druid/v2/sql/{id} of an unknown id is 404 " +
      "(SqlResourceTest.testCancelInvalidQuery)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try assert(delete(facade.port, "/druid/v2/sql/invalidQuery") == 404)
    finally facade.stop()
  }

  test("DELETE /druid/v2/{id} answers 202 whether or not the id is registered " +
      "(QueryResource.java:142-166 only warns on an unknown queryId)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      assert(delete(facade.port, "/druid/v2/neverRegistered") == 202)
      // a registered native query cancels through the same route
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val slowNative = """{
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": {
          "queryType": "scan",
          "dataSource": "lineitem",
          "columns": ["l_orderkey", "l_quantity"]
        }},
        "dimensions": ["l_orderkey"],
        "aggregations": [{"type": "longSum", "name": "q", "fieldName": "l_quantity"}],
        "context": {"queryId": "nativeToCancel"}
      }"""
      val pending = Future(post(facade.port, "/druid/v2", slowNative))
      var status = 0
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      // 202 always — poll until the POST either registers or completes
      while (status != 202 && !pending.isCompleted && System.nanoTime < deadline) {
        Thread.sleep(20)
        status = delete(facade.port, "/druid/v2/nativeToCancel")
      }
      // whichever side won the race, the POST terminates: either cancelled
      // (500 Query cancelled) or already complete (200)
      val (postStatus, json) = Await.result(pending, 60.seconds)
      assert(postStatus == 200 || postStatus == 500)
      if (postStatus == 500)
        assert((json \ "error") == JString("Query cancelled"))
    } finally facade.stop()
  }

  // QueryResourceTest ports: the native endpoint's error taxonomy + query-id
  // response header (server/src/test/java/org/apache/druid/server/
  // QueryResourceTest.java)
  test("native endpoint: query-id header, bad JSON 400, unsupported type 501 " +
      "(QueryResourceTest.java:242,603,638)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      def postRaw(path: String, body: String): (Int, String, java.net.http.HttpHeaders) = {
        val client = HttpClient.newHttpClient()
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body(), resp.headers())
      }
      // testGoodQuery: 200 + X-Druid-Query-Id stamped; explicit queryId echoes
      val (s1, _, h1) = postRaw("/druid/v2",
        """{"queryType": "timeBoundary", "dataSource": "orders",
           "timeColumn": "o_orderdate", "context": {"queryId": "qrt-good"}}""")
      assert(s1 == 200)
      assert(h1.firstValue("X-Druid-Query-Id").orElse("") == "qrt-good")
      val (s1b, _, h1b) = postRaw("/druid/v2",
        """{"queryType": "timeBoundary", "dataSource": "orders",
           "timeColumn": "o_orderdate"}""")
      assert(s1b == 200 && h1b.firstValue("X-Druid-Query-Id").isPresent)
      // testGoodQueryWithNullAcceptHeader / testGoodQueryWithEmptyAcceptHeader:
      // with no (or an empty) Accept header the response content type follows
      // the request's JSON content type (QueryResource.java:402 — the
      // reference only switches to smile when Accept asks for it; smile is
      // environment-limited here, JSON is the sole native content type)
      assert(h1b.firstValue("Content-Type").orElse("").startsWith("application/json"))
      val emptyAcceptReq = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${facade.port}/druid/v2"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"queryType": "timeBoundary", "dataSource": "orders",
             "timeColumn": "o_orderdate"}"""))
        .header("Content-Type", "application/json")
        .header("Accept", "").build()
      val emptyAcceptResp = HttpClient.newHttpClient()
        .send(emptyAcceptReq, HttpResponse.BodyHandlers.ofString())
      assert(emptyAcceptResp.statusCode() == 200)
      assert(emptyAcceptResp.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/json"))
      // testBadQuery: malformed JSON → BadJsonQueryException envelope at 400
      val (s2, b2, _) = postRaw("/druid/v2", """{"queryType": "timeBoundary", "dataSource":""")
      assert(s2 == 400)
      val j2 = JsonMethods.parse(b2)
      assert((j2 \ "error") == JString("Json parse failed"))
      assert((j2 \ "errorClass") == JString("com.fasterxml.jackson.core.JsonParseException"))
      // testUnsupportedQueryThrowsException: unknown query type → 501
      val (s3, b3, _) = postRaw("/druid/v2",
        """{"queryType": "totallyNotAQuery", "dataSource": "orders"}""")
      assert(s3 == 501)
      val j3 = JsonMethods.parse(b3)
      assert((j3 \ "error") == JString("Unsupported query"))
      assert((j3 \ "errorClass") ==
        JString("org.apache.druid.query.QueryUnsupportedException"))
    } finally facade.stop()
  }

  // QueryResourceTest.testGoodQueryWithQueryConfigOverrideDefault /
  // testGoodQueryWithQueryConfigDoesNotOverrideQueryContext: a server-level
  // default query context (DefaultQueryConfig) merges under each request's
  // context, and a key the request sets itself always wins.
  test("server default query context applies when the query sets none and " +
      "never overrides an explicit query context (QueryResourceTest.java:255,325)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name),
      defaultContext = JObject("skipEmptyBuckets" -> JBool(true),
        "sqlQueryId" -> JString("cfg-default-id"), "queryId" -> JString("cfg-native-id")))
    try {
      def postRaw(path: String, body: String): (Int, String, java.net.http.HttpHeaders) = {
        val client = HttpClient.newHttpClient()
        val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body(), resp.headers())
      }
      // daily buckets over lineitem's sparse tail (zero-fill clips to the
      // datasource's own coverage, so the discriminator is the EMPTY DAYS
      // INSIDE it): the configured skipEmptyBuckets default drops them when
      // the query carries no context of its own
      def tsBody(context: String): String =
        s"""{
          "queryType": "timeseries",
          "dataSource": "lineitem",
          "timeColumn": "l_shipdate",
          "granularity": "day",
          "intervals": ["2001-06-01T00:00:00/2002-06-01T00:00:00"],
          "aggregations": [{"type": "count", "name": "cnt"}]$context
        }"""
      // expected bucket counts derived from the table itself
      val li = Sources.table(spark, sf(), "lineitem")
        .filter(org.apache.spark.sql.functions.col("l_shipdate") >= "2001-06-01" &&
          org.apache.spark.sql.functions.col("l_shipdate") < "2002-06-01")
        .select(org.apache.spark.sql.functions.date_trunc("day",
          org.apache.spark.sql.functions.col("l_shipdate")).as("d"))
      val nonEmptyDays = li.distinct().count()
      val spanDays = {
        val r = li.agg(org.apache.spark.sql.functions.min("d"),
          org.apache.spark.sql.functions.max("d")).head()
        def ms(i: Int): Long = r.get(i) match {
          case t: java.sql.Timestamp => t.getTime
          case t: java.time.LocalDateTime =>
            t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }
        (ms(1) - ms(0)) / 86400000L + 1
      }
      assert(spanDays > nonEmptyDays, "fixture must have empty days inside coverage")
      val (s1, b1, _) = postRaw("/druid/v2", tsBody(""))
      assert(s1 == 200)
      val rows1 = JsonMethods.parse(b1).asInstanceOf[JArray].arr
      assert(rows1.length == nonEmptyDays,
        s"default skipEmptyBuckets must drop empty days, got ${rows1.length} vs $nonEmptyDays")
      rows1.foreach(r => assert((r \ "result" \ "cnt") != JInt(0)))
      // the query's explicit skipEmptyBuckets=false wins over the default:
      // every day inside coverage comes back zero-filled
      val (s2, b2, _) = postRaw("/druid/v2",
        tsBody(""", "context": {"skipEmptyBuckets": false}"""))
      assert(s2 == 200)
      assert(JsonMethods.parse(b2).asInstanceOf[JArray].arr.length == spanDays)
      // the SQL route shares the defaults: the configured sqlQueryId stamps
      // the response header when the request sets none...
      val (s3, _, h3) = postRaw("/druid/v2/sql", """{"query": "SELECT 1 AS one"}""")
      assert(s3 == 200)
      assert(h3.firstValue("X-Druid-SQL-Query-Id").orElse("") == "cfg-default-id")
      // ...and the request's own sqlQueryId wins over the default
      val (s4, _, h4) = postRaw("/druid/v2/sql",
        """{"query": "SELECT 1 AS one", "context": {"sqlQueryId": "mine"}}""")
      assert(s4 == 200)
      assert(h4.firstValue("X-Druid-SQL-Query-Id").orElse("") == "mine")
      // a native id never comes from the defaults: QueryLifecycle.initialize
      // assigns it from the request's OWN context.queryId (a fresh one when
      // it has none) before merging them
      val (s5, _, h5) = postRaw("/druid/v2", tsBody(""))
      assert(s5 == 200)
      val id5 = h5.firstValue("X-Druid-Query-Id").orElse("")
      assert(id5.nonEmpty && id5 != "cfg-native-id")
      val (s6, _, h6) = postRaw("/druid/v2",
        tsBody(""", "context": {"queryId": "own-native-id"}"""))
      assert(s6 == 200)
      assert(h6.firstValue("X-Druid-Query-Id").orElse("") == "own-native-id")
    } finally facade.stop()
  }

  test("INSERT whose inline EXTERN argument is 400 CSV rows (~6 KB) lands every " +
      "row, read back through /druid/v2/sql") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    val target = s"dst_big_extern_${System.nanoTime()}"
    try {
      val rows = (0 until 400).map(i => (i.toLong, s"name_$i"))
      val data = rows.map { case (id, n) => s"$id,$n" }.mkString("\\n")
      val insert = s"INSERT INTO $target SELECT id, name FROM TABLE(EXTERN(" +
        s"""'{"type":"inline","data":"$data"}', '{"type":"csv","columns":["id","name"]}', """ +
        """'[{"name":"id","type":"LONG"},{"name":"name","type":"STRING"}]')) """ +
        "PARTITIONED BY ALL TIME"
      val (s1, j1) = post(facade.port, "/druid/v2/sql",
        JsonMethods.compact(JsonMethods.render(JObject("query" -> JString(insert)))))
      assert(s1 == 200, JsonMethods.compact(JsonMethods.render(j1)))
      assert(j1 == JArray(List(JObject("inserted" -> JInt(400)))))
      val (s2, j2) = post(facade.port, "/druid/v2/sql",
        s"""{"query": "SELECT id, name FROM $target ORDER BY id", "resultFormat": "array"}""")
      assert(s2 == 200)
      assert(j2 == JArray(rows.toList.map { case (id, n) => JArray(List(JInt(id), JString(n))) }))
    } finally {
      facade.stop()
      spark.catalog.dropTempView(target)
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_dml/$target")
      if (dir.exists) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("request log: one line per native/SQL query with time/bytes/success, " +
      "exception on failure, interrupted+reason on cancel " +
      "(LoggingRequestLogger.java, QueryLifecycle.java:290-355)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      // native success + native failure (unsupported query type)
      post(facade.port, "/druid/v2", graft.queries.NativeQueries.TimeseriesGateJson)
      post(facade.port, "/druid/v2", """{"queryType": "nope", "dataSource": "lineitem"}""")
      // SQL success + SQL failure (parse error)
      post(facade.port, "/druid/v2/sql", """{"query": "SELECT 1 + 1 AS two"}""")
      post(facade.port, "/druid/v2/sql", """{"query": "SELECT FROM WHERE"}""")
      // SQL cancellation → interrupted entry
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val slow = """{"query":
        "SELECT SUM(a.id * b.id) AS s FROM range(1000000) a CROSS JOIN range(1000000) b",
        "context": {"sqlQueryId": "logCancel"}}"""
      val pending = Future(post(facade.port, "/druid/v2/sql", slow))
      var status = 404
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (status == 404 && System.nanoTime < deadline) {
        Thread.sleep(50)
        status = delete(facade.port, "/druid/v2/sql/logCancel")
      }
      assert(status == 202)
      Await.result(pending, 60.seconds)

      val entries = facade.requestLog.recent
      // native success: query JSON in column 3, stats with time/bytes/success
      val nativeOk = entries.find(e => e.queryJson.contains("timeseries") && e.success)
      assert(nativeOk.isDefined)
      assert(nativeOk.get.statsJson.contains("\"query/time\":"))
      assert(nativeOk.get.statsJson.contains("\"query/bytes\":"))
      assert(nativeOk.get.line.split("\t").length == 4)
      assert(nativeOk.get.remoteAddr.nonEmpty)
      // native failure: success false + exception recorded
      val nativeBad = entries.find(_.queryJson.contains("nope"))
      assert(nativeBad.exists(e => !e.success && e.statsJson.contains("\"exception\":")))
      // SQL success: 5-column line, {query, context} in the SQL column
      val sqlOk = entries.find(_.sqlJson.exists(_.contains("1 + 1")))
      assert(sqlOk.exists(_.success))
      assert(sqlOk.get.line.split("\t").length == 5)
      assert(sqlOk.get.queryJson == "")
      // SQL failure
      assert(entries.exists(e =>
        e.sqlJson.exists(_.contains("SELECT FROM WHERE")) && !e.success))
      // cancelled: interrupted + reason (QueryLifecycle.java:337-341)
      val cancelled = entries.find(_.sqlJson.exists(_.contains("logCancel")))
      assert(cancelled.exists(e => !e.success &&
        e.statsJson.contains("\"interrupted\":true") &&
        e.statsJson.contains("\"reason\":")))
    } finally facade.stop()
  }

  test("native plan cache: a repeated JSON shape reuses the compiled plan " +
      "(differing queryIds share one entry), and a lookup update invalidates") {
    import spark.implicits._
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      def body(ctxId: String) =
        s"""{"queryType": "timeBoundary", "dataSource": "orders",
            "timeColumn": "o_orderdate", "context": {"queryId": "$ctxId"}}"""
      def timed(b: String): (Long, (Int, JValue)) = {
        val t0 = System.nanoTime()
        val r = post(facade.port, "/druid/v2", b)
        ((System.nanoTime() - t0) / 1000000L, r)
      }
      val (t1, (s1, r1)) = timed(body("a"))
      val missesAfterFirst = facade.planCache.misses
      // same shape, different queryId — execution-irrelevant keys are
      // stripped from the cache key. useCache=false bypasses the RESULT
      // cache so this exercises the plan-cache layer underneath it.
      val (t2, (s2, r2)) = timed(
        s"""{"queryType": "timeBoundary", "dataSource": "orders",
            "timeColumn": "o_orderdate",
            "context": {"queryId": "b", "useCache": false}}""")
      assert(s1 == 200 && s2 == 200 && r1 == r2)
      assert(facade.planCache.hits >= 1, "repeat POST must hit the plan cache")
      assert(facade.planCache.misses == missesAfterFirst)
      info(s"cold POST ${t1}ms, cached POST ${t2}ms")
      // with default cache flags the repeat is served from the RESULT cache
      val resultHitsBefore = facade.resultCache.hits
      val (s2b, r2b) = post(facade.port, "/druid/v2", body("b2"))
      assert(s2b == 200 && r2b == r1)
      assert(facade.resultCache.hits == resultHitsBefore + 1,
        "repeat POST with default flags must hit the result cache")
      // a lookup registration bumps the registry generation → invalidation
      graft.sources.LookupRegistry.global.register("pc_inval",
        Seq(("1", "x")).toDF("k", "v"))
      val (s3, r3) = post(facade.port, "/druid/v2", body("c"))
      assert(s3 == 200 && r3 == r1)
      assert(facade.planCache.misses == missesAfterFirst + 1,
        "lookup update must invalidate cached plans")
    } finally {
      graft.sources.LookupRegistry.global.remove("pc_inval")
      facade.stop()
    }
  }

  test("SQL plan cache: repeated dashboard SQL reuses the compiled plan; " +
      "DDL/metadata/now() statements bypass; admin endpoint invalidates") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "orders").createOrReplaceTempView("orders")
      def sqlBody(q: String) = s"""{"query": "$q"}"""
      val q = "SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1"
      val (s1, r1) = post(facade.port, "/druid/v2/sql", sqlBody(q))
      val missesAfterFirst = facade.planCache.misses
      // useCache=false bypasses the SQL RESULT cache so the repeat reaches
      // the plan-cache layer underneath
      val (s2, r2) = post(facade.port, "/druid/v2/sql",
        s"""{"query": "$q", "context": {"useCache": false}}""")
      assert(s1 == 200 && s2 == 200 && r1 == r2)
      assert(facade.planCache.hits >= 1, "repeat SQL POST must hit the plan cache")
      assert(facade.planCache.misses == missesAfterFirst)
      // with default flags the repeat serves from the SQL result cache
      val resultHitsBefore = facade.resultCache.hits
      val (s2b, r2b) = post(facade.port, "/druid/v2/sql", sqlBody(q))
      assert(s2b == 200 && r2b == r1)
      assert(facade.resultCache.hits == resultHitsBefore + 1,
        "repeat SQL with default flags must hit the result cache")

      // a now()-style statement must NOT cache (the plan would freeze the clock)
      val hitsBefore = facade.planCache.hits
      post(facade.port, "/druid/v2/sql", sqlBody("SELECT CURRENT_TIMESTAMP AS t"))
      post(facade.port, "/druid/v2/sql", sqlBody("SELECT CURRENT_TIMESTAMP AS t"))
      assert(facade.planCache.hits == hitsBefore, "CURRENT_TIMESTAMP must bypass the cache")

      // metadata queries bypass too (their plans snapshot catalog views)
      val missesBefore = facade.planCache.misses
      post(facade.port, "/druid/v2/sql",
        sqlBody("SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES LIMIT 1"))
      assert(facade.planCache.misses == missesBefore, "metadata SQL must bypass the cache")

      // DELETE invalidates; the next repeat re-misses
      val delStatus = delete(facade.port, "/druid/admin/planCache")
      assert(delStatus == 200)
      val missesAfterInval = facade.planCache.misses
      val (s3, r3) = post(facade.port, "/druid/v2/sql", sqlBody(q))
      assert(s3 == 200 && r3 == r1)
      assert(facade.planCache.misses == missesAfterInval + 1,
        "invalidation must drop cached SQL plans")
    } finally facade.stop()
  }

  /** Run `f` against a façade, with `sql` posting one statement to it and
    * `hits` reading the (plan, result) cache hit counts. */
  private def withSqlCaches(f: (String => (Int, JValue), () => (Long, Long)) => Unit): Unit = {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      Sources.table(spark, sf(), "orders").createOrReplaceTempView("orders")
      f(q => post(facade.port, "/druid/v2/sql", s"""{"query": "$q"}"""),
        () => (facade.planCache.hits, facade.resultCache.hits))
    } finally facade.stop()
  }

  test("SQL caches: a Spark WITH … INSERT (into a table or a directory, or run " +
      "by EXECUTE IMMEDIATE) is a command, so each POST runs it and neither hits a cache") {
    val dir = java.nio.file.Files.createTempDirectory("with_insert").toString
    spark.sql(s"CREATE TABLE with_insert_t (x INT) USING parquet LOCATION '$dir'")
    try withSqlCaches { (sql, hits) =>
      val before = hits()
      val insert = "WITH s AS (SELECT 1 AS x) INSERT INTO with_insert_t SELECT x FROM s"
      assert(sql(insert)._1 == 200 && sql(insert)._1 == 200)
      assert(spark.table("with_insert_t").count() == 2, "each POST must run the INSERT")
      assert(hits() == before, "neither POST may hit a cache")
      // a directory write is no Command node, and is one too
      val out = new java.io.File(dir + "_dir")
      val toDir = s"WITH s AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY '$out' " +
        "USING parquet SELECT x FROM s"
      assert(sql(toDir)._1 == 200 && out.isDirectory)
      org.apache.commons.io.FileUtils.deleteDirectory(out)
      assert(sql(toDir)._1 == 200 && out.isDirectory, "the second POST must write again")
      assert(hits() == before, "neither directory write may hit a cache")
      // nor is the text an EXECUTE IMMEDIATE runs
      val immediate = "EXECUTE IMMEDIATE 'INSERT INTO with_insert_t SELECT 1'"
      assert(sql(immediate)._1 == 200 && sql(immediate)._1 == 200)
      assert(spark.table("with_insert_t").count() == 4, "each EXECUTE IMMEDIATE must run")
      assert(hits() == before, "neither EXECUTE IMMEDIATE may hit a cache")
    } finally spark.sql("DROP TABLE IF EXISTS with_insert_t")
  }

  test("SQL caches: a statement that reads the clock never hits either cache, " +
      "however it is spelled") {
    withSqlCaches { (sql, hits) =>
      for (q <- Seq("SELECT NOW () AS t", "SELECT unix_timestamp() AS t",
          "WITH c AS (SELECT current_date() AS d) SELECT d FROM c")) {
        val before = hits()
        assert(sql(q)._1 == 200 && sql(q)._1 == 200)
        assert(hits() == before, s"$q reads the clock: it must bypass both caches")
      }
    }
  }

  test("SQL caches: text that only looks like metadata (a sys. string literal) " +
      "caches") {
    withSqlCaches { (sql, hits) =>
      val like = "SELECT COUNT(*) AS c FROM orders WHERE o_orderpriority LIKE '%sys.%'"
      val (s1, r1) = sql(like)
      val before = hits()
      val (s2, r2) = sql(like)
      assert(s1 == 200 && s2 == 200 && r1 == r2, JsonMethods.compact(JsonMethods.render(r1)))
      assert(hits()._2 == before._2 + 1, "the repeat must hit the result cache")
    }
  }

  test("native result cache (CachingClusteredClient result-level cache): " +
      "repeat POSTs return the cached payload; populateCache=false skips " +
      "storing; admin invalidation clears it") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    try {
      val body =
        """{"queryType": "groupBy", "dataSource": "nation",
            "timeColumn": "n_nationkey",
            "dimensions": ["n_regionkey"],
            "aggregations": [{"type": "count", "name": "cnt"}],
            "limitSpec": {"type": "default", "columns": [{"dimension": "n_regionkey", "dimensionOrder": "numeric"}]}}"""
      val (s1, r1) = post(facade.port, "/druid/v2", body)
      val missesAfterFirst = facade.resultCache.misses
      val (s2, r2) = post(facade.port, "/druid/v2", body)
      assert(s1 == 200 && s2 == 200 && r1 == r2)
      assert(facade.resultCache.hits >= 1 &&
        facade.resultCache.misses == missesAfterFirst)

      // populateCache=false: executes and does NOT store (a fresh body so
      // the earlier entry can't serve it)
      val noStore =
        """{"queryType": "timeBoundary", "dataSource": "nation",
            "timeColumn": "n_nationkey", "context": {"populateCache": false}}"""
      post(facade.port, "/druid/v2", noStore)
      val missesBefore = facade.resultCache.misses
      post(facade.port, "/druid/v2", noStore)
      assert(facade.resultCache.misses == missesBefore + 1,
        "populateCache=false must not have stored the first response")

      // GET stats + DELETE invalidation on the admin sibling
      val (gs, gj) = request(facade.port, "GET", "/druid/admin/resultCache")
      assert(gs == 200 && (gj \ "hits") != JNothing)
      assert(delete(facade.port, "/druid/admin/resultCache") == 200)
      val missesAfterInval = facade.resultCache.misses
      val (s3, r3) = post(facade.port, "/druid/v2", body)
      assert(s3 == 200 && r3 == r1)
      assert(facade.resultCache.misses == missesAfterInval + 1,
        "invalidation must drop cached results")
    } finally facade.stop()
  }

  test("rollup-catalog admin: POST register redirects subsequent SQL to the " +
      "rollup scan, GET lists the def, DELETE restores the base scan " +
      "(facade-only embedder path for plans.RollupRewrite)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    val basePath = s"${sf()}/orders.parquet"
    val rollupPath =
      s"${System.getProperty("java.io.tmpdir")}/graft_rollup_http_${System.nanoTime()}"
    try {
      import org.apache.spark.sql.functions._
      // expected values computed BEFORE any registration (no rewrite active)
      Sources.table(spark, sf(), "orders").createOrReplaceTempView("orders")
      val exact = spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS cnt, MIN(o_totalprice) AS mn " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // materialize a P1D rollup out-of-band (the operator's job)
      spark.read.parquet(basePath)
        .groupBy(date_trunc("day", col("o_orderdate")).cast("timestamp_ntz")
          .as("o_orderdate"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .write.mode("overwrite").parquet(rollupPath)

      // register over HTTP
      val (rs, rj) = post(facade.port, "/druid/coordinator/v1/rollups",
        s"""{
          "basePath": "$basePath",
          "rollupPath": "$rollupPath",
          "dimensions": ["o_orderstatus"],
          "metricMap": {"o_totalprice": [{"op": "min", "column": "min_price"},
                                         {"op": "max", "column": "max_price"}]},
          "countColumn": "cnt",
          "timeColumn": "o_orderdate",
          "granularity": "P1D"
        }""")
      assert(rs == 200 && (rj \ "registered") == JString(basePath), s"got $rj")

      // GET lists the registered def with its metadata
      val (gs, gj) = request(facade.port, "GET", "/druid/coordinator/v1/rollups")
      assert(gs == 200)
      val listed = gj.asInstanceOf[JArray].arr
        .find(d => (d \ "basePath") == JString(basePath))
      assert(listed.isDefined, s"def not listed: $gj")
      assert((listed.get \ "granularity" \ "period") == JString("P1D"))
      assert((listed.get \ "countColumn") == JString("cnt"))

      // the subsequent SQL's executed plan scans the ROLLUP table
      val explainBody =
        """{"query": "EXPLAIN PLAN FOR SELECT o_orderstatus, COUNT(*) AS cnt, MIN(o_totalprice) AS mn FROM orders GROUP BY o_orderstatus"}"""
      val (es, ej) = post(facade.port, "/druid/v2/sql", explainBody)
      assert(es == 200)
      val plan = (ej.asInstanceOf[JArray].arr.head \ "PLAN").asInstanceOf[JString].s
      assert(plan.contains("graft_rollup_http"),
        s"SQL plan must scan the rollup after HTTP registration:\n$plan")

      // and the values still match the pre-registration base computation
      val (vs, vj) = post(facade.port, "/druid/v2/sql",
        """{"query": "SELECT o_orderstatus, COUNT(*) AS cnt, MIN(o_totalprice) AS mn FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"}""")
      assert(vs == 200)
      val got = vj.asInstanceOf[JArray].arr.map { r =>
        ((r \ "o_orderstatus").asInstanceOf[JString].s,
          (r \ "cnt") match { case JInt(n) => n.toLong; case JLong(n) => n; case x => fail(s"cnt $x") },
          (r \ "mn") match { case JDouble(d) => d; case JDecimal(d) => d.toDouble; case x => fail(s"mn $x") })
      }
      assert(got == exact.toList, s"rollup-served values diverged: $got vs ${exact.toList}")

      // DELETE unregisters and the plan returns to the base scan
      val (ds, dj) = request(facade.port, "DELETE",
        s"/druid/coordinator/v1/rollups?basePath=${java.net.URLEncoder.encode(basePath, "UTF-8")}")
      assert(ds == 200 && (dj \ "removed") == JInt(1), s"got $dj")
      val (es2, ej2) = post(facade.port, "/druid/v2/sql", explainBody)
      assert(es2 == 200)
      val plan2 = (ej2.asInstanceOf[JArray].arr.head \ "PLAN").asInstanceOf[JString].s
      assert(!plan2.contains("graft_rollup_http"),
        s"plan must stop scanning the rollup after DELETE:\n$plan2")
    } finally {
      graft.plans.RollupRewrite.globalCatalog.unregister(basePath)
      facade.stop()
    }
  }
  test("rollup register/drop invalidates the RESULT cache too: a cached " +
      "result is never served across a catalog change (the broker drops " +
      "cached results on datasource change — CachingClusteredClient)") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    val basePath = s"${sf()}/orders.parquet"
    val rollupPath =
      s"${System.getProperty("java.io.tmpdir")}/graft_rollup_rc_${System.nanoTime()}"
    try {
      import org.apache.spark.sql.functions._
      val body =
        """{"queryType": "groupBy", "dataSource": "nation",
            "timeColumn": "n_nationkey",
            "dimensions": ["n_regionkey"],
            "aggregations": [{"type": "count", "name": "cnt"}],
            "limitSpec": {"type": "default", "columns": [{"dimension": "n_regionkey", "dimensionOrder": "numeric"}]}}"""
      val (s1, r1) = post(facade.port, "/druid/v2", body)
      val (s2, r2) = post(facade.port, "/druid/v2", body)
      assert(s1 == 200 && s2 == 200 && r1 == r2)
      assert(facade.resultCache.hits >= 1, "second POST must be a result hit")

      // a catalog change (register) must drop the cached result
      spark.read.parquet(basePath)
        .groupBy(date_trunc("day", col("o_orderdate")).cast("timestamp_ntz")
          .as("o_orderdate"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(rollupPath)
      val (rs, _) = post(facade.port, "/druid/coordinator/v1/rollups",
        s"""{
          "basePath": "$basePath",
          "rollupPath": "$rollupPath",
          "dimensions": ["o_orderstatus"],
          "metricMap": {},
          "countColumn": "cnt",
          "timeColumn": "o_orderdate",
          "granularity": "P1D"
        }""")
      assert(rs == 200)
      val missesBefore = facade.resultCache.misses
      val (s3, r3) = post(facade.port, "/druid/v2", body)
      assert(s3 == 200 && r3 == r1)
      assert(facade.resultCache.misses == missesBefore + 1,
        "rollup REGISTER must invalidate cached results, not serve stale ones")

      // ... and so must drop (the s3 re-POST re-populated the entry)
      val (s4, _) = post(facade.port, "/druid/v2", body)
      assert(s4 == 200 && facade.resultCache.hits >= 2)
      val (ds, _) = request(facade.port, "DELETE",
        s"/druid/coordinator/v1/rollups?basePath=${java.net.URLEncoder.encode(basePath, "UTF-8")}")
      assert(ds == 200)
      val missesBefore2 = facade.resultCache.misses
      val (s5, r5) = post(facade.port, "/druid/v2", body)
      assert(s5 == 200 && r5 == r1)
      assert(facade.resultCache.misses == missesBefore2 + 1,
        "rollup DROP must invalidate cached results")
    } finally {
      graft.plans.RollupRewrite.globalCatalog.unregister(basePath)
      facade.stop()
    }
  }

  test("rollup registration reads granularities like a native query: " +
      "\"hour\" lists as period PT1H and a base-table TIME_FLOOR aggregate " +
      "still answers; an unknown period is a 400") {
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sf(), name))
    val basePath = s"${sf()}/orders.parquet"
    val rollupPath =
      s"${System.getProperty("java.io.tmpdir")}/graft_rollup_hour_${System.nanoTime()}"
    def register(granularity: String): (Int, JValue) =
      post(facade.port, "/druid/coordinator/v1/rollups", s"""{
          "basePath": "$basePath", "rollupPath": "$rollupPath",
          "dimensions": ["o_orderstatus"], "metricMap": {},
          "countColumn": "cnt", "timeColumn": "o_orderdate",
          "granularity": $granularity}""")
    try {
      import org.apache.spark.sql.functions._
      Sources.table(spark, sf(), "orders").createOrReplaceTempView("orders")
      val daily = """{"query": "SELECT TIME_FLOOR(o_orderdate, 'P1D') AS d, COUNT(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1"}"""
      val (s0, before) = post(facade.port, "/druid/v2/sql", daily)
      assert(s0 == 200, s"got $before")
      spark.read.parquet(basePath)
        .groupBy(date_trunc("hour", col("o_orderdate")).cast("timestamp_ntz")
          .as("o_orderdate"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(rollupPath)

      val (rs, rj) = register("\"hour\"")
      assert(rs == 200, s"got $rj")
      val (_, gj) = request(facade.port, "GET", "/druid/coordinator/v1/rollups")
      val listed = gj.asInstanceOf[JArray].arr.find(d => (d \ "basePath") == JString(basePath))
      assert(listed.map(_ \ "granularity" \ "period").contains(JString("PT1H")), s"got $gj")

      val (s1, after) = post(facade.port, "/druid/v2/sql", daily)
      assert(s1 == 200, s"TIME_FLOOR aggregate over the base failed: $after")
      assert(after == before)

      assert(register("\"P1X\"")._1 == 400)
    } finally {
      graft.plans.RollupRewrite.globalCatalog.unregister(basePath)
      facade.stop()
    }
  }
}
