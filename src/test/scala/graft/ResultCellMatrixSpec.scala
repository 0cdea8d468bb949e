package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.HttpFacade

/** One row of every type the engine returns, sent through every transport
  * that writes result cells: each `/druid/v2/sql` result format (with the
  * header rows, with and without a `sqlTimeZone`), the native groupBy,
  * scan (`list`, `compactedList`) and timeBoundary envelopes (with and
  * without `serializeDateTimeAsLong`) and Avatica `prepareAndExecute`.
  * The HTTP bodies are compared byte for byte, so any change in how a cell
  * is written shows here; Avatica's float, decimal, struct and map cells
  * must read as the HTTP array format writes them. */
class ResultCellMatrixSpec extends SparkSpecBase {

  private val Text = "say \"hi\", ünï ✓"

  /** The typed row, then a row that is null in every column but the time. */
  private lazy val matrix: DataFrame = {
    val typed = spark.sql(
      """SELECT TIMESTAMP_NTZ '2000-01-02 03:04:05.678' AS __time,
        |  CAST(9007199254740993 AS BIGINT) AS l, CAST(-7 AS INT) AS i,
        |  CAST(1.1 AS FLOAT) AS f, CAST(0.1 AS DOUBLE) AS d,
        |  CAST(1e20 AS DOUBLE) AS dbig, CAST('NaN' AS DOUBLE) AS dnan,
        |  CAST('Infinity' AS DOUBLE) AS dpinf, CAST('-Infinity' AS DOUBLE) AS dninf,
        |  CAST(12.50 AS DECIMAL(4,2)) AS dec, CAST(NULL AS STRING) AS s,
        |  true AS bool, X'CAFE' AS bin,
        |  DATE '2000-01-02' AS dt, TIMESTAMP '2000-01-02 03:04:05.678' AS ts,
        |  TIMESTAMP_NTZ '2000-01-02 03:04:05.678' AS ntz,
        |  array('x', NULL) AS arr,
        |  array(TIMESTAMP '2000-01-02 03:04:05.678') AS arr_ts,
        |  named_struct('a', 1, 'b', 'y', 'n', CAST(NULL AS INT)) AS st,
        |  map('k', 1, 'z', CAST(NULL AS INT)) AS m,
        |  CAST(NULL AS STRING) AS nul""".stripMargin)
      .withColumn("s", lit(Text))
    typed.union(typed.select(typed.schema.fields.toSeq.map { f =>
      if (f.name == "__time") expr("TIMESTAMP_NTZ '2000-01-03 00:00:00'").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*))
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val resp = HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def ok(port: Int, path: String, body: String): String = {
    val (status, out) = post(port, path, body)
    assert(status == 200, out)
    out
  }

  private def withFacade[A](f: Int => A): A = {
    matrix.createOrReplaceTempView("matrix")
    val facade = HttpFacade.start(spark, _ => matrix)
    try f(facade.port) finally facade.stop()
  }

  // ---- the cells as /druid/v2/sql writes them ----

  private val JsonText = "\"say \\\"hi\\\", ünï ✓\""

  /** (column, cell) of the typed row; `la` is the America/Los_Angeles
    * sqlTimeZone, which moves the TIMESTAMP and DATE cells only. */
  private def sqlCells(la: Boolean): Seq[(String, String)] = Seq(
    "__time" -> "\"2000-01-02T03:04:05.678\"",
    "l" -> "9007199254740993", "i" -> "-7", "f" -> "1.1", "d" -> "0.1",
    "dbig" -> "1.0E20", "dnan" -> "\"NaN\"", "dpinf" -> "\"Infinity\"",
    "dninf" -> "\"-Infinity\"", "dec" -> "12.5", "s" -> JsonText,
    "bool" -> "true", "bin" -> "\"yv4=\"",
    "dt" -> (if (la) "\"2000-01-02T00:00:00.000-08:00\"" else "\"2000-01-02T00:00:00.000Z\""),
    "ts" -> (if (la) "\"2000-01-01T19:04:05.678-08:00\"" else "\"2000-01-02T03:04:05.678Z\""),
    "ntz" -> "\"2000-01-02T03:04:05.678\"", "arr" -> "[\"x\",null]",
    "arr_ts" -> (if (la) "[\"2000-01-01T19:04:05.678-08:00\"]" else "[\"2000-01-02T03:04:05.678Z\"]"),
    "st" -> "{\"a\":1,\"b\":\"y\"}", "m" -> "{\"k\":1,\"z\":null}", "nul" -> "null")

  private val Names = sqlCells(la = false).map(_._1)
  private val NullCells: Seq[(String, String)] =
    ("__time" -> "\"2000-01-03T00:00:00.000\"") +: Names.tail.map(_ -> "null")

  private def objectRow(cells: Seq[(String, String)]): String =
    cells.map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
  private def arrayRow(cells: Seq[(String, String)]): String =
    cells.map(_._2).mkString("[", ",", "]")

  private val HeaderObject =
    """{"__time":{"type":"LONG","sqlType":"TIMESTAMP"},"l":{"type":"LONG","sqlType":"BIGINT"},""" +
    """"i":{"type":"LONG","sqlType":"INTEGER"},"f":{"type":"FLOAT","sqlType":"FLOAT"},""" +
    """"d":{"type":"DOUBLE","sqlType":"DOUBLE"},"dbig":{"type":"DOUBLE","sqlType":"DOUBLE"},""" +
    """"dnan":{"type":"DOUBLE","sqlType":"DOUBLE"},"dpinf":{"type":"DOUBLE","sqlType":"DOUBLE"},""" +
    """"dninf":{"type":"DOUBLE","sqlType":"DOUBLE"},"dec":{"type":"DOUBLE","sqlType":"DECIMAL"},""" +
    """"s":{"type":"STRING","sqlType":"VARCHAR"},"bool":{"type":"LONG","sqlType":"BOOLEAN"},""" +
    """"bin":{"type":"COMPLEX","sqlType":"OTHER"},"dt":{"type":"LONG","sqlType":"DATE"},""" +
    """"ts":{"type":"LONG","sqlType":"TIMESTAMP"},"ntz":{"type":"LONG","sqlType":"TIMESTAMP"},""" +
    """"arr":{"type":"ARRAY<STRING>","sqlType":"ARRAY"},"arr_ts":{"type":"ARRAY<LONG>","sqlType":"ARRAY"},""" +
    """"st":{"type":null,"sqlType":"ROW"},"m":{"type":null,"sqlType":"OTHER"},""" +
    """"nul":{"type":"STRING","sqlType":"VARCHAR"}}"""
  private val HeaderArrays = Seq(
    """["__time","l","i","f","d","dbig","dnan","dpinf","dninf","dec","s","bool","bin","dt","ts",""" +
      """"ntz","arr","arr_ts","st","m","nul"]""",
    """["LONG","LONG","LONG","FLOAT","DOUBLE","DOUBLE","DOUBLE","DOUBLE","DOUBLE","DOUBLE","STRING",""" +
      """"LONG","COMPLEX","LONG","LONG","LONG","ARRAY<STRING>","ARRAY<LONG>",null,null,"STRING"]""",
    """["TIMESTAMP","BIGINT","INTEGER","FLOAT","DOUBLE","DOUBLE","DOUBLE","DOUBLE","DOUBLE","DECIMAL",""" +
      """"VARCHAR","BOOLEAN","OTHER","DATE","TIMESTAMP","TIMESTAMP","ARRAY","ARRAY","ROW","OTHER","VARCHAR"]""")
  private val HeaderCsv = Seq(
    "__time,l,i,f,d,dbig,dnan,dpinf,dninf,dec,s,bool,bin,dt,ts,ntz,arr,arr_ts,st,m,nul",
    "LONG,LONG,LONG,FLOAT,DOUBLE,DOUBLE,DOUBLE,DOUBLE,DOUBLE,DOUBLE,STRING,LONG,COMPLEX,LONG,LONG," +
      "LONG,ARRAY<STRING>,ARRAY<LONG>,,,STRING",
    "TIMESTAMP,BIGINT,INTEGER,FLOAT,DOUBLE,DOUBLE,DOUBLE,DOUBLE,DOUBLE,DECIMAL,VARCHAR,BOOLEAN," +
      "OTHER,DATE,TIMESTAMP,TIMESTAMP,ARRAY,ARRAY,ROW,OTHER,VARCHAR")

  private def csvRow(la: Boolean): String =
    "2000-01-02T03:04:05.678,9007199254740993,-7,1.1,0.1,1.0E20,NaN,Infinity,-Infinity,12.5," +
      "\"say \"\"hi\"\", ünï ✓\",true,yv4=," +
      (if (la) "2000-01-02T00:00:00.000-08:00,2000-01-01T19:04:05.678-08:00,"
       else "2000-01-02T00:00:00.000Z,2000-01-02T03:04:05.678Z,") +
      "2000-01-02T03:04:05.678,\"[\"\"x\"\",null]\"," +
      (if (la) "\"[\"\"2000-01-01T19:04:05.678-08:00\"\"]\","
       else "\"[\"\"2000-01-02T03:04:05.678Z\"\"]\",") +
      "\"{\"\"a\"\":1,\"\"b\"\":\"\"y\"\"}\",\"{\"\"k\"\":1,\"\"z\"\":null}\","
  private val CsvNullRow = "2000-01-03T00:00:00.000" + "," * 20

  /** The body each result format writes, per ResultFormat's writers. */
  private def sqlExpected(format: String, header: Boolean, la: Boolean): String = {
    val rows = Seq(sqlCells(la), NullCells)
    format match {
      case "object" =>
        ((if (header) Seq(HeaderObject) else Nil) ++ rows.map(objectRow))
          .mkString("[", ",", "]") + "\n"
      case "array" =>
        ((if (header) HeaderArrays else Nil) ++ rows.map(arrayRow)).mkString("[", ",", "]") + "\n"
      case "objectLines" =>
        ((if (header) Seq(HeaderObject) else Nil) ++ rows.map(objectRow)).map(_ + "\n").mkString + "\n"
      case "arrayLines" =>
        ((if (header) HeaderArrays else Nil) ++ rows.map(arrayRow)).map(_ + "\n").mkString + "\n"
      case "csv" =>
        ((if (header) HeaderCsv else Nil) ++ Seq(csvRow(la), CsvNullRow)).map(_ + "\n").mkString + "\n"
    }
  }

  for (format <- Seq("object", "array", "objectLines", "arrayLines", "csv");
       header <- Seq(false, true); la <- Seq(false, true)) {
    test(s"/druid/v2/sql $format (header=$header, sqlTimeZone=${if (la) "LA" else "none"}) " +
        "writes every cell type") {
      withFacade { port =>
        val hdr = if (header) ""","header":true,"typesHeader":true,"sqlTypesHeader":true""" else ""
        val ctx = if (la) """"sqlTimeZone":"America/Los_Angeles",""" else ""
        val body = ok(port, "/druid/v2/sql",
          s"""{"query":"SELECT * FROM matrix","resultFormat":"$format"$hdr,""" +
            s""""context":{$ctx"useCache":false}}""")
        assert(body == sqlExpected(format, header, la))
      }
    }
  }

  // ---- native envelopes ----

  private def native(queryType: String, extra: String, asLong: Boolean): String =
    s"""{"queryType":"$queryType","dataSource":"matrix","intervals":["2000/2001"],$extra""" +
      s""""context":{"useCache":false,"serializeDateTimeAsLong":$asLong}}"""

  /** The typed row as a native event: dates in Spark's `yyyy-MM-dd`, UTC
    * timestamps, null cells left out. */
  private val EventCells: Seq[(String, String)] =
    sqlCells(la = false).filterNot(_._1 == "nul").map {
      case ("dt", _) => "dt" -> "\"2000-01-02\""
      case c => c
    }
  private val Columns = Names.map(n => s""""$n"""").mkString("[", ",", "]")

  test("native groupBy writes dimension cells and the bucket timestamp") {
    withFacade { port =>
      val q = """"granularity":"day","dimensions":["s","l","d","dec","bool"],""" +
        """"aggregations":[{"type":"count","name":"cnt"}],"""
      val event = s"""{"s":$JsonText,"l":"9007199254740993","d":"0.1","dec":"12.50","bool":true,"cnt":1}"""
      assert(ok(port, "/druid/v2", native("groupBy", q, asLong = false)) ==
        s"""[{"version":"v1","timestamp":"2000-01-02T00:00:00.000Z","event":$event},""" +
          """{"version":"v1","timestamp":"2000-01-03T00:00:00.000Z","event":{"cnt":1}}]""")
      assert(ok(port, "/druid/v2", native("groupBy", q, asLong = true)) ==
        s"""[{"version":"v1","timestamp":946771200000,"event":$event},""" +
          """{"version":"v1","timestamp":946857600000,"event":{"cnt":1}}]""")
    }
  }

  test("native scan list and compactedList write every cell type, either time form") {
    withFacade { port =>
      val list = s"""[{"segmentId":null,"columns":$Columns,"events":[${objectRow(EventCells)},""" +
        """{"__time":"2000-01-03T00:00:00.000"}]}]"""
      val compacted = s"""[{"segmentId":null,"columns":$Columns,"events":[""" +
        arrayRow(EventCells :+ ("nul" -> "null")) + "," + arrayRow(NullCells) + "]}]"
      for (asLong <- Seq(false, true)) {
        assert(ok(port, "/druid/v2", native("scan", """"resultFormat":"list",""", asLong)) == list)
        assert(ok(port, "/druid/v2",
          native("scan", """"resultFormat":"compactedList",""", asLong)) == compacted)
      }
    }
  }

  test("native timeBoundary writes ISO millis, or epoch millis under serializeDateTimeAsLong") {
    withFacade { port =>
      assert(ok(port, "/druid/v2", native("timeBoundary", "", asLong = false)) ==
        """[{"timestamp":"2000-01-02T03:04:05.678Z","result":""" +
          """{"minTime":"2000-01-02T03:04:05.678Z","maxTime":"2000-01-03T00:00:00.000Z"}}]""")
      assert(ok(port, "/druid/v2", native("timeBoundary", "", asLong = true)) ==
        """[{"timestamp":946782245678,"result":{"minTime":946782245678,"maxTime":946857600000}}]""")
    }
  }

  // ---- Avatica ----

  private def avaticaRows(port: Int): List[JValue] = {
    val path = "/druid/v2/sql/avatica/"
    ok(port, path, """{"request":"openConnection","connectionId":"matrix"}""")
    val created = JsonMethods.parse(ok(port, path,
      """{"request":"createStatement","connectionId":"matrix"}"""))
    val sid = (created \ "statementId").asInstanceOf[JInt].num.toInt
    val executed = JsonMethods.parse(ok(port, path,
      s"""{"request":"prepareAndExecute","connectionId":"matrix","statementId":$sid,""" +
        """"sql":"SELECT * FROM matrix","maxRowCount":-1}"""))
    val rs = (executed \ "results").asInstanceOf[JArray].arr.head
    (rs \ "firstFrame" \ "rows").asInstanceOf[JArray].arr
  }

  private def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  test("Avatica writes times as epoch millis and dates as epoch days") {
    withFacade { port =>
      val rows = avaticaRows(port).map(_.asInstanceOf[JArray].arr.map(compact))
      val cells = Names.zip(rows.head).toMap
      assert(cells("__time") == "946782245678")
      assert(cells("ts") == "946782245678")
      assert(cells("ntz") == "946782245678")
      assert(cells("dt") == "10958")
      assert(cells("arr_ts") == "[946782245678]")
      val sql = sqlCells(la = false).toMap
      for (c <- Seq("l", "i", "d", "dbig", "dnan", "dpinf", "dninf", "s", "bool", "bin", "arr", "nul"))
        assert(cells(c) == sql(c), c)
      assert(rows(1) == "946857600000" +: Seq.fill(20)("null"))
    }
  }

  test("Avatica float, decimal, struct and map cells read as the HTTP array format writes them") {
    withFacade { port =>
      val cells = Names.zip(avaticaRows(port).head.asInstanceOf[JArray].arr.map(compact)).toMap
      val sql = sqlCells(la = false).toMap
      for (c <- Seq("f", "dec", "st", "m"))
        assert(cells(c) == sql(c), c)
    }
  }
}
