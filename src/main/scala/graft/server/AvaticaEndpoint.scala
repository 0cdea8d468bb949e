package graft.server

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's SECOND SQL transport: the Avatica JDBC endpoint
  * (sql/.../avatica/DruidAvaticaJsonHandler.java:38 serves Calcite
  * Avatica's JSON-RPC at `/druid/v2/sql/avatica/`; DruidMeta.java is the
  * Meta implementation behind it). This is a dependency-free re-expression
  * of the protocol subset a JDBC client exercises — the Avatica remote
  * JSON wire format is public Calcite surface (Service.java request/
  * response classes):
  *
  *   openConnection / closeConnection / connectionSync
  *   createStatement / closeStatement
  *   prepareAndExecute / prepare / execute / fetch
  *   getCatalogs / getSchemas / getTables / getColumns / getTableTypes
  *   databaseProperty
  *
  * Results carry Avatica's wire representations: LIST cursor rows as
  * positional arrays, TIMESTAMP cells as epoch millis, DATE cells as epoch
  * days (Avatica ColumnMetaData.Rep). Connection/statement caps mirror
  * AvaticaServerConfig defaults (25 connections, 4 statements each —
  * DruidMeta.java:754 "Too many connections, limit is[%,d] per broker",
  * DruidConnection.java:92 "Too many open statements, limit is[%,d]"), and
  * results stream in frames of `maxRowsPerFrame` continued by fetch calls
  * (AvaticaServerConfig.maxRowsPerFrame). Executed statements run in the
  * façade's request lifecycle, or in their own when standalone.
  */
final class AvaticaEndpoint(spark: SparkSession, serverAddress: String,
    maxConnections: Int = 25, maxStatementsPerConnection: Int = 4,
    maxRowsPerFrame: Int = 5000, minRowsPerFrame: Int = 100,
    maxResultRows: Int = 100000,
    val lifecycle: HttpFacade.RequestLifecycle = new HttpFacade.RequestLifecycle()) {

  // standalone-embedding path (Avatica without the HTTP facade): the
  // engine's session defaults still apply
  graft.GraftSession.configure(spark)

  /** DruidMeta.getEffectiveMaxRowsPerFrame: client/server maxima of -1 mean
    * unlimited; the result is coerced up to the server's minimum fetch size
    * (itself capped by the maximum — AvaticaServerConfig.getMinRowsPerFrame,
    * default 100). Avatica clients routinely ask for tiny fetch sizes; the
    * floor keeps frame round trips amortized. */
  private def effectiveFrameRows(clientMax: Int): Int = {
    val minRows =
      if (maxRowsPerFrame < 0) minRowsPerFrame
      else math.min(maxRowsPerFrame, minRowsPerFrame)
    def adjust(n: Int): Int = math.max(minRows, n)
    if (maxRowsPerFrame < 0) adjust(clientMax)
    else if (clientMax < 0) adjust(maxRowsPerFrame)
    else adjust(math.min(clientMax, maxRowsPerFrame))
  }

  private final case class Statement(id: Int, var sql: Option[String],
      var metas: Seq[HttpFacade.ColMeta] = Nil,
      var rows: IndexedSeq[JValue] = Vector.empty,
      var updateCount: Long = -1L,
      var statementType: String = "SELECT")

  private final class Connection {
    val statements = TrieMap.empty[Int, Statement]
    val statementCounter = new AtomicInteger(0)
  }

  private val connections = TrieMap.empty[String, Connection]

  private def rpcMetadata: JField =
    "rpcMetadata" -> JObject("response" -> JString("rpcMetadata"),
      "serverAddress" -> JString(serverAddress))

  /** Handle one Avatica JSON-RPC request; returns (HTTP status, body).
    * Calcite's AvaticaJsonHandler answers 200 on success and 500 with the
    * ErrorResponse envelope on failure (some avatica-core clients key error
    * handling off the status code, not just the response JSON). */
  def handle(body: String): (Int, String) = {
    val req = JsonMethods.parse(body)
    def str(k: String): String = (req \ k) match {
      case JString(s) => s; case _ => ""
    }
    // a metadata search pattern, bare or as a {"s": ...} wrapper; absent
    // matches everything
    def likePattern(k: String): scala.util.matching.Regex = likeRe((req \ k) match {
      case JString(s) => s
      case o => (o \ "s") match { case JString(s) => s; case _ => "%" }
    })
    def num(k: String, default: Long = -1L): Long = (req \ k) match {
      case JInt(n) => n.toLong; case JLong(n) => n
      case JDouble(d) => d.toLong; case _ => default
    }
    val (status, out): (Int, JObject) =
      try {
        (200, str("request") match {
          case "openConnection" => openConnection(str("connectionId"))
          case "closeConnection" =>
            connections.remove(str("connectionId"))
            JObject("response" -> JString("closeConnection"), rpcMetadata)
          case "connectionSync" =>
            JObject("response" -> JString("connectionSync"),
              "connProps" -> (req \ "connProps"), rpcMetadata)
          case "createStatement" =>
            val cid = str("connectionId")
            val st = newStatement(cid)
            JObject("response" -> JString("createStatement"),
              "connectionId" -> JString(cid), "statementId" -> JInt(st.id),
              rpcMetadata)
          case "closeStatement" =>
            connection(str("connectionId")).statements.remove(num("statementId").toInt)
            JObject("response" -> JString("closeStatement"), rpcMetadata)
          case "prepareAndExecute" =>
            val cid = str("connectionId")
            val st = connection(cid).statements.getOrElse(num("statementId").toInt,
              throw new IllegalStateException(s"Statement not found"))
            runGuarded(cid, st, str("sql"))
            executeResults(cid, st, num("maxRowsInFirstFrame", maxRowsPerFrame).toInt)
          case "prepare" =>
            val cid = str("connectionId")
            val st = newStatement(cid)
            st.sql = Some(str("sql"))
            // signature without executing: analyze the plan only, never a
            // command's (signatureOf). A parameterized statement can't be
            // analyzed until its `?`s are bound (DruidStatement defers the
            // same way), so the signature stays empty until execute
            SqlLifecycle.classify(spark, st.sql.get) match {
              case _: SqlLifecycle.Insert => st.statementType = "INSERT"
              case _: SqlLifecycle.Explain => st.metas = SqlLifecycle.ExplainColumns
              case q: SqlLifecycle.Query =>
                st.metas = try signatureOf(q) catch { case _: Exception => Nil }
            }
            JObject("response" -> JString("prepare"),
              "statement" -> JObject(
                "connectionId" -> JString(cid), "id" -> JInt(st.id),
                "signature" -> signatureJson(st)),
              rpcMetadata)
          case "execute" =>
            val handle = req \ "statementHandle"
            val cid = (handle \ "connectionId") match {
              case JString(s) => s; case _ => ""
            }
            val sid = (handle \ "id") match {
              case JInt(n) => n.toInt; case JLong(n) => n.toInt; case _ => -1
            }
            val st = connection(cid).statements.getOrElse(sid,
              throw new IllegalStateException("Statement not found"))
            val params = (req \ "parameterValues") match {
              case JArray(ps) => ps.map { p =>
                ((p \ "type") match {
                  case JString(t) => avaticaParamType(t); case _ => "VARCHAR"
                }, p \ "value")
              }
              case _ => Nil
            }
            runGuarded(cid, st, SqlLifecycle.bindParameters(
              st.sql.getOrElse(throw new IllegalStateException("not prepared")), params))
            executeResults(cid, st, num("maxRowsInFirstFrame", maxRowsPerFrame).toInt)
          case "fetch" =>
            val st = connection(str("connectionId")).statements
              .getOrElse(num("statementId").toInt,
                throw new IllegalStateException("Statement not found"))
            val offset = num("offset", 0L).toInt
            val n = effectiveFrameRows(num("fetchMaxRowCount", -1L).toInt)
            val theFrame = frame(st, offset, n)
            // the final frame auto-closes the statement (DruidStatement
            // .nextFrame:294)
            if ((theFrame \ "done") == JBool(true))
              connections.get(str("connectionId")).foreach(_.statements.remove(st.id))
            JObject("response" -> JString("fetch"),
              "connectionId" -> JString(str("connectionId")),
              "statementId" -> JInt(st.id),
              "frame" -> theFrame, rpcMetadata)
          case "getCatalogs" => metaResult(str("connectionId"),
            Seq("TABLE_CAT"), Seq(Seq(JString("druid"))))
          case "getSchemas" =>
            val pattern = likePattern("schemaPattern")
            // the reference's schema set (information_schema/druid/sys);
            // TABLE_CATALOG is the fixed "druid" catalog
            val schemas = Seq("druid", "information_schema", "sys")
              .filter(s => pattern.matches(s)).sorted
            metaResult(str("connectionId"), Seq("TABLE_SCHEM", "TABLE_CATALOG"),
              schemas.map(s => Seq(JString(s), JString("druid"))))
          case "getTables" =>
            val pattern = likePattern("tableNamePattern")
            val tables = spark.catalog.listTables().collect()
              .map(_.name).filter(pattern.matches).sorted.toSeq
            metaResult(str("connectionId"),
              Seq("TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME", "TABLE_TYPE"),
              tables.map(t => Seq(JString("druid"), JString("druid"),
                JString(t), JString("TABLE"))))
          case "getColumns" =>
            val tablePattern = likePattern("tableNamePattern")
            val columnPattern = likePattern("columnNamePattern")
            val tables = spark.catalog.listTables().collect()
              .map(_.name).filter(tablePattern.matches).sorted.toSeq
            val rows = tables.flatMap { t =>
              spark.table(t).schema.fields.zipWithIndex.collect {
                case (f, i) if columnPattern.matches(f.name) =>
                  Seq(JString("druid"), JString("druid"), JString(t),
                    JString(f.name), JInt(jdbcType(HttpFacade.colMeta(f).sqlType)._1),
                    JString(typeName(f)),
                    JInt(i + 1), JString(if (f.nullable) "YES" else "NO"))
              }
            }
            metaResult(str("connectionId"),
              Seq("TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME", "COLUMN_NAME",
                "DATA_TYPE:INTEGER", "TYPE_NAME", "ORDINAL_POSITION:INTEGER",
                "IS_NULLABLE"),
              rows)
          case "getTableTypes" => metaResult(str("connectionId"),
            Seq("TABLE_TYPE"), Seq(Seq(JString("TABLE"))))
          case "databaseProperty" =>
            JObject("response" -> JString("databaseProperty"),
              "map" -> JObject(), rpcMetadata)
          case other =>
            throw new IllegalArgumentException(s"unsupported request: $other")
        })
      } catch { case e: Throwable =>
        (500, JObject("response" -> JString("error"),
          "exceptions" -> JArray(List(JString(String.valueOf(e.getMessage)))),
          "errorMessage" -> JString(String.valueOf(e.getMessage)),
          "errorCode" -> JInt(-1), "sqlState" -> JString("00000"),
          "severity" -> JString("ERROR"), rpcMetadata))
      }
    (status, JsonMethods.compact(JsonMethods.render(out)))
  }

  // ---- connections / statements ----

  private def connection(id: String): Connection =
    connections.getOrElse(id,
      throw new IllegalStateException(s"Connection[$id] not open"))

  private def openConnection(id: String): JObject = connections.synchronized {
    // check-and-insert under one lock: the HTTP server runs handlers on a
    // thread pool, so concurrent opens must not exceed maxConnections
    if (connections.size >= maxConnections && !connections.contains(id)) {
      // last-ditch effort to clear one abandoned (statement-less)
      // connection before refusing (DruidMeta.openDruidConnection:729 —
      // testNotTooManyConnectionsWhenTheyAreEmpty)
      connections.find(_._2.statements.isEmpty) match {
        case Some((evictId, _)) => connections.remove(evictId)
        case None => throw new IllegalStateException(
          s"Too many connections, limit is[$maxConnections] per broker")
      }
    }
    if (connections.putIfAbsent(id, new Connection).isDefined)
      throw new IllegalStateException(s"Connection[$id] already open.")
    JObject("response" -> JString("openConnection"), rpcMetadata)
  }

  private def newStatement(cid: String): Statement = {
    val conn = connection(cid)
    conn.synchronized {
      if (conn.statements.size >= maxStatementsPerConnection)
        throw new IllegalStateException(
          s"Too many open statements, limit is[$maxStatementsPerConnection]")
      val st = Statement(conn.statementCounter.incrementAndGet(), None)
      conn.statements.put(st.id, st)
      st
    }
  }

  // ---- SQL execution (the same lenient planning surface as /druid/v2/sql) ----

  // JDBC connections set no planner context knobs
  private val noContext = new SqlLifecycle.PlannerContext(JObject())

  /** A query's result columns, planned but not executed. A command is
    * refused: planning it would execute it (DDL, Spark-dialect DML), and
    * prepare must never run side effects (DruidMeta.prepare only plans). */
  private def signatureOf(q: SqlLifecycle.Query): Seq[HttpFacade.ColMeta] =
    SqlLifecycle.scoped(spark, q, noContext) {
      if (!q.isQuery) throw new IllegalArgumentException("cannot prepare a non-query statement")
      SqlLifecycle.plan(spark, q, noContext)
    }.schema.fields.toSeq.map(HttpFacade.colMeta)

  /** runSql in the request lifecycle under a generated sqlQueryId (the log
    * line has no byte count: frames leave later, through fetch), releasing
    * the statement slot on failure — the reference closes the statement
    * when execution throws (DruidStatement.nextFrame's catch → close()), so
    * 50 consecutive failing statements never exhaust the 4-slot cap
    * (testNotTooManyStatementsWhenTheyThrowErrors). */
  private def runGuarded(cid: String, st: Statement, sqlText: String): Unit = {
    val queryId = java.util.UUID.randomUUID().toString
    try lifecycle.run(spark, queryId) { (ms, out: scala.util.Try[Unit]) =>
      lifecycle.requestLog.logSql("", sqlText, JObject("sqlQueryId" -> JString(queryId)),
        ms, -1L, out.failed.toOption)
    }(runSql(st, sqlText))
    catch { case e: Throwable =>
      connection(cid).statements.remove(st.id)
      throw e
    }
  }

  private def runSql(st: Statement, sqlText: String): Unit = {
    st.sql = Some(sqlText)
    st.updateCount = -1L
    st.statementType = "SELECT"
    val statement = SqlLifecycle.classify(spark, sqlText)
    SqlLifecycle.scoped(spark, statement, noContext)(statement match {
      // JDBC executeUpdate surface: INSERT DML reports the published row
      // count as the update count; the signature carries the DML statement
      // type (Meta.StatementType.INSERT)
      case ins: SqlLifecycle.Insert =>
        st.metas = Nil
        st.rows = Vector.empty
        st.statementType = "INSERT"
        st.updateCount = SqlLifecycle.insert(spark, ins)
      case e: SqlLifecycle.Explain =>
        st.metas = SqlLifecycle.ExplainColumns
        st.rows = SqlLifecycle.explainRows(spark, e).toIndexedSeq.map(o =>
          JArray(List(o \ "PLAN", o \ "RESOURCES")))
      case q: SqlLifecycle.Query =>
        val df = SqlLifecycle.plan(spark, q, noContext)
        val fields = df.schema.fields
        st.metas = fields.toSeq.map(HttpFacade.colMeta)
        st.rows = HttpFacade.capRows(df, maxResultRows).toIndexedSeq.map { r =>
          JArray(fields.indices.toList.map(i =>
            HttpFacade.cell(r.get(i), fields(i).dataType, AvaticaTimes)))
        }
    })
  }

  /** Avatica's time reps (DruidStatement.rep): TIMESTAMP → epoch millis,
    * DATE → epoch days; every other cell reads as on `/druid/v2/sql`. */
  private val AvaticaTimes = HttpFacade.TimeForm(JLong(_), JLong(_), d => JLong(d.toLong))

  // ---- response shapes ----

  private def executeResults(cid: String, st: Statement, firstFrameRows: Int): JObject = {
    val n = effectiveFrameRows(firstFrameRows)
    val out = JObject("response" -> JString("executeResults"),
      "missingStatement" -> JBool(false), rpcMetadata,
      "results" -> JArray(List(resultSet(cid, st, n))))
    // fully-served results auto-close the statement, freeing its slot
    // (DruidStatement.nextFrame:294 closes on done — 50 sequential
    // executeQuery calls on one connection never hit the statement cap)
    if (st.id >= 0 && n >= st.rows.length)
      connections.get(cid).foreach(_.statements.remove(st.id))
    out
  }

  private def resultSet(cid: String, st: Statement, firstFrameRows: Int): JObject =
    JObject("response" -> JString("resultSet"),
      "connectionId" -> JString(cid), "statementId" -> JInt(st.id),
      "ownStatement" -> JBool(true),
      "signature" -> signatureJson(st),
      "firstFrame" -> frame(st, 0, firstFrameRows),
      "updateCount" -> JLong(st.updateCount), rpcMetadata)

  private def frame(st: Statement, offset: Int, n: Int): JObject = {
    val slice = st.rows.slice(offset, offset + n)
    JObject("offset" -> JInt(offset),
      "done" -> JBool(offset + slice.length >= st.rows.length),
      "rows" -> JArray(slice.toList))
  }

  private def signatureJson(st: Statement): JObject =
    JObject(
      "columns" -> JArray(st.metas.zipWithIndex.toList.map { case (m, i) =>
        columnMetaData(m, i)
      }),
      "sql" -> st.sql.fold(JNull: JValue)(JString(_)),
      "parameters" -> JArray(Nil),
      "cursorFactory" -> JObject("style" -> JString("LIST"),
        "clazz" -> JNull, "fieldNames" -> JNull),
      "statementType" -> JString(st.statementType))

  /** Avatica ColumnMetaData JSON for a result column. Reps follow
    * DruidStatement.rep (DruidStatement.java:413-440): TIMESTAMP cells ride
    * the wire as epoch millis so their rep is LONG (not JAVA_SQL_TIMESTAMP),
    * DATE as epoch days → INTEGER, and exact numerics use NUMBER "since
    * JSON transport might switch longs to integers"
    * (DruidStatementTest.testSignature asserts these clazz names). */
  private def columnMetaData(m: HttpFacade.ColMeta, ordinal: Int): JObject = {
    val (id, name, rep, clazz) = jdbcType(m.sqlType)
    JObject(
      "ordinal" -> JInt(ordinal),
      "autoIncrement" -> JBool(false), "caseSensitive" -> JBool(true),
      "searchable" -> JBool(false), "currency" -> JBool(false),
      "nullable" -> JInt(1), "signed" -> JBool(true),
      "displaySize" -> JInt(-1),
      "label" -> JString(m.name), "columnName" -> JString(m.name),
      "schemaName" -> JNull, "precision" -> JInt(0), "scale" -> JInt(0),
      "tableName" -> JNull, "catalogName" -> JNull,
      "type" -> JObject("type" -> JString("scalar"), "id" -> JInt(id),
        "name" -> JString(name), "rep" -> JString(rep)),
      "readOnly" -> JBool(true), "writable" -> JBool(false),
      "definitelyWritable" -> JBool(false),
      "columnClassName" -> JString(clazz))
  }

  /** Metadata results reuse the resultSet shape over a transient statement.
    * Columns default to VARCHAR; integer-valued metadata columns
    * (DATA_TYPE, ORDINAL_POSITION — named with a ":INTEGER" suffix) are
    * typed INTEGER so a rep-driven Avatica client reads them through the
    * int accessor, like the reference's properly-typed metadata cursors. */
  private def metaResult(cid: String, cols: Seq[String],
      rows: Seq[Seq[JValue]]): JObject = {
    val st = Statement(-1, None,
      cols.map { c =>
        if (c.endsWith(":INTEGER"))
          HttpFacade.ColMeta(c.stripSuffix(":INTEGER"), Some("LONG"), "INTEGER")
        else HttpFacade.ColMeta(c, Some("STRING"), "VARCHAR")
      },
      rows.toIndexedSeq.map(r => JArray(r.toList)))
    resultSet(if (cid.isEmpty) "meta" else cid, st, maxRowsPerFrame)
  }

  /** Avatica TypedValue type → the SQL-endpoint parameter type vocabulary
    * (SqlLifecycle.bindParameters). */
  private def avaticaParamType(t: String): String = t.toUpperCase match {
    case "STRING" | "CHARACTER_STRING" => "VARCHAR"
    case "LONG" | "PRIMITIVE_LONG" | "INTEGER" | "PRIMITIVE_INT" => "BIGINT"
    case "DOUBLE" | "PRIMITIVE_DOUBLE" | "FLOAT" | "PRIMITIVE_FLOAT" |
         "NUMBER" | "BIG_DECIMAL" => "DOUBLE"
    case "BOOLEAN" | "PRIMITIVE_BOOLEAN" => "BOOLEAN"
    case "JAVA_SQL_TIMESTAMP" => "TIMESTAMP"
    case "JAVA_SQL_DATE" => "DATE"
    case _ => "VARCHAR"
  }

  /** The JDBC typing of a SQL type name ([[HttpFacade.colMeta]]'s
    * sqlType): (java.sql.Types id, type name, Avatica rep, column class). */
  private def jdbcType(sqlType: String): (Int, String, String, String) = sqlType match {
    case "TIMESTAMP" => (93, "TIMESTAMP", "LONG", "java.lang.Long")
    case "DATE" => (91, "DATE", "INTEGER", "java.lang.Integer")
    case "BIGINT" => (-5, "BIGINT", "NUMBER", "java.lang.Number")
    case "INTEGER" => (4, "INTEGER", "NUMBER", "java.lang.Number")
    case "SMALLINT" => (5, "SMALLINT", "NUMBER", "java.lang.Number")
    case "TINYINT" => (-6, "TINYINT", "NUMBER", "java.lang.Number")
    case "BOOLEAN" => (16, "BOOLEAN", "BOOLEAN", "java.lang.Boolean")
    case "FLOAT" => (6, "FLOAT", "FLOAT", "java.lang.Float")
    case "DOUBLE" => (8, "DOUBLE", "DOUBLE", "java.lang.Double")
    case "DECIMAL" => (3, "DECIMAL", "DOUBLE", "java.lang.Double")
    case "VARCHAR" => (12, "VARCHAR", "STRING", "java.lang.String")
    case "ARRAY" => (2003, "ARRAY", "ARRAY", "java.sql.Array")
    case _ => (1111, "OTHER", "OBJECT", "java.lang.Object")
  }

  /** getColumns TYPE_NAME: the JDBC type name, with the element type
    * spelled out for arrays (ARRAY<VARCHAR>) and COMPLEX for binary
    * (sketch) columns. */
  private def typeName(f: StructField): String = f.dataType match {
    case ArrayType(e, _) => s"ARRAY<${typeName(StructField(f.name, e))}>"
    case BinaryType => "COMPLEX"
    case _ => jdbcType(HttpFacade.colMeta(f).sqlType)._2
  }

  /** JDBC LIKE pattern (`%`, `_`, `\` escape) → anchored regex. The JDBC
    * DatabaseMetaData search-pattern escape is backslash
    * (DruidAvaticaHandlerTest.testEscapingForGetColumns: "m_\\_x" matches
    * only the literal-underscore names; unescaped "some_datasource" matches
    * both some_datasource and somexdatasource). */
  private def likeRe(pattern: String): scala.util.matching.Regex = {
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' if i + 1 < pattern.length =>
          sb.append(java.util.regex.Pattern.quote(pattern.charAt(i + 1).toString))
          i += 1
        case '%' => sb.append(".*")
        case '_' => sb.append('.')
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    sb.toString.r
  }
}
