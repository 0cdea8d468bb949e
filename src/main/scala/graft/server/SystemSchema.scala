package graft.server

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The reference's SQL metadata surface (sql/.../schema/DruidSchema.java
  * INFORMATION_SCHEMA + SystemSchema.java `sys` tables), re-expressed over
  * the Spark session catalog:
  *
  *  - INFORMATION_SCHEMA.SCHEMATA / TABLES / COLUMNS
  *    (CalciteQueryTest.java:183-396 query these three)
  *  - sys.segments — the segment inventory (SystemSchema.java:115, served
  *    from BatchIngest.segments' per-file stats)
  *
  * Spark's in-memory catalog has neither an INFORMATION_SCHEMA nor
  * cross-database views over temp state, and permanent views may not
  * reference temp views — so each register() materializes a SNAPSHOT as
  * `CREATE OR REPLACE VIEW ... AS VALUES` (plan-inlined literal rows, no
  * filesystem writes). The SQL entry points call refreshFor before
  * planning, so metadata queries always see the live catalog — the
  * same effect as the reference's broker refreshing its DruidSchema on
  * segment change. sys.server_segments is NOT a snapshot: it's a lazy view
  * over sys.servers × sys.segments, computed distributed at query time.
  */
object SystemSchema {

  /** The metadata schema a relation name lives in, `sys` or
    * `information_schema` in any case, if it lives in one. */
  def metadataSchema(relation: Seq[String]): Option[String] =
    relation.init.lastOption.map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(s => s == "information_schema" || s == "sys")

  /** Register-on-access: the SQL entry points call this with the relation
    * names a statement reads, before planning; the snapshots of the
    * metadata schemas among them refresh from the live catalog/runtime
    * state first — the analog of the reference broker refreshing
    * DruidSchema on segment change (sql/.../schema/DruidSchema.java),
    * without a manual register(). */
  def refreshFor(spark: SparkSession, relations: Seq[Seq[String]]): Unit = {
    val schemas = relations.flatMap(metadataSchema).toSet
    if (schemas("information_schema")) register(spark)
    if (schemas("sys")) registerServers(spark)
  }

  /** Register INFORMATION_SCHEMA views over the current catalog state. */
  def register(spark: SparkSession): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS information_schema")

    val catalogName = "druid" // the reference's catalog name (DruidSchema)
    inlineView(spark, "information_schema.schemata",
      Seq("catalog_name", "schema_name"),
      spark.catalog.listDatabases().collect().toSeq
        .map(d => Seq(catalogName, d.name)))

    // listTables(db) repeats temp views under every database — dedupe by
    // (schema, name); the three metadata views themselves are added
    // statically below (they are (re)created only at the end of register(),
    // but InformationSchema always lists itself — TablesTable does too)
    val tables = spark.catalog.listDatabases().collect().toSeq.map(_.name)
      .flatMap(db => try spark.catalog.listTables(db).collect().toSeq
        catch { case _: Throwable => Nil })
      .filterNot(t => Option(t.database).contains("information_schema"))
      .distinctBy(t => (Option(t.database).getOrElse(""), t.name))
    val lookupNames = graft.sources.LookupRegistry.global.names.toSet
    val selfRows = Seq("schemata", "tables", "columns").map(n =>
      Seq(catalogName, "information_schema", n, "SYSTEM_TABLE", "NO", "NO"))
    inlineView(spark, "information_schema.tables",
      Seq("table_catalog", "table_schema", "table_name", "table_type",
        "is_joinable", "is_broadcast"),
      selfRows ++ tables.map { t =>
        val schema = Option(t.database).filter(_.nonEmpty).getOrElse("druid")
        // the reference's TABLE_TYPE vocabulary (InformationSchema.java
        // TablesTable): datasources are TABLE, SQL views VIEW, and the
        // metadata tables themselves SYSTEM_TABLE; registered lookups are
        // the joinable/broadcast tables (testInformationSchemaTables)
        val tableType =
          if (schema == "information_schema" || schema == "sys") "SYSTEM_TABLE"
          else if (t.tableType == "VIEW") "VIEW"
          else "TABLE"
        val joinable = if (lookupNames.contains(t.name)) "YES" else "NO"
        Seq(catalogName, schema, t.name, tableType, joinable, joinable)
      })

    inlineView(spark, "information_schema.columns",
      Seq("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "jdbc_type", "is_nullable"),
      tables.flatMap { t =>
        val schema = Option(t.database).filter(_.nonEmpty).getOrElse("druid")
        val fq = Option(t.database).filter(_.nonEmpty).map(d => s"$d.${t.name}").getOrElse(t.name)
        // ORDINAL_POSITION is 0-based in the reference
        // (InformationSchema.java:430 String.valueOf(field.getIndex()));
        // JDBC_TYPE is the java.sql.Types code (InformationSchema.java:433,
        // aggregated by CalciteParameterQueryTest.java:209)
        try spark.table(fq).schema.fields.zipWithIndex.toSeq.map { case (f, i) =>
          Seq(catalogName, schema, t.name, f.name, i.toString,
            calciteTypeName(f.dataType), jdbcType(f.dataType).toString,
            if (f.nullable) "YES" else "NO")
        }
        catch { case _: Throwable => Nil } // unreadable entry → skip, like a dropped segment
      },
      numericCols = Set("ordinal_position", "jdbc_type"))
  }

  /** DATA_TYPE rendered with the reference's Calcite names — strings are
    * VARCHAR (testInformationSchemaColumnsOnTable expects VARCHAR, not
    * Spark's STRING); everything else already matches. */
  private def calciteTypeName(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case StringType => "VARCHAR"
      case other => other.sql
    }
  }

  /** java.sql.Types code per Spark type (the reference maps Calcite types
    * via RelDataType.getSqlTypeName().getJdbcOrdinal()). */
  private def jdbcType(t: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    t match {
      case StringType => java.sql.Types.VARCHAR
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case ShortType => java.sql.Types.SMALLINT
      case ByteType => java.sql.Types.TINYINT
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.FLOAT // Druid FLOAT → JDBC FLOAT(6)
      case BooleanType => java.sql.Types.BOOLEAN
      case DateType => java.sql.Types.DATE
      case _: TimestampType | _: TimestampNTZType => java.sql.Types.TIMESTAMP
      case _: DecimalType => java.sql.Types.DECIMAL
      case BinaryType => java.sql.Types.VARBINARY
      case _: ArrayType => java.sql.Types.ARRAY
      case _ => java.sql.Types.OTHER // COMPLEX columns report OTHER(1111)
    }
  }

  // ---- sys.servers / sys.server_segments / sys.tasks / sys.supervisors ----
  //
  // The reference serves these from coordinator/overlord state
  // (SystemSchema.java:104-108 SERVERS/SERVER_SEGMENTS/TASKS/SUPERVISORS).
  // The honest Spark analogs: servers = the session's executor inventory
  // (each executor is a data-serving "historical"; the driver doubles as
  // the leader/broker), server_segments = executor × segment assignment
  // (shared storage: every data server can serve every segment),
  // tasks = active Structured Streaming queries (the reference's indexing
  // tasks), supervisors = the registered streaming-ingest supervisors.

  /** Supervisor registry — the overlord's supervisor list analog
    * (SeekableStreamSupervisor). `StreamingIngest` pipelines register here;
    * `suspended` mirrors the reference's suspend/resume toggle. */
  final case class SupervisorEntry(id: String, supervisorType: String,
      source: String, spec: String, suspended: Boolean = false)
  private val supervisorRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, SupervisorEntry]()
  def registerSupervisor(e: SupervisorEntry): Unit = supervisorRegistry.put(e.id, e)
  def removeSupervisor(id: String): Boolean = supervisorRegistry.remove(id) != null
  def supervisor(id: String): Option[SupervisorEntry] =
    Option(supervisorRegistry.get(id))
  def supervisors: Seq[SupervisorEntry] = {
    import scala.jdk.CollectionConverters._
    supervisorRegistry.values.asScala.toSeq.sortBy(_.id)
  }
  /** Suspend/resume toggle (the overlord's specSuspendOrResume). */
  def setSupervisorSuspended(id: String, suspended: Boolean): Option[SupervisorEntry] =
    Option(supervisorRegistry.computeIfPresent(id,
      (_, e) => e.copy(suspended = suspended)))

  /** Register sys.servers / sys.server_segments / sys.tasks /
    * sys.supervisors snapshots from the session's runtime state. Re-register
    * after executor or streaming-query changes, like the reference's
    * coordinator poll. */
  def registerServers(spark: SparkSession): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS sys")
    val sc = spark.sparkContext
    val execs = sc.statusTracker.getExecutorInfos.toSeq

    // SERVERS_SIGNATURE (SystemSchema.java:153-163): the first entry is the
    // driver — the leader (broker+coordinator analog); every entry serves
    // data in local/shared-storage mode, so server_type stays "historical"
    inlineView(spark, "sys.servers",
      Seq("server", "host", "plaintext_port", "tls_port", "server_type",
        "tier", "curr_size", "max_size", "is_leader"),
      execs.zipWithIndex.map { case (e, i) =>
        val curr = e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory
        val max = e.totalOnHeapStorageMemory + e.totalOffHeapStorageMemory
        Seq(s"${e.host}:${e.port}", e.host, e.port.toString, "-1",
          "historical", "_default_tier", curr.toString, max.toString,
          if (i == 0) "1" else "0")
      },
      numericCols = Set("plaintext_port", "tls_port", "curr_size", "max_size", "is_leader"))

    // SERVER_SEGMENTS_SIGNATURE (SystemSchema.java:166-170): shared storage
    // means every data server is assignable to every registered segment.
    // Defined as a LAZY view over sys.servers × sys.segments — evaluated
    // distributed at query time, never inlined: a 10k-segment ×
    // 1k-executor cluster would otherwise bake 10M literal rows into the
    // view definition
    if (!spark.catalog.tableExists("sys.segments"))
      inlineView(spark, "sys.segments",
        Seq("segment_id", "datasource", "start", "`end`", "size", "version",
          "partition_num", "num_replicas", "num_rows", "is_published",
          "is_available", "is_realtime", "is_overshadowed", "shard_spec",
          "dimensions", "metrics", "last_compaction_state"),
        Nil,
        numericCols = Set("size", "partition_num", "num_replicas", "num_rows",
          "is_published", "is_available", "is_realtime", "is_overshadowed"))
    spark.sql(
      """CREATE OR REPLACE VIEW sys.server_segments AS
        |SELECT s.server, g.segment_id
        |FROM sys.servers s CROSS JOIN sys.segments g""".stripMargin)

    // TASKS_SIGNATURE (SystemSchema.java:172-188): an active streaming query
    // is a running indexing task (the reference's index_kafka task group)
    val host = spark.conf.getOption("spark.driver.host").getOrElse("localhost")
    inlineView(spark, "sys.tasks",
      Seq("task_id", "group_id", "type", "datasource", "created_time",
        "queue_insertion_time", "status", "runner_status", "duration",
        "location", "host", "plaintext_port", "tls_port", "error_msg"),
      spark.streams.active.toSeq.map { q =>
        val created = q.recentProgress.headOption.map(_.timestamp).getOrElse("")
        Seq(q.id.toString, q.runId.toString, "index_spark_streaming",
          Option(q.name).getOrElse(""), created, created, "RUNNING", "RUNNING",
          "-1", s"$host:-1", host, "-1", "-1", null)
      },
      numericCols = Set("duration", "plaintext_port", "tls_port"))

    // SUPERVISOR_SIGNATURE (SystemSchema.java:190-200)
    import scala.jdk.CollectionConverters._
    inlineView(spark, "sys.supervisors",
      Seq("supervisor_id", "state", "detailed_state", "healthy", "type",
        "source", "suspended", "spec"),
      supervisorRegistry.values.asScala.toSeq.sortBy(_.id).map { s =>
        val state = if (s.suspended) "SUSPENDED" else "RUNNING"
        Seq(s.id, state, state, if (s.suspended) "0" else "1",
          s.supervisorType, s.source, if (s.suspended) "1" else "0", s.spec)
      },
      numericCols = Set("healthy", "suspended"))
  }

  /** Register sys.segments from a datasource path's segment inventory —
    * the full SEGMENTS_SIGNATURE (SystemSchema.java:134-150). Spark-honest
    * values for the coordinator-state columns: every published parquet
    * segment is available and not realtime/overshadowed; version is the
    * write-commit marker (constant "v1" — parquet files don't version);
    * partition_num indexes the file within the datasource; num_replicas is
    * the shared-storage fan-out (every data server can serve it, like
    * sys.server_segments); dimensions/metrics come from the schema split
    * (non-numeric vs numeric non-time columns, the ingest rollup model). */
  // sys.segments spans ALL datasources (SystemSchema.java serves the whole
  // coordinator inventory), so registrations accumulate per session —
  // re-registering a datasource replaces only its own rows. Keyed by
  // session UUID so parallel test sessions don't see each other's segments.
  private val segmentRegistry =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[Seq[String]]]

  def registerSegments(spark: SparkSession, dataSource: String, path: String,
      timeColumn: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS sys")
    val inv = graft.sources.BatchIngest.segments(spark, path, timeColumn).collect().toSeq
    val schema = spark.read.parquet(path).schema
    val (metrics, dims) = schema.fields.filterNot(_.name == timeColumn)
      .filterNot(_.name == "__chunk")
      .partition(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val nServers = math.max(1, spark.sparkContext.statusTracker.getExecutorInfos.length)
    val rows = inv.zipWithIndex.map { case (r, i) =>
      Seq(r.getString(0), dataSource,
        String.valueOf(r.get(2)), String.valueOf(r.get(3)), r.getLong(4).toString,
        "v1", i.toString, nServers.toString, r.getLong(1).toString,
        "1", "1", "0", "0",
        s"""{"type":"numbered","partitionNum":$i}""",
        dims.map(_.name).mkString(","), metrics.map(_.name).mkString(","),
        null)
    }
    val sessionKey = System.identityHashCode(spark).toString
    segmentRegistry.put((sessionKey, dataSource), rows)
    val allRows = segmentRegistry.toSeq.collect {
      case ((s, ds), r) if s == sessionKey => (ds, r)
    }.sortBy(_._1).flatMap(_._2)
    inlineView(spark, "sys.segments",
      Seq("segment_id", "datasource", "start", "`end`", "size", "version",
        "partition_num", "num_replicas", "num_rows", "is_published",
        "is_available", "is_realtime", "is_overshadowed", "shard_spec",
        "dimensions", "metrics", "last_compaction_state"),
      allRows,
      numericCols = Set("size", "partition_num", "num_replicas", "num_rows",
        "is_published", "is_available", "is_realtime", "is_overshadowed"))
  }

  /** CREATE OR REPLACE VIEW name AS VALUES(...) — snapshot rows inlined as
    * literals (escaped); empty input still yields a valid empty view.
    * The last-registered body is memoized per view: register-on-access runs
    * before every metadata query, and an unchanged snapshot skips the
    * catalog round trip entirely. */
  private val lastBodies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def inlineView(spark: SparkSession, name: String, cols: Seq[String],
      rows: Seq[Seq[String]], numericCols: Set[String] = Set.empty): Unit = {
    def literal(col: String, v: String): String =
      if (v == null) "NULL"
      else if (numericCols.contains(col)) s"CAST($v AS BIGINT)"
      else "'" + v.replace("'", "''") + "'"
    val colNames = cols.map(_.stripPrefix("`").stripSuffix("`"))
    val body =
      if (rows.isEmpty)
        // typed empty relation: schema-stable with the populated view —
        // numeric columns stay BIGINT even when no rows exist
        s"SELECT ${cols.zip(colNames).map { case (c, n) =>
          val t = if (numericCols.contains(n)) "BIGINT" else "STRING"
          s"CAST(NULL AS $t) AS $c"
        }.mkString(", ")} WHERE 1 = 0"
      else
        rows.map(r => r.zip(colNames).map { case (v, c) => literal(c, v) }
          .mkString("(", ", ", ")"))
          .mkString(s"SELECT * FROM (VALUES ", ", ", s") AS t(${cols.mkString(", ")})")
    // skip the CREATE if the snapshot is byte-identical to the last one
    // AND the view still exists (a dropped database invalidates the memo)
    if (lastBodies.get(name) == body && spark.catalog.tableExists(name)) return
    spark.sql(s"CREATE OR REPLACE VIEW $name AS $body")
    lastBodies.put(name, body)
  }
}
