package graft

import graft.server.SystemSchema
import graft.sources.Sources
import org.apache.spark.sql.functions.col

/** INFORMATION_SCHEMA + sys.segments parity (CalciteQueryTest.java:183-396
  * queries INFORMATION_SCHEMA.SCHEMATA/TABLES/COLUMNS; SystemSchema.java:115
  * defines sys.segments). */
class SystemSchemaSpec extends SparkSpecBase {

  test("INFORMATION_SCHEMA.TABLES and COLUMNS list registered datasources (:199, :273)") {
    Sources.table(spark, sf(), "nation").createOrReplaceTempView("nation_sys_test")
    SystemSchema.register(spark)

    val tables = spark.sql(
      """SELECT table_name, table_type FROM information_schema.tables
        |WHERE table_name = 'nation_sys_test'""".stripMargin).collect()
    assert(tables.length == 1)

    // the reference returns (column_name, data_type, ordinal) per column;
    // testInformationSchemaColumnsOnTable asserts the dimension columns
    val cols = spark.sql(
      """SELECT column_name, ordinal_position, data_type, is_nullable
        |FROM information_schema.columns
        |WHERE table_name = 'nation_sys_test' ORDER BY ordinal_position""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1).toInt))
    val expected = spark.table("nation_sys_test").schema.fieldNames.toSeq
    assert(cols.map(_._1).toSeq == expected)
    // 0-based, matching InformationSchema.java:430 field.getIndex()
    assert(cols.map(_._2).toSeq == expected.indices)
  }

  test("aggregations run over INFORMATION_SCHEMA.COLUMNS (:376)") {
    Sources.table(spark, sf(), "region").createOrReplaceTempView("region_sys_test")
    SystemSchema.register(spark)
    val n = spark.sql(
      """SELECT COUNT(*) FROM information_schema.columns
        |WHERE table_name = 'region_sys_test'""".stripMargin).head().getLong(0)
    assert(n == spark.table("region_sys_test").schema.size.toLong)
  }

  test("sys.servers serves the executor inventory (SystemSchema.java:153)") {
    SystemSchema.registerServers(spark)
    val rows = spark.sql(
      "SELECT server, host, server_type, tier, is_leader, max_size FROM sys.servers").collect()
    assert(rows.nonEmpty) // local mode: the driver executor
    assert(rows.forall(_.getString(2) == "historical"))
    assert(rows.forall(_.getString(3) == "_default_tier"))
    assert(rows.map(_.getLong(4)).sum == 1L) // exactly one leader
    assert(rows.forall(_.getLong(5) > 0L))   // storage memory is reported
  }

  test("sys.server_segments assigns every segment to a data server (SystemSchema.java:166)") {
    val out = java.nio.file.Files.createTempDirectory("sysservseg").toString
    Sources.table(spark, sf(), "region").write.mode("overwrite").parquet(out)
    SystemSchema.registerSegments(spark, "region_ds", out, "r_regionkey")
    SystemSchema.registerServers(spark)
    val nSeg = spark.sql("SELECT COUNT(*) FROM sys.segments").head().getLong(0)
    val nSrv = spark.sql("SELECT COUNT(*) FROM sys.servers").head().getLong(0)
    val pairs = spark.sql(
      "SELECT server, segment_id FROM sys.server_segments").collect()
    assert(pairs.length == (nSeg * nSrv)) // shared storage: full assignment
    // joinable back to the segment inventory, like the reference's
    // sys.server_segments ⋈ sys.segments examples
    val joined = spark.sql(
      """SELECT COUNT(*) FROM sys.server_segments ss
        |JOIN sys.segments s ON ss.segment_id = s.segment_id""".stripMargin)
      .head().getLong(0)
    assert(joined == pairs.length)
  }

  test("metadata queries see a table created AFTER the last register() — " +
      "register-on-access, like the broker's DruidSchema refresh on change") {
    SystemSchema.register(spark)
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("fresh_after_register")
    // through the real SQL entry point (the facade), no explicit register()
    val facade = graft.server.HttpFacade.start(spark,
      name => Sources.table(spark, sf(), name))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${facade.port}/druid/v2/sql"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT table_name FROM information_schema.tables WHERE table_name = 'fresh_after_register'"}"""))
        .header("Content-Type", "application/json").build()
      val body = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("fresh_after_register"))
    } finally {
      facade.stop()
      spark.catalog.dropTempView("fresh_after_register")
    }
  }

  test("a quoted metadata schema refreshes too: `information_schema`.tables lists " +
      "a table created after the last register()") {
    SystemSchema.register(spark)
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("fresh_after_quoted")
    val facade = graft.server.HttpFacade.start(spark,
      name => Sources.table(spark, sf(), name))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${facade.port}/druid/v2/sql"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT table_name FROM `information_schema`.tables WHERE table_name = 'fresh_after_quoted'"}"""))
        .header("Content-Type", "application/json").build()
      val body = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("fresh_after_quoted"), body)
    } finally {
      facade.stop()
      spark.catalog.dropTempView("fresh_after_quoted")
    }
  }

  test("sys.server_segments is a lazy view: segments registered AFTER " +
      "registerServers appear without another registerServers call") {
    SystemSchema.registerServers(spark)
    val out = java.nio.file.Files.createTempDirectory("syslazyseg").toString
    Sources.table(spark, sf(), "supplier").write.mode("overwrite").parquet(out)
    SystemSchema.registerSegments(spark, "supplier_lazy_ds", out, "s_suppkey")
    val nSrv = spark.sql("SELECT COUNT(*) FROM sys.servers").head().getLong(0)
    val lazyPairs = spark.sql(
      """SELECT COUNT(*) FROM sys.server_segments ss
        |JOIN sys.segments s ON ss.segment_id = s.segment_id
        |WHERE s.datasource = 'supplier_lazy_ds'""".stripMargin).head().getLong(0)
    val nSeg = spark.sql(
      "SELECT COUNT(*) FROM sys.segments WHERE datasource = 'supplier_lazy_ds'")
      .head().getLong(0)
    assert(nSeg > 0)
    assert(lazyPairs == nSeg * nSrv)
  }

  test("sys.tasks lists active streaming queries as running tasks (SystemSchema.java:172)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    mem.addData(1, 2, 3)
    val q = mem.toDF().writeStream.format("memory")
      .queryName("sys_tasks_probe").outputMode("append").start()
    try {
      q.processAllAvailable()
      SystemSchema.registerServers(spark)
      val rows = spark.sql(
        """SELECT task_id, type, status, runner_status FROM sys.tasks
          |WHERE datasource = 'sys_tasks_probe'""".stripMargin).collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == q.id.toString)
      assert(rows.head.getString(1) == "index_spark_streaming")
      assert(rows.head.getString(2) == "RUNNING" && rows.head.getString(3) == "RUNNING")
    } finally q.stop()
    // after the query stops, a re-registration drops the task row — the
    // reference's task view reflects the overlord's current state
    SystemSchema.registerServers(spark)
    assert(spark.sql("SELECT * FROM sys.tasks WHERE datasource = 'sys_tasks_probe'")
      .collect().isEmpty)
  }

  test("sys.supervisors lists registered supervisors (SystemSchema.java:190)") {
    SystemSchema.registerSupervisor(SystemSchema.SupervisorEntry(
      id = "events_sup", supervisorType = "kafka", source = "events",
      spec = """{"type":"kafka","topic":"events"}"""))
    SystemSchema.registerSupervisor(SystemSchema.SupervisorEntry(
      id = "paused_sup", supervisorType = "kafka", source = "paused",
      spec = "{}", suspended = true))
    try {
      SystemSchema.registerServers(spark)
      val rows = spark.sql(
        """SELECT supervisor_id, state, healthy, type, source, suspended
          |FROM sys.supervisors ORDER BY supervisor_id""".stripMargin).collect()
        .filter(r => Set("events_sup", "paused_sup")(r.getString(0)))
      assert(rows.length == 2)
      val active = rows.find(_.getString(0) == "events_sup").get
      assert(active.getString(1) == "RUNNING" && active.getLong(2) == 1L &&
        active.getString(3) == "kafka" && active.getString(4) == "events" &&
        active.getLong(5) == 0L)
      val paused = rows.find(_.getString(0) == "paused_sup").get
      assert(paused.getString(1) == "SUSPENDED" && paused.getLong(5) == 1L)
    } finally {
      SystemSchema.removeSupervisor("events_sup")
      SystemSchema.removeSupervisor("paused_sup")
    }
  }

  test("sys.segments serves the segment inventory (SystemSchema.java:115)") {
    val out = java.nio.file.Files.createTempDirectory("syssegments").toString
    Sources.table(spark, sf(), "orders").write.mode("overwrite").parquet(out)
    SystemSchema.registerSegments(spark, "orders_ds", out, "o_orderdate")
    // registrations ACCUMULATE across datasources (the reference's
    // sys.segments is the whole coordinator inventory), so scope to this
    // datasource's rows
    val rows = spark.sql(
      "SELECT datasource, num_rows, size FROM sys.segments WHERE datasource = 'orders_ds'")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Sources.table(spark, sf(), "orders").count())
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("sys.segments carries the full SEGMENTS_SIGNATURE (SystemSchema.java:134-150)") {
    val out = java.nio.file.Files.createTempDirectory("syssegfull").toString
    Sources.table(spark, sf(), "orders").write.mode("overwrite").parquet(out)
    SystemSchema.registerSegments(spark, "orders_ds", out, "o_orderdate")
    val df = spark.table("sys.segments")
    assert(df.columns.toSeq == Seq("segment_id", "datasource", "start", "end",
      "size", "version", "partition_num", "num_replicas", "num_rows",
      "is_published", "is_available", "is_realtime", "is_overshadowed",
      "shard_spec", "dimensions", "metrics", "last_compaction_state"))
    // the inventory accumulates across datasources; partition_num is dense
    // from 0 WITHIN a datasource
    val rows = df.filter(col("datasource") === "orders_ds").collect()
    assert(rows.map(_.getAs[Long]("partition_num")).sorted.toSeq ==
      (0L until rows.length).toSeq)
    assert(rows.forall(r => r.getAs[Long]("is_published") == 1L &&
      r.getAs[Long]("is_available") == 1L && r.getAs[Long]("is_realtime") == 0L &&
      r.getAs[Long]("is_overshadowed") == 0L))
    assert(rows.forall(_.getAs[Long]("num_replicas") >= 1L))
    assert(rows.forall(_.getAs[String]("shard_spec").contains("\"type\":\"numbered\"")))
    // schema split: o_orderkey/o_custkey/o_totalprice land in metrics,
    // o_orderstatus/o_orderpriority in dimensions
    val dims = rows.head.getAs[String]("dimensions")
    val mets = rows.head.getAs[String]("metrics")
    assert(dims.contains("o_orderstatus") && !dims.contains("o_totalprice"))
    assert(mets.contains("o_totalprice") && !mets.contains("o_orderstatus"))
    // the reference's canonical sys query: sum sizes per datasource
    val bySize = spark.sql(
      """SELECT datasource, SUM(size) AS total, COUNT(*) AS n
        |FROM sys.segments GROUP BY 1""".stripMargin).head()
    assert(bySize.getString(0) == "orders_ds" && bySize.getLong(1) > 0L)
  }
}
