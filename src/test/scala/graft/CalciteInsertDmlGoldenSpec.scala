package graft

import org.apache.spark.sql.functions._
import graft.sources.{BatchIngest, Sources, SqlInsertDml}

/** Golden tranche from the reference's INSERT DML corpus
  * (sql/src/test/java/org/apache/druid/sql/calcite/CalciteInsertDmlTest.java)
  * — each test cites its source case. The reference asserts the planned
  * native query; here each case asserts the executed outcome (published
  * rows, segment layout, or the exact rejection message), which is the
  * stronger end-to-end form of the same contract. */
class CalciteInsertDmlGoldenSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshBase(): String =
    java.nio.file.Files.createTempDirectory("graft_dml_spec").toString

  private def srcView(): Unit = {
    // a foo-like source with __time + dims + metrics
    Seq(
      ("2024-01-01 00:30:00", "a", 1.0, 10.0),
      ("2024-01-01 05:45:00", "b", 2.0, 20.0),
      ("2024-01-02 07:00:00", "c", 3.0, 30.0))
      .toDF("ts", "dim1", "m1", "m2")
      .withColumn("__time", to_timestamp(col("ts"))).drop("ts")
      .createOrReplaceTempView("foo")
  }

  test("testInsertFromTable (CalciteInsertDmlTest.java:124) — PARTITIONED BY ALL TIME") {
    srcView()
    val out = SqlInsertDml.run(spark,
      "INSERT INTO dst SELECT * FROM foo PARTITIONED BY ALL TIME", freshBase())
    assert(out.count() == 3)
    assert(spark.table("dst").columns.toSet == Set("dim1", "m1", "m2", "__time"))
  }

  test("testInsertWithPartitionedBy (:298) — TIME_FLOOR(__time, 'PT1H') chunks hourly") {
    srcView()
    val base = freshBase()
    SqlInsertDml.run(spark,
      """INSERT INTO dst_hourly SELECT __time, FLOOR(m1) as floor_m1, dim1 FROM foo
        |PARTITIONED BY TIME_FLOOR(__time, 'PT1H')""".stripMargin, base)
    // three rows in three distinct hours → three segment chunks
    val chunks = new java.io.File(s"$base/dst_hourly").listFiles()
      .filter(_.getName.startsWith("__chunk=")).map(_.getName).sorted
    assert(chunks.toSeq == Seq("__chunk=2024-01-01T00", "__chunk=2024-01-01T05",
      "__chunk=2024-01-02T07"))
    assert(spark.table("dst_hourly").columns.toSet == Set("__time", "floor_m1", "dim1"))
  }

  test("testPartitionedBySupportedClauses (:325) — the full granularity-argument map") {
    val expected = Map(
      "HOUR" -> "PT1H", "DAY" -> "P1D", "MONTH" -> "P1M", "YEAR" -> "P1Y",
      "ALL" -> "ALL", "ALL TIME" -> "ALL",
      "FLOOR(__time TO QUARTER)" -> "P3M",
      "TIME_FLOOR(__time, 'PT1H')" -> "PT1H")
    expected.foreach { case (clause, granularity) =>
      val stmt = SqlInsertDml.parse(
        s"INSERT INTO dst SELECT __time, dim1 FROM foo PARTITIONED BY $clause").get
      assert(stmt.segmentGranularity == granularity, s"clause: $clause")
    }
  }

  test("PARTITIONED BY TIME_FLOOR(__time, 'P1M1D') is accepted: Joda's Period reads " +
      "compound periods") {
    srcView()
    val sql = """INSERT INTO dst_compound SELECT __time, dim1 FROM foo
                |PARTITIONED BY TIME_FLOOR(__time, 'P1M1D')""".stripMargin
    assert(SqlInsertDml.parse(sql).get.segmentGranularity == "P1M1D")
    assert(SqlInsertDml.run(spark, sql, freshBase()).count() == 3)
  }

  test("testInsertWithClusteredBy (:378) — ordinals, DESC, expressions") {
    srcView()
    val stmt = SqlInsertDml.parse(
      """INSERT INTO dst SELECT __time, FLOOR(m1) as floor_m1, dim1, CEIL(m2) FROM foo
        |PARTITIONED BY FLOOR(__time TO DAY) CLUSTERED BY 2, dim1 DESC, CEIL(m2)""".stripMargin).get
    assert(stmt.segmentGranularity == "P1D")
    assert(stmt.clusteredBy == Seq(("2", false), ("dim1", true), ("CEIL(m2)", false)))
    // and it executes end-to-end
    val out = SqlInsertDml.run(spark,
      """INSERT INTO dst_clustered SELECT __time, FLOOR(m1) as floor_m1, dim1 FROM foo
        |PARTITIONED BY DAY CLUSTERED BY 2, dim1""".stripMargin, freshBase())
    assert(out.count() == 3)
  }

  test("testInsertWithPartitionedByAndLimitOffset (:451) — LIMIT/OFFSET stay legal") {
    srcView()
    val out = SqlInsertDml.run(spark,
      """INSERT INTO dst_limited SELECT __time, dim1 FROM foo LIMIT 2 OFFSET 1
        |PARTITIONED BY DAY""".stripMargin, freshBase())
    assert(out.count() == 2)
  }

  test("testInsertWithOrderBy (:523) — exact rejection message") {
    val e = intercept[IllegalArgumentException] {
      SqlInsertDml.run(spark,
        "INSERT INTO dst SELECT __time, dim1 FROM foo ORDER BY 2 PARTITIONED BY ALL TIME",
        freshBase())
    }
    assert(e.getMessage == "Cannot have ORDER BY on an INSERT query, use CLUSTERED BY instead.")
  }

  test("testInsertWithPartitionedByContainingInvalidGranularity (:502)") {
    val e = intercept[IllegalArgumentException] {
      SqlInsertDml.parse("INSERT INTO dst SELECT * FROM foo PARTITIONED BY 'invalid_granularity'")
    }
    assert(e.getMessage.contains("after PARTITIONED BY. Expected HOUR, DAY, MONTH, " +
      "YEAR, ALL TIME, FLOOR function or TIME_FLOOR function"))
  }

  test("testInsertWithoutPartitionedBy (:548) — exact friendly error") {
    val e = intercept[IllegalArgumentException] {
      SqlInsertDml.parse("INSERT INTO dst SELECT * FROM foo")
    }
    assert(e.getMessage == "INSERT statements must specify PARTITIONED BY clause explicitly")
  }

  test("testUpsert (:216) and testInsertUsingColumnList (:207)") {
    val e1 = intercept[IllegalArgumentException] {
      SqlInsertDml.parse("UPSERT INTO dst SELECT * FROM foo PARTITIONED BY ALL TIME")
    }
    assert(e1.getMessage == "UPSERT is not supported.")
    val e2 = intercept[IllegalArgumentException] {
      SqlInsertDml.parse("INSERT INTO dst (foo, bar) SELECT * FROM foo PARTITIONED BY ALL TIME")
    }
    assert(e2.getMessage == "INSERT with target column list is not supported.")
  }

  test("testInsertIntoQualifiedTable (:180) — druid.dst resolves to dst; other schemas reject") {
    srcView()
    val out = SqlInsertDml.run(spark,
      "INSERT INTO druid.dst_qualified SELECT * FROM foo PARTITIONED BY ALL TIME", freshBase())
    assert(out.count() == 3 && spark.catalog.tableExists("dst_qualified"))
    val e = intercept[IllegalArgumentException] {
      SqlInsertDml.parse("INSERT INTO sys.segments SELECT * FROM foo PARTITIONED BY ALL TIME")
    }
    assert(e.getMessage ==
      "Cannot INSERT into [sys.segments] because it is not a Druid datasource.")
  }

  test("INSERT appends segments (the reference's add-new-segments semantics)") {
    srcView()
    val base = freshBase()
    SqlInsertDml.run(spark,
      "INSERT INTO dst_append SELECT __time, dim1 FROM foo PARTITIONED BY DAY", base)
    val out = SqlInsertDml.run(spark,
      "INSERT INTO dst_append SELECT __time, dim1 FROM foo PARTITIONED BY DAY", base)
    assert(out.count() == 6)
  }

  test("INSERT registers the ingest spec for segmentMetadata's spec analyses") {
    srcView()
    SqlInsertDml.run(spark,
      "INSERT INTO dst_meta SELECT __time, dim1 FROM foo PARTITIONED BY MONTH", freshBase())
    val spec = BatchIngest.specOf("dst_meta").get
    assert(spec.segmentGranularity == "P1M")
  }

  // ---- EXTERN: external inputs through SQL (testInsertFromExternal*) ----

  private val inlineExtern =
    """TABLE(EXTERN('{"type":"inline","data":"a,b,1\nc,d,2\n"}',""" +
      """'{"type":"csv","columns":["x","y","z"]}',""" +
      """'[{"name":"x","type":"STRING"},{"name":"y","type":"STRING"},{"name":"z","type":"LONG"}]'))"""

  test("testInsertFromExternal (:282) — inline csv through TABLE(EXTERN(...))") {
    val out = SqlInsertDml.run(spark,
      s"INSERT INTO dst_ext SELECT * FROM $inlineExtern PARTITIONED BY ALL TIME", freshBase())
    val rows = out.orderBy("x").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", "b", 1L), ("c", "d", 2L)))
    assert(out.schema("z").dataType == org.apache.spark.sql.types.LongType)
  }

  test("testInsertFromExternalProjectSort (:612) — projection + CLUSTERED BY ordinals") {
    val out = SqlInsertDml.run(spark,
      s"INSERT INTO dst_ext_ps SELECT x || y AS xy, z FROM $inlineExtern " +
        "PARTITIONED BY ALL TIME CLUSTERED BY 1, 2", freshBase())
    assert(out.orderBy("xy").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("ab", 1L), ("cd", 2L)))
  }

  test("testInsertFromExternalAggregate (:669) — rollup on external input") {
    val out = SqlInsertDml.run(spark,
      s"INSERT INTO dst_ext_agg SELECT x, SUM(z) AS sum_z, COUNT(*) AS cnt FROM $inlineExtern " +
        "GROUP BY 1 PARTITIONED BY ALL TIME", freshBase())
    assert(out.orderBy("x").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 1L, 1L), ("c", 2L, 1L)))
  }

  test("testInsertFromExternalAggregateAll (CalciteInsertDmlTest.java:705) — " +
      "rollup into a single row (no GROUP BY exprs), LONG cnt signature") {
    val all = SqlInsertDml.run(spark,
      s"INSERT INTO dst_ext_all SELECT COUNT(*) AS cnt FROM $inlineExtern PARTITIONED BY ALL TIME",
      freshBase())
    assert(all.head().getLong(0) == 2L)
    // expectTarget: one LONG column named cnt
    assert(all.schema.fieldNames.toSeq == Seq("cnt"))
    assert(all.schema("cnt").dataType == org.apache.spark.sql.types.LongType)
  }

  test("EXTERN local files (LocalInputSource analog of testInsertFromExternal)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_extern").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part1.csv"),
      "a,b,1\nc,d,2\n".getBytes)
    val externLocal =
      s"""TABLE(EXTERN('{"type":"local","files":["$dir/part1.csv"]}',""" +
        """'{"type":"csv","columns":["x","y","z"]}',""" +
        """'[{"name":"x","type":"STRING"},{"name":"z","type":"LONG"}]'))"""
    // note: the signature keeps only (x, z) — signature-driven pruning
    val out = SqlInsertDml.run(spark,
      s"INSERT INTO dst_ext_local SELECT * FROM $externLocal PARTITIONED BY ALL TIME", freshBase())
    assert(out.orderBy("x").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("c", 2L)))
  }

  test("testInsertIntoNonexistentSchema / IntoSystemTable (:~) — non-druid schemas reject") {
    for (target <- Seq("nonexistent.dst", "INFORMATION_SCHEMA.COLUMNS")) {
      val e = intercept[IllegalArgumentException] {
        SqlInsertDml.run(spark,
          s"INSERT INTO $target SELECT * FROM foo PARTITIONED BY ALL TIME", freshBase())
      }
      assert(e.getMessage.contains("Cannot INSERT into"))
    }
  }

  test("testInsertWithClusteredByAndOrderBy (:475) — ORDER BY rejected even with CLUSTERED BY") {
    srcView()
    val e = intercept[IllegalArgumentException] {
      SqlInsertDml.run(spark,
        "INSERT INTO dst_obcb SELECT * FROM foo ORDER BY 2 PARTITIONED BY ALL TIME CLUSTERED BY 1",
        freshBase())
    }
    assert(e.getMessage == "Cannot have ORDER BY on an INSERT query, use CLUSTERED BY instead.")
  }

  test("a time-based PARTITIONED BY requires a __time column in the SELECT output") {
    srcView()
    val e = intercept[IllegalArgumentException] {
      SqlInsertDml.run(spark,
        "INSERT INTO dst_no_time SELECT dim1, m1 FROM foo PARTITIONED BY DAY", freshBase())
    }
    assert(e.getMessage.contains("__time"))
    // ALL granularity has no time chunking → no __time requirement
    val out = SqlInsertDml.run(spark,
      "INSERT INTO dst_no_time SELECT dim1, m1 FROM foo PARTITIONED BY ALL", freshBase())
    assert(out.count() == 3)
  }
}
