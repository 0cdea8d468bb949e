package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.HttpFacade
import graft.sources.{BatchIngest, Sources}
import org.apache.spark.graftprobe.JobCount

/** Per-datasource cache generations and the parquet schema catalog: a
  * write to one datasource retires only the façade's cached plans and
  * results that read it, and opening an unchanged parquet table runs no
  * schema-inference job. Each case also checks that an entry over another
  * datasource survives the write. */
class CacheGenerationSpec extends SparkSpecBase {

  private val client = HttpClient.newHttpClient()

  private def post(facade: HttpFacade.Facade, path: String, body: String): (Int, JValue) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  private def sql(facade: HttpFacade.Facade, q: String, useCache: Boolean = true): (Int, JValue) =
    post(facade, "/druid/v2/sql", JsonMethods.compact(JsonMethods.render(JObject(
      "query" -> JString(q), "context" -> JObject("useCache" -> JBool(useCache))))))

  private def native(facade: HttpFacade.Facade, q: String, useCache: Boolean = true): (Int, JValue) =
    post(facade, "/druid/v2",
      q.stripSuffix("}") + s""", "context": {"useCache": $useCache}}""")

  /** INSERT `n` rows (v = 1..n, one day) into `target` through the façade. */
  private def insert(facade: HttpFacade.Facade, target: String, n: Int): Unit = {
    val data = (1 to n).map(i => s"${1704067200000L + i * 1000L},$i").mkString("\\n")
    val (status, body) = sql(facade,
      s"""INSERT INTO $target SELECT TIMESTAMP_MILLIS(ts) AS __time, v """ +
      s"""FROM TABLE(EXTERN('{"type":"inline","data":"$data"}', """ +
      s"""'{"type":"csv","columns":["ts","v"]}', """ +
      s"""'[{"name":"ts","type":"LONG"},{"name":"v","type":"LONG"}]')) PARTITIONED BY DAY""")
    assert(status == 200, s"INSERT failed: $body")
  }

  private def count(json: JValue): BigInt = (json \\ "n") match {
    case JInt(n) => n
    case JLong(n) => BigInt(n)
    case JObject(fs) => fs.collectFirst { case (_, JInt(n)) => n }.get
    case other => fail(s"no count in $json ($other)")
  }

  private def stats(facade: HttpFacade.Facade): (Long, Long, Long, Long) =
    (facade.planCache.hits, facade.planCache.misses,
      facade.resultCache.hits, facade.resultCache.misses)

  /** A façade over the sf tables and INSERT targets (temp views), with
    * `orders` registered for SQL; the targets' directories and views are
    * dropped after `f`. */
  private def withFacade(targets: String*)(resolve: PartialFunction[String, DataFrame])
      (f: HttpFacade.Facade => Unit): Unit = {
    val facade = HttpFacade.start(spark, resolve.orElse {
      case t if targets.contains(t) => spark.table(t)
      case t => Sources.table(spark, sf(), t)
    })
    Sources.table(spark, sf(), "orders").createOrReplaceTempView("orders")
    try f(facade) finally {
      facade.stop()
      targets.foreach { t =>
        spark.catalog.dropTempView(t)
        deleteTree(new File(System.getProperty("java.io.tmpdir"), s"graft_dml/$t"))
      }
    }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteTree)
    f.delete()
  }

  private def unique(prefix: String) = s"${prefix}_${System.nanoTime()}"

  private val ordersNative =
    """{"queryType": "timeBoundary", "dataSource": "orders", "timeColumn": "o_orderdate"}"""
  private val ordersSql = "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
  private def liveNative(target: String) =
    s"""{"queryType": "timeseries", "dataSource": "$target", "granularity": "all",
        "intervals": ["2024-01-01/2024-02-01"],
        "aggregations": [{"type": "count", "name": "n"}]}"""

  test("an INSERT into A keeps B's cached plans and results on both routes " +
      "and retires A's") {
    val a = unique("gen_live")
    withFacade(a)(PartialFunction.empty) { facade =>
      insert(facade, a, 5)
      val aSql = s"SELECT COUNT(*) AS n FROM $a"
      val reads = Seq(
        () => native(facade, ordersNative), () => sql(facade, ordersSql),
        () => native(facade, liveNative(a)), () => sql(facade, aSql))
      val cold = reads.map(_())
      assert(cold.forall(_._1 == 200), s"got $cold")
      assert(count(cold(2)._2) == 5 && count(cold(3)._2) == 5)
      val (ph0, pm0, rh0, rm0) = stats(facade)
      assert(reads.map(_()) == cold)
      assert(stats(facade) == ((ph0, pm0, rh0 + 4, rm0)), "every repeat is a result hit")

      insert(facade, a, 7)
      val (ph1, pm1, rh1, rm1) = stats(facade)
      // B: result hits on both routes, and with useCache=false plan hits
      assert(native(facade, ordersNative) == cold(0))
      assert(sql(facade, ordersSql) == cold(1))
      assert(stats(facade) == ((ph1, pm1, rh1 + 2, rm1)),
        "an INSERT into A must keep B's cached results")
      assert(native(facade, ordersNative, useCache = false) == cold(0))
      assert(sql(facade, ordersSql, useCache = false) == cold(1))
      assert(stats(facade) == ((ph1 + 2, pm1, rh1 + 2, rm1 + 2)),
        "an INSERT into A must keep B's cached plans")
      // A: both caches miss on both routes, and the answers count 12 rows
      val (ph2, pm2, rh2, rm2) = stats(facade)
      val aNative = native(facade, liveNative(a))
      val aSqlOut = sql(facade, aSql)
      assert(aNative._1 == 200 && count(aNative._2) == 12, s"got $aNative")
      assert(aSqlOut._1 == 200 && count(aSqlOut._2) == 12, s"got $aSqlOut")
      assert(stats(facade) == ((ph2, pm2 + 2, rh2, rm2 + 2)),
        "an INSERT into A must retire A's plans and results")
    }
  }

  test("a native query datasource over A is retired by an INSERT into A") {
    val a = unique("gen_inner")
    withFacade(a)(PartialFunction.empty) { facade =>
      insert(facade, a, 4)
      val outer =
        s"""{"queryType": "timeseries", "granularity": "all",
            "dataSource": {"type": "query", "query": {"queryType": "groupBy",
              "dataSource": "$a", "granularity": "all", "dimensions": ["v"],
              "intervals": ["2024-01-01/2024-02-01"],
              "aggregations": [{"type": "count", "name": "c"}]}},
            "intervals": ["2024-01-01/2024-02-01"],
            "aggregations": [{"type": "count", "name": "n"}]}"""
      val first = native(facade, outer)
      assert(first._1 == 200 && count(first._2) == 4, s"got $first")
      val b = native(facade, ordersNative)
      assert(native(facade, outer) == first && native(facade, ordersNative) == b)
      insert(facade, a, 6)
      val (_, _, rh, rm) = stats(facade)
      assert(native(facade, ordersNative) == b)
      val again = native(facade, outer)
      assert(again._1 == 200 && count(again._2) == 6, s"a stale inner read: $again")
      val (_, _, rh1, rm1) = stats(facade)
      assert((rh1, rm1) == ((rh + 1, rm + 1)),
        "B stays a hit and the query datasource over A misses")
    }
  }

  test("registerSpec(name) retires a cached segmentMetadata answer over that name only") {
    val name = unique("gen_meta")
    def spec(timeColumn: String) =
      BatchIngest.IngestSpec(inputPath = "<spec>", timeColumn = timeColumn)
    withFacade()({ case `name` => Sources.table(spark, sf(), "nation") }) { facade =>
      BatchIngest.registerSpec(name, spec("n_nationkey"))
      val meta =
        s"""{"queryType": "segmentMetadata", "dataSource": "$name",
            "toInclude": {"type": "list", "columns": ["n_name"]},
            "analysisTypes": ["timestampSpec"]}"""
      val first = native(facade, meta)
      assert(first._1 == 200 && (first._2 \\ "timestampSpec") != JNothing, s"got $first")
      val b = native(facade, ordersNative)
      assert(native(facade, meta) == first && native(facade, ordersNative) == b)
      BatchIngest.registerSpec(name, spec("n_regionkey"))
      val (_, _, rh, rm) = stats(facade)
      assert(native(facade, ordersNative) == b)
      val again = native(facade, meta)
      assert(again._1 == 200 && again != first, s"a stale spec answer: $again")
      assert(JsonMethods.compact(again._2).contains("n_regionkey"), s"got $again")
      val (_, _, rh1, rm1) = stats(facade)
      assert((rh1, rm1) == ((rh + 1, rm + 1)))
    }
  }

  /** A day of `n` rows written as the ingest path writes them. */
  private def rows(n: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n).select(
      timestamp_seconds(lit(1704067200L) + col("id")).cast("timestamp_ntz").as("__time"),
      col("id").as("v"))

  private val daySpec = BatchIngest.IngestSpec(inputPath = "<rows>", timeColumn = "__time")

  test("a write that lands during a build leaves that entry stale, never wrong") {
    val dir = java.nio.file.Files.createTempDirectory("gen_mid").toString
    val path = s"$dir/mid"
    val writeDuringBuild = new AtomicBoolean(false)
    BatchIngest.write(rows(3), daySpec, path)
    try withFacade()({ case "mid" =>
      // the build holds the listing of 3 rows while 2 more land
      val before = spark.read.parquet(path)
      if (writeDuringBuild.getAndSet(false))
        BatchIngest.write(rows(2, from = 100), daySpec, path, SaveMode.Append)
      before
    }) { facade =>
      val b = native(facade, ordersNative)
      writeDuringBuild.set(true)
      val first = native(facade, liveNative("mid"))
      assert(first._1 == 200 && count(first._2) == 3, s"got $first")
      val (_, pm, rh, rm) = stats(facade)
      val again = native(facade, liveNative("mid"))
      assert(again._1 == 200 && count(again._2) == 5,
        s"the entry built across the write must not be served: $again")
      assert(native(facade, ordersNative) == b)
      val (_, pm1, rh1, rm1) = stats(facade)
      assert((pm1, rh1, rm1) == ((pm + 1, rh + 1, rm + 1)))
    } finally deleteTree(new File(dir))
  }

  test("compaction retires cached plans: a re-POST with useCache=false after " +
      "compacting the table answers 200 with the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("gen_compact").toString
    val path = s"$dir/events"
    BatchIngest.write(rows(3), daySpec, path)
    BatchIngest.write(rows(4, from = 10), daySpec, path, SaveMode.Append)
    try withFacade()({ case "events" => spark.read.parquet(path) }) { facade =>
      val b = native(facade, ordersNative)
      val first = native(facade, liveNative("events"))
      assert(first._1 == 200 && count(first._2) == 7, s"got $first")
      BatchIngest.compact(spark, path)
      val (ph, pm, _, _) = stats(facade)
      val again = native(facade, liveNative("events"), useCache = false)
      assert(again == first, s"a cached plan over the compacted files: $again")
      assert(native(facade, ordersNative, useCache = false) == b)
      assert(stats(facade)._1 == ph + 1 && stats(facade)._2 == pm + 1,
        "B's plan stays a hit and the compacted table's plan misses")
    } finally deleteTree(new File(dir))
  }

  test("Sources.table reads an unchanged table's schema without a Spark job " +
      "and shows a column added by a rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("gen_schema").toString
    val t = s"$dir/t.parquet"
    spark.range(5).select(col("id").as("a")).write.parquet(t)
    try {
      assert(Sources.table(spark, dir, "t").columns.toSeq == Seq("a"))
      val (cols, jobs) = JobCount.of(spark)(Sources.table(spark, dir, "t").columns.toSeq)
      assert(cols == Seq("a") && jobs == 0, s"reopening an unchanged table ran $jobs jobs")
      spark.range(5).select(col("id").as("a"), (col("id") * 2).as("b"))
        .write.mode("overwrite").parquet(t)
      val rewritten = Sources.table(spark, dir, "t")
      assert(rewritten.columns.toSeq == Seq("a", "b"))
      assert(rewritten.agg(sum("b")).head().getLong(0) == 20L)
    } finally deleteTree(new File(dir))
  }
}
