package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.server.HttpFacade
import graft.sources.Sources

/** http_dashboard: `nproc` closed-loop clients send a seeded request stream
  * to the HTTP facade over the olap tables: about 70% native JSON
  * (timeseries, topN, groupBy, scan, search, timeBoundary), 25% SQL reads
  * and 5% SQL INSERTs of generated rows into a `live_events` datasource that
  * about a fifth of the reads query.
  *
  * Request parameters are Zipf-skewed so part of the reads repeat, while
  * the distinct requests far outnumber the facade's 64-entry plan and
  * result caches. Every INSERT bumps the ingest generation, which retires
  * both caches, so a cache that helps reads but slows or breaks writes
  * shows here. INSERTs go through one client at a time (a client-side
  * lock), each followed by a COUNT(*) on live_events that must show the
  * rows written so far; reads run concurrently with them. */
object HttpDashboard extends Workload {
  val name = "http_dashboard"
  val RequestsPerPass = 16
  /** Rows per INSERT are 5 to this many. An inline EXTERN argument longer
    * than about 1.5 KB (some 45 rows here) overflows the stack in the
    * facade's EXTERN pattern match and fails the INSERT; see README.md. */
  val MaxInsertRows = 20
  override def primaryKind: String = "read"

  final case class Req(kind: String, route: String, body: String, id: String, rows: Int = 0)

  final class State(val facade: HttpFacade.Facade, val base: String, val client: HttpClient) {
    val writeLock = new Object
    var liveRows = 0L
    // traced requests: (id, client ms, server ms, response bytes)
    val served = ArrayBuffer[(String, Double, Double, Double)]()
    var insertMs = 0.0
    var planHits = 0L; var planLookups = 0L
    var resultHits = 0L; var resultLookups = 0L
  }

  private val Tables = Set("lineitem", "orders", "part")

  /** The olap tables, of which the dashboard reads three. */
  override def prepare(ctx: Ctx): AnyRef = Gen.cachedOlapTables(ctx.spark, ctx.cache)

  /** Registers the tables for SQL, starts the facade and seeds
    * live_events through it. */
  def setup(ctx: Ctx, prepared: AnyRef, dir: File): AnyRef = {
    val spark = ctx.spark
    val tables = prepared.asInstanceOf[File].getPath
    Tables.foreach(t => Sources.table(spark, tables, t).createOrReplaceTempView(t))
    val facade = HttpFacade.start(spark, {
      case "live_events" => spark.table("live_events")
      case t => Sources.table(spark, tables, t)
    })
    val st = new State(facade, s"http://127.0.0.1:${facade.port}", HttpClient.newHttpClient())
    // the datasource the dashboard writes to exists before the first read
    val seedRows = insertSql(new SplittableRandom(ctx.seed ^ 0x5eed), MaxInsertRows)
    val (code, body) = post(st, "/druid/v2/sql", sqlBody(seedRows._1, "setup-insert"))
    require(code == 200, s"seeding live_events failed: $code $body")
    st.liveRows = seedRows._2
    st
  }

  /** Full passes of request streams off the measured ones (reads, INSERTs
    * and their checks), with every client running. */
  val WarmPasses = 2

  override def warmUp(ctx: Ctx, state: AnyRef): Unit = {
    val warm = scratch(ctx)
    (1 to WarmPasses).foreach(i => pass(warm, state, -i))
    requireClean(warm)
  }

  /** Stops the facade and drops live_events, whose INSERTs land under the
    * INSERT path's default output directory (java.io.tmpdir/graft_dml), so
    * the next setup starts from an empty datasource. */
  override def teardown(ctx: Ctx, state: AnyRef): Unit = {
    state.asInstanceOf[State].facade.stop()
    ctx.spark.catalog.dropTempView("live_events")
    Gen.deleteTree(new File(System.getProperty("java.io.tmpdir"), "graft_dml/live_events"))
  }

  private def post(st: State, route: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(st.base + route))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = st.client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def get(st: State, route: String): JValue = {
    val req = HttpRequest.newBuilder(URI.create(st.base + route)).GET().build()
    JsonMethods.parse(st.client.send(req, HttpResponse.BodyHandlers.ofString()).body())
  }

  private def sqlBody(sql: String, id: String): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "query" -> JString(sql), "context" -> JObject("sqlQueryId" -> JString(id)))))

  /** An INSERT of `n` generated events; returns the statement and n. */
  private def insertSql(r: SplittableRandom, n: Int): (String, Long) = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val t0 = 1704067200000L
    val data = (0 until n).map { _ =>
      s"${t0 + r.nextInt(7 * 86400) * 1000L},${r.nextInt(150)},${types(r.nextInt(5))},${r.nextInt(50000) / 100.0}"
    }.mkString("\\n")
    val sql =
      s"""INSERT INTO live_events SELECT TIMESTAMP_MILLIS(ts) AS __time, user_id, event_type, value """ +
      s"""FROM TABLE(EXTERN('{"type":"inline","data":"$data"}', """ +
      s"""'{"type":"csv","columns":["ts","user_id","event_type","value"]}', """ +
      s"""'[{"name":"ts","type":"LONG"},{"name":"user_id","type":"LONG"},""" +
      s"""{"name":"event_type","type":"STRING"},{"name":"value","type":"DOUBLE"}]')) PARTITIONED BY DAY"""
    (sql, n.toLong)
  }

  private val zipf = new java.util.concurrent.ConcurrentHashMap[Int, Gen.Zipf]
  private def z(r: SplittableRandom, n: Int): Int = zipf.computeIfAbsent(n, k => new Gen.Zipf(k, 1.1)).sample(r)

  /** The pass's request stream, a function of the seed and pass index.
    * Every pass has the same mix (5% writes, 25% SQL reads, 70% native
    * reads, a fifth of the reads on live_events) and the query templates
    * take turns; the seed picks the order, where the turns start, and the
    * parameters. */
  def requests(seed: Long, index: Int): IndexedSeq[Req] = {
    val r = new SplittableRandom(seed * 7919L + index)
    val n = RequestsPerPass
    val writes = math.max(1, math.round(n * 0.05).toInt)
    val sql = math.round(n * 0.25).toInt
    val native = n - writes - sql
    val sqlLive = math.round(sql * 0.2).toInt
    val nativeLive = math.round(native * 0.2).toInt
    val turn = r.nextInt(6)
    val kinds = Seq.fill(writes)(("write", 0)) ++
      Seq.tabulate(sql)(i => if (i < sqlLive) ("sql-live", 0) else ("sql", turn + i)) ++
      Seq.tabulate(native)(i => if (i < nativeLive) ("native-live", turn + i) else ("native", turn + i))
    OlapSuite.shuffle(kinds.toIndexedSeq, r).zipWithIndex.map { case ((kind, template), i) =>
      val id = s"p$index.r$i"
      kind match {
        case "write" =>
          val (stmt, rows) = insertSql(r, 5 + r.nextInt(MaxInsertRows - 4))
          Req("write", "/druid/v2/sql", sqlBody(stmt, id), id, rows.toInt)
        case "sql" | "sql-live" =>
          Req("read", "/druid/v2/sql", sqlBody(sqlRead(r, kind == "sql-live", template), id), id)
        case _ => Req("read", "/druid/v2", nativeRead(r, kind == "native-live", template, id), id)
      }
    }
  }

  private def sqlRead(r: SplittableRandom, live: Boolean, template: Int): String =
    if (live) s"SELECT event_type, COUNT(*) AS n, SUM(value) AS v FROM live_events " +
      s"WHERE user_id < ${10 + z(r, 140)} GROUP BY event_type ORDER BY event_type"
    else template % 3 match {
      case 0 => s"SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, COUNT(*) AS n FROM lineitem " +
        s"WHERE l_suppkey = ${z(r, 100)} GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2"
      case 1 =>
        val y = 1995 + z(r, 7)
        s"SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS t FROM orders " +
          s"WHERE o_orderdate >= TIMESTAMP '$y-01-01' AND o_orderdate < TIMESTAMP '${y + 1}-01-01' " +
          s"AND o_custkey < ${100 + 10 * z(r, 140)} GROUP BY o_orderpriority ORDER BY 1"
      case _ => s"SELECT p_brand, COUNT(*) AS n, AVG(p_retailprice) AS p FROM part " +
        s"WHERE p_size = ${1 + z(r, 50)} GROUP BY p_brand ORDER BY 1"
    }

  private def nativeRead(r: SplittableRandom, live: Boolean, template: Int, id: String): String = {
    val ctx = s""""context": {"queryId": "$id"}"""
    if (live) {
      if (template % 2 == 0)
        s"""{"queryType": "timeseries", "dataSource": "live_events", "granularity": "${Seq("hour", "day")(r.nextInt(2))}",
           |"intervals": ["2024-01-01/2024-01-${"%02d".format(2 + z(r, 6))}"],
           |"aggregations": [{"type": "count", "name": "n"}, {"type": "doubleSum", "name": "v", "fieldName": "value"}], $ctx}""".stripMargin
      else
        s"""{"queryType": "topN", "dataSource": "live_events", "dimension": "event_type", "metric": "n",
           |"threshold": ${2 + r.nextInt(4)}, "filter": {"type": "bound", "dimension": "user_id", "upper": "${10 + z(r, 140)}", "ordering": "numeric"},
           |"aggregations": [{"type": "count", "name": "n"}], $ctx}""".stripMargin
    } else template % 6 match {
      case 0 =>
        val y = 1995 + z(r, 7); val m = 1 + z(r, 12)
        s"""{"queryType": "timeseries", "dataSource": "lineitem", "timeColumn": "l_shipdate",
           |"granularity": "${Seq("day", "week", "month")(z(r, 3))}", "intervals": ["$y-${"%02d".format(m)}-01/${y + 1}-01-01"],
           |"filter": {"type": "selector", "dimension": "l_returnflag", "value": "${Seq("A", "N", "R")(r.nextInt(3))}"},
           |"aggregations": [{"type": "count", "name": "n"}, {"type": "doubleSum", "name": "q", "fieldName": "l_quantity"}], $ctx}""".stripMargin
      case 1 =>
        val y = 1995 + z(r, 7)
        s"""{"queryType": "topN", "dataSource": "lineitem", "timeColumn": "l_shipdate", "dimension": "l_suppkey",
           |"metric": "revenue", "threshold": ${5 * (1 + z(r, 4))}, "intervals": ["$y-01-01/${y + 1}-01-01"],
           |"aggregations": [{"type": "doubleSum", "name": "revenue", "fieldName": "l_extendedprice"}], $ctx}""".stripMargin
      case 2 =>
        s"""{"queryType": "groupBy", "dataSource": "lineitem", "timeColumn": "l_shipdate",
           |"dimensions": ["l_returnflag", "l_linestatus"],
           |"filter": {"type": "bound", "dimension": "l_suppkey", "upper": "${5 + z(r, 95)}", "ordering": "numeric"},
           |"aggregations": [{"type": "count", "name": "n"}, {"type": "doubleSum", "name": "q", "fieldName": "l_quantity"}], $ctx}""".stripMargin
      case 3 =>
        s"""{"queryType": "scan", "dataSource": "orders", "timeColumn": "o_orderdate",
           |"columns": ["o_orderkey", "o_totalprice", "o_orderpriority"],
           |"filter": {"type": "selector", "dimension": "o_custkey", "value": "${z(r, 1500)}"}, "limit": 20, $ctx}""".stripMargin
      case 4 =>
        s"""{"queryType": "search", "dataSource": "part", "timeColumn": "p_partkey", "searchDimensions": ["p_name"],
           |"query": {"type": "insensitive_contains", "value": "${Seq("blue", "old", "small", "new", "red", "hot", "large", "cold", "widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")(z(r, 16))}"}, $ctx}""".stripMargin
      case _ =>
        val (t, c) = Seq("lineitem" -> "l_shipdate", "orders" -> "o_orderdate")(r.nextInt(2))
        s"""{"queryType": "timeBoundary", "dataSource": "$t", "timeColumn": "$c", $ctx}"""
    }
  }

  def pass(ctx: Ctx, state: AnyRef, index: Int): Unit = {
    val st = state.asInstanceOf[State]
    val reqs = requests(ctx.seed, index)
    val traced = ctx.tracer.enabled
    val (ph0, pl0, rh0, rl0) = if (traced) cacheStats(st) else (0L, 0L, 0L, 0L)
    val next = new AtomicInteger(0)
    val clientMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
    val clients = (0 until ctx.cores).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val q = reqs(i)
          if (q.kind == "write") write(ctx, st, q, clientMs) else read(ctx, st, q, clientMs)
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    clients.foreach(_.join())
    if (traced) {
      val (ph1, pl1, rh1, rl1) = cacheStats(st)
      st.planHits += ph1 - ph0; st.planLookups += pl1 - pl0
      st.resultHits += rh1 - rh0; st.resultLookups += rl1 - rl0
      collectServed(ctx, st, clientMs)
    }
  }

  private def timed(ctx: Ctx, st: State, q: Req): (Int, String, Double) = {
    val t0 = System.nanoTime()
    val (code, body) = ctx.tracer.span("server", q.id)(post(st, q.route, q.body))
    (code, body, (System.nanoTime() - t0) / 1e6)
  }

  private def read(ctx: Ctx, st: State, q: Req,
      clientMs: java.util.Map[String, java.lang.Double]): Unit =
    try {
      val (code, body, ms) = timed(ctx, st, q)
      if (code != 200) ctx.outcomes.fail(q.id, s"HTTP $code: ${body.take(200)}")
      else { ctx.outcomes.ok("read", q.id, ms); clientMs.put(q.id, ms) }
    } catch { case e: Throwable => ctx.outcomes.fail(q.id, s"threw $e".take(300)) }

  /** An INSERT, then a COUNT(*) that must read the rows written so far. */
  private def write(ctx: Ctx, st: State, q: Req,
      clientMs: java.util.Map[String, java.lang.Double]): Unit = st.writeLock.synchronized {
    try {
      val (code, body, ms) = timed(ctx, st, q)
      if (code != 200) ctx.outcomes.fail(q.id, s"HTTP $code: ${body.take(200)}")
      else {
        st.liveRows += q.rows
        ctx.outcomes.ok("write", q.id, ms)
        if (ctx.tracer.enabled) st.insertMs += ms
        val countId = q.id + ".count"
        val check = Req("read", "/druid/v2/sql",
          sqlBody("SELECT COUNT(*) AS n FROM live_events", countId), countId)
        val (c2, b2, ms2) = timed(ctx, st, check)
        val n = if (c2 == 200) (JsonMethods.parse(b2) \\ "n") match {
          case JInt(v) => v.toLong; case JLong(v) => v; case _ => -1L
        } else -1L
        if (c2 != 200) ctx.outcomes.fail(countId, s"HTTP $c2: ${b2.take(200)}")
        else if (n != st.liveRows) ctx.outcomes.fail(countId, s"read $n rows after the write, wrote ${st.liveRows}")
        else { ctx.outcomes.ok("read", countId, ms2); clientMs.put(countId, ms2) }
      }
    } catch { case e: Throwable => ctx.outcomes.fail(q.id, s"threw $e".take(300)) }
  }

  private def cacheStats(st: State): (Long, Long, Long, Long) = {
    def hm(route: String) = {
      val j = get(st, route)
      val h = (j \ "hits").asInstanceOf[JInt].num.toLong
      (h, h + (j \ "misses").asInstanceOf[JInt].num.toLong)
    }
    val (ph, pl) = hm("/druid/admin/planCache")
    val (rh, rl) = hm("/druid/admin/resultCache")
    (ph, pl, rh, rl)
  }

  /** Joins each traced request's client latency with the facade's request
    * log line (server time, bytes) and the Spark jobs of its job group. */
  private def collectServed(ctx: Ctx, st: State, clientMs: java.util.Map[String, java.lang.Double]): Unit = {
    val byId = st.facade.requestLog.recent.flatMap { e =>
      val stats = JsonMethods.parse(e.statsJson)
      val src = e.sqlJson.map(JsonMethods.parse(_) \ "context" \ "sqlQueryId")
        .getOrElse(JsonMethods.parse(e.queryJson) \ "context" \ "queryId")
      src match {
        case JString(id) => Some(id -> (
          (stats \ "query/time").asInstanceOf[JInt].num.toDouble,
          (stats \ "query/bytes").asInstanceOf[JInt].num.toDouble))
        case _ => None
      }
    }.toMap
    clientMs.forEach { (id, ms) =>
      byId.get(id).foreach { case (serverMs, bytes) => st.served += ((id, ms, serverMs, bytes)) }
    }
  }

  override def layerFigures(ctx: Ctx, state: AnyRef, tracedPasses: Int,
      jobs: Seq[SparkProbe.Job]): Map[String, Double] = {
    val st = state.asInstanceOf[State]
    val n = tracedPasses.toDouble
    // each request's Spark time: the union of its job group's job intervals
    val jobsById = jobs.groupBy(j => requestOf(j.group))
    val sparkS = st.served.map { case (id, _, _, _) =>
      Span.coveredNs(jobsById.getOrElse(id, Nil).map(j => (j.startMs * 1000000L, j.endMs * 1000000L)))
    }.sum / 1e9
    val clientS = st.served.map(_._2).sum / 1e3
    val serverS = st.served.map(_._3).sum / 1e3
    Map(
      "server.time_s" -> serverS / n,
      "server.transport_s" -> (clientS - serverS) / n,
      "server.non_spark_s" -> (serverS - sparkS) / n,
      "server.plan_cache_hit_ratio" -> (if (st.planLookups > 0) st.planHits.toDouble / st.planLookups else 0.0),
      "server.result_cache_hit_ratio" -> (if (st.resultLookups > 0) st.resultHits.toDouble / st.resultLookups else 0.0),
      "server.response_bytes" -> st.served.map(_._4).sum / n,
      "sources.insert_s" -> st.insertMs / 1e3 / n)
  }

  /** The request id inside a facade job group `graft-query-<id>-<n>`. */
  def requestOf(group: String): String =
    if (!group.startsWith("graft-query-")) ""
    else group.stripPrefix("graft-query-").reverse.dropWhile(_ != '-').drop(1).reverse

  override def notes(ctx: Ctx, state: AnyRef, m: Measured): Seq[(String, Double, String)] = {
    val reads = ctx.outcomes.latencies("read")
    val writes = ctx.outcomes.latencies("write")
    Seq(("http_qps", reads.size / m.windowS, "1/s"),
      ("http_p50_ms", if (reads.isEmpty) Double.NaN else Stats.quantile(reads, 0.5), "ms"),
      ("http_p99_ms", if (reads.size < 1000) Double.NaN else Stats.quantile(reads, 0.99), "ms"),
      ("write_p50_ms", if (writes.isEmpty) Double.NaN else Stats.quantile(writes, 0.5), "ms"),
      ("reads", reads.size.toDouble, "count"), ("writes", writes.size.toDouble, "count"))
  }
}
