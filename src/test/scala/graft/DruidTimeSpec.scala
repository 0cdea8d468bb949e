package graft

import java.time.{LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.{AllGranularity, DruidTime, DurationGranularity, Granularity,
  NativeQuery, NoneGranularity, PeriodGranularity}

/** Druid's time grammar is read once (DruidTime): every interval spelling
  * means the same rows through query `intervals`, the `interval` filter on a
  * timestamp column, the same filter on an epoch-millis long column, and
  * movingAverage; every granularity spelling means the same buckets through
  * groupBy and the rollup admin resource. */
class DruidTimeSpec extends SparkSpecBase {
  import spark.implicits._

  private def utc(s: String): Long =
    LocalDateTime.parse(s).toInstant(ZoneOffset.UTC).toEpochMilli

  // hourly events 2024-01-01T00 .. 2024-01-10T23, plus a few outside them
  private lazy val eventMillis: Seq[Long] =
    (0 until 240).map(h => utc("2024-01-01T00:00:00") + h * 3600000L) ++
      Seq("2023-06-01T00:00:00", "2024-12-31T23:00:00", "2025-01-01T00:00:00").map(utc)

  private lazy val events: DataFrame =
    eventMillis.map(ms => (LocalDateTime.ofEpochSecond(ms / 1000, 0, ZoneOffset.UTC), ms))
      .toDF("__time", "ms")

  private def run(json: String): Array[Row] =
    NativeQuery.run(spark, json, _ => events).collect()

  private def millisOf(v: Any): Long = v match {
    case t: LocalDateTime => t.toInstant(ZoneOffset.UTC).toEpochMilli
    case t: java.sql.Timestamp => t.getTime
    case x => fail(s"not a timestamp: $x")
  }

  /** (interval string, UTC start, UTC end) for every shape the tests use. */
  private val shapes: Seq[(String, String, String)] = Seq(
    ("2024-01-03T00:00:00.000Z/2024-01-05T00:00:00.000Z", "2024-01-03T00:00:00", "2024-01-05T00:00:00"),
    ("2024-01-03/2024-01-05", "2024-01-03T00:00:00", "2024-01-05T00:00:00"),
    ("2024-01-03T06:00:00/2024-01-05T06:00:00", "2024-01-03T06:00:00", "2024-01-05T06:00:00"),
    ("2024/2025", "2024-01-01T00:00:00", "2025-01-01T00:00:00"),
    ("2024-01-01T00:00:00.000Z/P9D", "2024-01-01T00:00:00", "2024-01-10T00:00:00"),
    ("P1D/2024-01-04T00:00:00.000Z", "2024-01-03T00:00:00", "2024-01-04T00:00:00"),
    ("2024-01-03T00:00:00-05:00/2024-01-04T00:00:00-05:00", "2024-01-03T05:00:00", "2024-01-04T05:00:00"),
    ("2024-01-03T00:00:00+0530/2024-01-04T00:00:00+0530", "2024-01-02T18:30:00", "2024-01-03T18:30:00"),
    ("2024-01-03T00:00:00+05/2024-01-04T00:00:00+05", "2024-01-02T19:00:00", "2024-01-03T19:00:00"),
    ("2024-01-03T00:00:00Z/2024-01-04T00:00:00Z", "2024-01-03T00:00:00", "2024-01-04T00:00:00"))

  private def expected(start: String, end: String): Set[Long] =
    eventMillis.filter(ms => ms >= utc(start) && ms < utc(end)).toSet

  private def checkShapes(path: String)(rows: String => Set[Long]): Unit =
    for ((interval, start, end) <- shapes)
      assert(rows(interval) == expected(start, end), s"$path over $interval")

  private def groupByMillis(extra: String): Set[Long] =
    run(s"""{"queryType": "groupBy", "dataSource": "ev", "granularity": "all",
      "dimensions": ["ms"], "aggregations": [{"type": "count", "name": "cnt"}], $extra}""")
      .map(_.getAs[Any]("ms").toString.toLong).toSet // groupBy dimensions are strings

  test("every interval shape selects the same rows as query intervals") {
    checkShapes("query intervals") { i => groupByMillis(s""""intervals": ["$i"]""") }
  }

  test("the interval filter on a timestamp column reads the same grammar") {
    checkShapes("interval filter on __time") { i => groupByMillis(
      s""""filter": {"type": "interval", "dimension": "__time", "intervals": ["$i"]}""") }
  }

  test("the interval filter on an epoch-millis long column reads the same grammar") {
    checkShapes("interval filter on a long column") { i => groupByMillis(
      s""""filter": {"type": "interval", "dimension": "ms", "intervals": ["$i"]}""") }
  }

  test("movingAverage reads the same grammar: its non-empty hourly buckets " +
      "are exactly the selected events") {
    checkShapes("movingAverage") { i =>
      run(s"""{"queryType": "movingAverage", "dataSource": "ev",
        "granularity": "PT1H", "intervals": ["$i"],
        "aggregations": [{"type": "count", "name": "cnt"}],
        "averagers": [{"type": "longSum", "name": "s", "fieldName": "cnt", "buckets": 1}]}""")
        .filter(r => r.getAs[Long]("s") > 0).map(r => millisOf(r.getAs[Any]("__time"))).toSet
    }
  }

  test("movingAverage buckets on a period granularity's origin, like groupBy") {
    // daily events at 12:00; the granularity's days start at 12:00 too
    val daily = (1 to 6).map(d => LocalDateTime.of(2020, 1, d, 12, 0)).toDF("__time")
    val gran = """{"type": "period", "period": "P1D", "origin": "2020-01-01T12:00:00"}"""
    def query(queryType: String, extra: String): Map[LocalDateTime, Long] =
      NativeQuery.run(spark, s"""{"queryType": "$queryType", "dataSource": "ev",
        "granularity": $gran, "intervals": ["2020-01-03T12:00:00/2020-01-06T12:00:00"],
        "aggregations": [{"type": "count", "name": "cnt"}]$extra}""", _ => daily)
        .collect().map(r => r.getAs[LocalDateTime]("__time") -> r.getAs[Long]("cnt")).toMap
    val grouped = query("groupBy", "")
    assert(grouped.keySet == (3 to 5).map(d => LocalDateTime.of(2020, 1, d, 12, 0)).toSet)
    assert(query("movingAverage",
      ""","averagers": [{"type": "longSum", "name": "s", "fieldName": "cnt", "buckets": 1}]""") ==
      grouped)
  }

  private val p1d = """{"type":"period","period":"P1D","origin":null,"timeZone":null}"""

  /** (JSON spelling or "" for absent, the granularity it means, how the
    * rollup resource lists it). */
  private val granularities: Seq[(String, Granularity, String)] = Seq(
    ("\"DAY\"", PeriodGranularity("P1D"), p1d),
    ("\"day\"", PeriodGranularity("P1D"), p1d),
    ("\"P1D\"", PeriodGranularity("P1D"), p1d),
    ("""{"type": "period", "period": "P1D"}""", PeriodGranularity("P1D"), p1d),
    ("""{"type": "duration", "duration": 86400000, "origin": "1970-01-01T12:00:00Z"}""",
      DurationGranularity(86400000L, 43200000L),
      """{"type":"duration","duration":86400000,"origin":43200000}"""),
    ("\"all\"", AllGranularity, "\"all\""),
    ("\"none\"", NoneGranularity, "\"none\""),
    ("", AllGranularity, "null")) // a rollup without granularity declares none

  private val dayOne = """"intervals": ["2024-01-01/2024-01-03"]"""

  test("every granularity spelling buckets a groupBy the same way") {
    val inRange = eventMillis.filter(ms => ms < utc("2024-01-03T00:00:00"))
      .filter(_ >= utc("2024-01-01T00:00:00"))
    for ((spelling, g, _) <- granularities) {
      val field = if (spelling.isEmpty) "" else s""""granularity": $spelling,"""
      val rows = run(s"""{"queryType": "groupBy", "dataSource": "ev", $field $dayOne,
        "aggregations": [{"type": "count", "name": "cnt"}]}""")
      val got = rows.map { r =>
        val bucket = if (g == AllGranularity) 0L else millisOf(r.getAs[Any]("__time"))
        bucket -> r.getAs[Long]("cnt")
      }.toMap
      val want: Map[Long, Long] = g match {
        case AllGranularity => Map(0L -> inRange.size.toLong)
        case NoneGranularity => inRange.map(_ -> 1L).toMap
        case PeriodGranularity(_, _, _) =>
          inRange.groupBy(ms => Math.floorDiv(ms, 86400000L) * 86400000L).map { case (k, v) => k -> v.size.toLong }
        case DurationGranularity(w, o) =>
          inRange.groupBy(ms => ms - Math.floorMod(ms - o, w)).map { case (k, v) => k -> v.size.toLong }
      }
      assert(got == want, s"groupBy granularity $spelling")
    }
  }

  test("every granularity spelling survives the rollup POST → GET round trip") {
    import graft.plans.RollupRewrite
    import graft.server.RollupResource
    val dir = java.nio.file.Files.createTempDirectory("graft_druidtime_rollup").toString
    events.write.mode("overwrite").parquet(s"$dir/rollup")
    val catalog = new RollupRewrite.Catalog
    def post(granularity: String): Int = {
      val field = if (granularity.isEmpty) "" else s""", "granularity": $granularity"""
      RollupResource.handle(spark, catalog, "POST", "",
        s"""{"basePath": "$dir/base", "rollupPath": "$dir/rollup",
             "countColumn": "cnt", "timeColumn": "__time"$field}""")._1
    }
    def json(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))
    def listed(): String = {
      val (status, body) = RollupResource.handle(spark, catalog, "GET", "", "")
      assert(status == 200)
      json(JsonMethods.parse(body).asInstanceOf[JArray].arr.head \ "granularity")
    }
    try {
      for ((spelling, _, listing) <- granularities) {
        catalog.unregister(s"$dir/base")
        assert(post(spelling) == 200, spelling)
        val rendered = listed()
        assert(rendered == listing, spelling)
        // what GET renders reads back as the same granularity
        if (!spelling.isEmpty) {
          assert(post(rendered) == 200)
          assert(listed() == rendered, s"re-POST of $rendered")
        }
      }
      assert(post("\"P1X\"") == 400)
    } finally {
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
        .filterNot { case r: RollupRewrite.RewriteRule => r.catalog eq catalog; case _ => false }
    }
  }

  test("instants and periods: offsets, reduced precision, and the one period step") {
    assert(DruidTime.millis(JString("2024-01-01T00:00:00+01:00")) == utc("2023-12-31T23:00:00"))
    assert(DruidTime.millis(JString("2024-01")) == utc("2024-01-01T00:00:00"))
    assert(DruidTime.millis(JInt(1000)) == 1000L)
    assert(DruidTime.plus(utc("2024-01-31T00:00:00"), "P1M", 1) == utc("2024-02-29T00:00:00"))
    assert(DruidTime.plus(utc("2024-03-01T00:00:00"), "P1DT1H", -2) == utc("2024-02-27T22:00:00"))
    intercept[IllegalArgumentException](DruidTime.intervals(JString("2024-01-01T00:00:00 UTC/P1D")))
    intercept[IllegalArgumentException](DruidTime.granularity(JString("fortnight")))
    assert(DruidTime.intervals(JObject("type" -> JString("intervals"),
      "intervals" -> JArray(List(JString("2024/P1Y"))))) ==
      Seq(DruidTime.Interval(utc("2024-01-01T00:00:00"), utc("2025-01-01T00:00:00"))))
  }
}
