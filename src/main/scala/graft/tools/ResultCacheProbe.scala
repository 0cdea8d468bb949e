package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.server.HttpFacade
import graft.sources.Sources

/** Measures the broker-analog RESULT cache's value at a given scale factor
  * (SCALE.md §9.6): POST the same native groupBy over the fact table twice
  * through the HTTP facade and print one JSON line with the cold (miss) and
  * cached (hit) latencies. The miss executes the full distributed
  * aggregation; the hit serves the rendered payload from the
  * generation-keyed cache without touching Spark — the reference broker's
  * result-level cache (CachingClusteredClient) makes exactly this trade.
  *
  *   runMain graft.tools.ResultCacheProbe /root/testdata/sf0.1
  */
object ResultCacheProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val facade = HttpFacade.start(spark, name => Sources.table(spark, sfDir, name))
    val body =
      """{"queryType": "groupBy", "dataSource": "lineitem",
          "timeColumn": "l_shipdate",
          "dimensions": ["l_returnflag", "l_linestatus"],
          "aggregations": [
            {"type": "count", "name": "cnt"},
            {"type": "longSum", "name": "qty", "fieldName": "l_quantity"}],
          "limitSpec": {"type": "default",
            "columns": [{"dimension": "l_returnflag"}, {"dimension": "l_linestatus"}]}}"""
    def post(): (Double, Int) = {
      val t0 = System.nanoTime()
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}/druid/v2"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      ((System.nanoTime() - t0) / 1e9, resp.statusCode())
    }
    post() // warm codegen/session on a throwaway, then invalidate
    val inval = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${facade.port}/druid/admin/resultCache"))
        .method("DELETE", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    require(inval.statusCode() == 200)
    val (missSec, s1) = post()
    val (hitSec, s2) = post()
    require(s1 == 200 && s2 == 200, s"HTTP $s1/$s2")
    require(facade.resultCache.hits >= 1, "second POST must hit the cache")
    val json = f"""{"sf":"$sfDir","result_cache_miss_sec":$missSec%.3f,""" +
      f""""result_cache_hit_sec":$hitSec%.4f,"speedup":${missSec / hitSec}%.1f}"""
    println(json)
    facade.stop()
    spark.stop()
  }
}
