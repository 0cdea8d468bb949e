package graft

import graft.sources.{LookupRegistry, SingleLookup}
import graft.sources.SingleLookup.{CachePolicy, LoadingLookup, MapDataFetcher, PollingLookup}

/** r15: lookups-cached-single semantics (reference: extensions-core/
  * lookups-cached-single/src/main/java/org/apache/druid/server/lookup/
  * LoadingLookup.java + PollingLookup.java + cache/loading/
  * OnHeapLoadingCache.java) — load-on-miss, TTL expiry, LRU cap, and
  * poll-refresh visibility through the registry. */
class SingleLookupSpec extends SparkSpecBase {

  private def fakeClock(start: Long = 0L): (() => Long, Long => Unit) = {
    val t = new java.util.concurrent.atomic.AtomicLong(start)
    (() => t.get(), (d: Long) => { t.addAndGet(d); () })
  }

  test("LoadingLookup loads a key ON MISS and serves repeats from cache " +
      "(LoadingLookup.java:69-88 'load key if absent')") {
    val fetcher = new MapDataFetcher(() => Map("k1" -> "v1", "k2" -> "v2"))
    val lk = new LoadingLookup(fetcher)
    assert(lk.apply("k1") == Some("v1"))
    assert(lk.apply("k1") == Some("v1"))
    assert(lk.apply("k1") == Some("v1"))
    assert(fetcher.fetchCalls.get() == 1, "repeat applies must hit the cache")
    assert(lk.apply("k2") == Some("v2"))
    assert(fetcher.fetchCalls.get() == 2)
    // a missing key is null (and NOT negatively cached — the reference's
    // loader throws on absence so nothing is stored)
    assert(lk.apply("nope") == None)
    assert(lk.apply(null) == None) // sql-compatible null key (:71-77)
  }

  test("expireAfterWrite TTL evicts and reloads (OnHeapLoadingCache.java:67)") {
    var backing = Map("k" -> "old")
    val fetcher = new MapDataFetcher(() => backing)
    val (clock, advance) = fakeClock()
    val lk = new LoadingLookup(fetcher,
      CachePolicy(expireAfterWriteMs = Some(1000L)), clock)
    assert(lk.apply("k") == Some("old"))
    backing = Map("k" -> "new")
    advance(999L)
    assert(lk.apply("k") == Some("old"), "inside the TTL the cached value serves")
    advance(1L) // now exactly at the TTL boundary
    assert(lk.apply("k") == Some("new"), "past the TTL the source is re-read")
    assert(fetcher.fetchCalls.get() == 2)
  }

  test("maximumSize caps the cache with LRU eviction; size 0 evicts " +
      "immediately after load (OnHeapLoadingCache.java:60-62)") {
    val fetcher = new MapDataFetcher(() =>
      Map("a" -> "1", "b" -> "2", "c" -> "3"))
    val lk = new LoadingLookup(fetcher, CachePolicy(maximumSize = Some(2L)))
    lk.apply("a"); lk.apply("b")
    assert(lk.cacheSize == 2)
    lk.apply("a")      // touch a → b is now least-recently-used
    lk.apply("c")      // evicts b
    assert(lk.cacheSize == 2)
    assert(fetcher.fetchCalls.get() == 3)
    lk.apply("a")      // still cached
    assert(fetcher.fetchCalls.get() == 3)
    lk.apply("b")      // was evicted → reload
    assert(fetcher.fetchCalls.get() == 4)

    val zero = new LoadingLookup(fetcher, CachePolicy(maximumSize = Some(0L)))
    assert(zero.apply("a") == Some("1")) // value still returned to the caller
    assert(zero.cacheSize == 0, "maximumSize=0 evicts right after load")
  }

  test("unapply runs through the REVERSE loading cache " +
      "(LoadingLookup.java:91-111)") {
    val fetcher = new MapDataFetcher(() =>
      Map("k1" -> "shared", "k2" -> "shared", "k3" -> "solo"))
    val lk = new LoadingLookup(fetcher)
    assert(lk.unapply("shared").sorted == Seq("k1", "k2"))
    assert(lk.unapply("shared").sorted == Seq("k1", "k2"))
    assert(fetcher.fetchAllCalls.get() == 1, "reverse lookups cache by value")
    assert(lk.unapply("solo") == Seq("k3"))
    assert(lk.unapply("absent") == Nil)
    assert(lk.unapply(null) == Nil) // null value → empty list (:96-102)
  }

  test("PollingLookup serves the SNAPSHOT: source changes are invisible " +
      "until the next poll (PollingLookup.java:68-93,113-138)") {
    var backing = Map("k" -> "v1")
    val fetcher = new MapDataFetcher(() => backing)
    val (clock, advance) = fakeClock()
    val registry = new LookupRegistry
    val pl = new PollingLookup(spark, "poll_lk", fetcher, pollPeriodMs = 5000L,
      registry, clock)
    assert(pl.apply("k") == Some("v1")) // constructor fetched the snapshot
    backing = Map("k" -> "v2", "k2" -> "x")
    assert(pl.apply("k") == Some("v1"), "stale until the poll fires")
    assert(pl.apply("k2") == None)
    assert(!pl.pollIfDue(), "period not yet elapsed")
    advance(5000L)
    assert(pl.pollIfDue(), "period elapsed → pollAndSwap")
    assert(pl.apply("k") == Some("v2"))
    assert(pl.apply("k2") == Some("x"))
    assert(pl.unapply("x") == Seq("k2"))
    assert(pl.apply(null) == None)
  }

  test("each poll publishes to the LookupRegistry — the broadcast-join path " +
      "sees the same version the scalar path serves") {
    var backing = Map("a" -> "1")
    val fetcher = new MapDataFetcher(() => backing)
    val registry = new LookupRegistry
    val g0 = registry.generation
    val pl = new PollingLookup(spark, "poll_reg", fetcher, pollPeriodMs = 0L,
      registry)
    assert(registry.generation > g0, "initial snapshot bumps the generation")
    assert(registry.get("poll_reg").collect().map(r =>
      r.getString(0) -> r.getString(1)).toMap == Map("a" -> "1"))
    backing = Map("a" -> "2", "b" -> "3")
    val g1 = registry.generation
    pl.poll() // manual refresh (pollPeriod 0 = load-once mode, no schedule)
    assert(registry.generation > g1)
    assert(registry.get("poll_reg").collect().map(r =>
      r.getString(0) -> r.getString(1)).toMap == Map("a" -> "2", "b" -> "3"))
    pl.close()
    assert(!registry.contains("poll_reg"))
  }

  test("pollPeriod == 0 never auto-polls (load-once — " +
      "PollingLookup.java:88-93 skips the executor)") {
    var backing = Map("k" -> "v1")
    val fetcher = new MapDataFetcher(() => backing)
    val (clock, advance) = fakeClock()
    val registry = new LookupRegistry
    val pl = new PollingLookup(spark, "poll_once", fetcher, 0L, registry, clock)
    backing = Map("k" -> "v2")
    advance(1000000L)
    assert(!pl.pollIfDue())
    assert(pl.apply("k") == Some("v1"))
    assert(fetcher.fetchAllCalls.get() == 1)
  }
}

/** The lookups-cached-single CONFIG surface (r15): loadingLookup /
  * pollingLookup containers through the coordinator config CRUD
  * (LookupExtractionModule.java type names; factory JSON per
  * LoadingLookupFactory.java / PollingLookupFactory.java; dataFetcher per
  * jdbc/JdbcDataFetcher.java). Derby stands in for the JDBC source like the
  * cached-global jdbc namespace spec. */
class SingleLookupConfigSpec extends SparkSpecBase {
  import graft.server.LookupResource
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def withDerby[A](db: String, rows: Seq[(String, String)])(f: String => A): A = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE kv (k VARCHAR(64) PRIMARY KEY, v VARCHAR(64))")
      rows.foreach { case (k, v) =>
        st.execute(s"INSERT INTO kv VALUES ('$k', '$v')")
      }
      f(url)
    } finally conn.close()
  }

  private def jdbcFetcherJson(url: String): String =
    s"""{"type": "jdbcDataFetcher",
         "connectorConfig": {"connectURI": "$url"},
         "table": "kv", "keyColumn": "K", "valueColumn": "V"}"""

  test("pollingLookup container: POST builds the snapshot, GET round-trips " +
      "the spec, the registry serves the broadcast-join path, DELETE closes " +
      "(PollingLookupFactory.java)") {
    withDerby("graft_single_poll", Seq("DE" -> "Germany", "FR" -> "France")) { url =>
      val registry = new graft.sources.LookupRegistry
      val body =
        s"""{"version": "v1", "lookupExtractorFactory": {
             "type": "pollingLookup", "pollPeriod": "PT10M",
             "dataFetcher": ${jdbcFetcherJson(url)},
             "cacheFactory": {"type": "onHeapPolling"}}}"""
      val (st, _) = LookupResource.config(spark, registry, "POST",
        "config/__default/countries", body)
      assert(st == 202)
      // the constructor snapshot is in the registry (broadcast-join ready)
      assert(registry.contains("countries"))
      assert(registry.asMap("countries") == Map("DE" -> "Germany", "FR" -> "France"))
      // scalar path serves the same snapshot
      assert(LookupResource.applySingle(registry, "countries", "FR") == Some("France"))
      // GET round-trips the POSTed container verbatim
      val (gst, spec) = LookupResource.config(spark, registry, "GET",
        "config/__default/countries", "")
      assert(gst == 200)
      val parsed = JsonMethods.parse(spec)
      assert((parsed \ "version") == JString("v1"))
      assert((parsed \ "lookupExtractorFactory" \ "type") == JString("pollingLookup"))
      assert((parsed \ "lookupExtractorFactory" \ "pollPeriod") == JString("PT10M"))
      // no introspect handler in the reference → 404
      assert(LookupResource.introspect(registry, "GET", "countries")._1 == 404)
      // DELETE closes the polling instance and drops the registry row
      assert(LookupResource.config(spark, registry, "DELETE",
        "config/__default/countries", "")._1 == 202)
      assert(!registry.contains("countries"))
      assert(LookupResource.applySingle(registry, "countries", "FR") == None)
    }
  }

  test("loadingLookup container: keys load ON MISS through the jdbc fetcher " +
      "and cache under the loadingCacheSpec knobs (LoadingLookupFactory.java)") {
    withDerby("graft_single_load", Seq("a" -> "1", "b" -> "2")) { url =>
      val registry = new graft.sources.LookupRegistry
      val body =
        s"""{"version": "v2", "lookupExtractorFactory": {
             "type": "loadingLookup",
             "dataFetcher": ${jdbcFetcherJson(url)},
             "loadingCacheSpec": {"type": "guava", "maximumSize": 100,
                                  "expireAfterWrite": 3600000},
             "reverseLoadingCacheSpec": {"type": "guava"}}}"""
      assert(LookupResource.config(spark, registry, "POST",
        "config/__default/on_demand", body)._1 == 202)
      // the QUERY path sees the lookup: registration publishes the live
      // JDBC relation into the registry (LOOKUP()/registeredLookup/lookup
      // datasource resolve there), while applySingle keeps the per-key
      // eviction cache
      assert(registry.contains("on_demand"))
      assert(registry.asMap("on_demand") == Map("a" -> "1", "b" -> "2"))
      // but the config listing shows it
      val (_, names) = LookupResource.config(spark, registry, "GET",
        "config/__default", "")
      assert(names.contains("on_demand"))
      // load-on-miss through Derby; a second apply serves from cache (the
      // value survives a source row update because the TTL has not passed)
      assert(LookupResource.applySingle(registry, "on_demand", "a") == Some("1"))
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute("UPDATE kv SET v = '99' WHERE k = 'a'")
      finally conn.close()
      assert(LookupResource.applySingle(registry, "on_demand", "a") == Some("1"),
        "cached entry must serve inside the TTL")
      assert(LookupResource.applySingle(registry, "on_demand", "b") == Some("2"))
      assert(LookupResource.applySingle(registry, "on_demand", "zzz") == None)
      // introspection unsupported, GET round-trips, DELETE drops
      assert(LookupResource.introspect(registry, "GET", "on_demand/keys")._1 == 404)
      val (gst, spec) = LookupResource.config(spark, registry, "GET",
        "config/__default/on_demand", "")
      assert(gst == 200 &&
        (JsonMethods.parse(spec) \ "lookupExtractorFactory" \ "type") == JString("loadingLookup"))
      assert(LookupResource.config(spark, registry, "DELETE",
        "config/__default/on_demand", "")._1 == 202)
      assert(LookupResource.config(spark, registry, "GET",
        "config/__default/on_demand", "")._1 == 404)
    }
  }

  test("a POSTed loadingLookup is reachable from QUERIES: the " +
      "registeredLookup extraction fn and LOOKUP() resolve it live from " +
      "the backing source (a registered lookup is queryable in the " +
      "reference — LookupReferencesManager wiring)") {
    withDerby("graft_single_query", Seq("s1" -> "Solo", "s2" -> "Duo")) { url =>
      val registry = graft.sources.LookupRegistry.global
      val body =
        s"""{"lookupExtractorFactory": {
             "type": "loadingLookup",
             "dataFetcher": ${jdbcFetcherJson(url)},
             "loadingCacheSpec": {"type": "guava"}}}"""
      assert(LookupResource.config(spark, registry, "POST",
        "config/__default/band_size", body)._1 == 202)
      try {
        import spark.implicits._
        Seq(
          (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x", "s1"),
          (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "y", "s2"),
          (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "z", "s3"))
          .toDF("__time", "id", "code").createOrReplaceTempView("single_lkp_src")
        // registeredLookup extraction fn through the native route
        val native = graft.operators.NativeQuery.run(spark,
          """{
            "queryType": "groupBy", "dataSource": "single_lkp_src",
            "granularity": "all",
            "intervals": ["2024-01-01T00:00:00.000Z/2025-01-01T00:00:00.000Z"],
            "dimensions": [{"type": "extraction", "dimension": "code",
              "outputName": "band",
              "extractionFn": {"type": "registeredLookup",
                "lookup": "band_size", "replaceMissingValueWith": "unknown"}}],
            "aggregations": [{"type": "count", "name": "cnt"}]
          }""", name => spark.table(name))
        val got = native.collect().map(r =>
          (r.getAs[String]("band"), r.getAs[Long]("cnt"))).toSet
        assert(got == Set(("Solo", 1L), ("Duo", 1L), ("unknown", 1L)))
        // LOOKUP() SQL resolves the same registration, live from the source
        graft.functions.GraftSqlFunctions.register(spark)
        val sql = spark.sql(
          "SELECT LOOKUP(code, 'band_size') AS band FROM single_lkp_src ORDER BY id")
          .collect().map(_.getString(0)).toSeq
        assert(sql == Seq("Solo", "Duo", null))
      } finally
        LookupResource.config(spark, registry, "DELETE",
          "config/__default/band_size", "")
    }
  }

  test("a pollingLookup with pollPeriod > 0 REFRESHES server-side: the " +
      "fixed-delay scheduler re-polls and swaps the snapshot " +
      "(PollingLookup.java:88-103 pollAndSwap on a scheduled executor)") {
    withDerby("graft_single_sched", Seq("k" -> "old")) { url =>
      val registry = new graft.sources.LookupRegistry
      val body =
        s"""{"lookupExtractorFactory": {
             "type": "pollingLookup", "pollPeriod": "PT0.2S",
             "dataFetcher": ${jdbcFetcherJson(url)},
             "cacheFactory": {"type": "onHeapPolling"}}}"""
      assert(LookupResource.config(spark, registry, "POST",
        "config/__default/sched", body)._1 == 202)
      try {
        assert(LookupResource.applySingle(registry, "sched", "k") == Some("old"))
        val conn = java.sql.DriverManager.getConnection(url)
        try conn.createStatement().execute("UPDATE kv SET v = 'new' WHERE k = 'k'")
        finally conn.close()
        // the scheduler must pick the change up without any caller-driven
        // pollIfDue; allow generous wall-clock for the fixed-delay tick
        val deadline = System.currentTimeMillis() + 30000
        var v: Option[String] = None
        while (v != Some("new") && System.currentTimeMillis() < deadline) {
          v = LookupResource.applySingle(registry, "sched", "k")
          if (v != Some("new")) Thread.sleep(100)
        }
        assert(v == Some("new"), "scheduled poll never refreshed the snapshot")
      } finally
        LookupResource.config(spark, registry, "DELETE",
          "config/__default/sched", "")
    }
  }

  test("a month pollPeriod is a 400: Joda's toStandardDuration refuses months") {
    withDerby("graft_single_monthly", Seq("k" -> "v")) { url =>
      val registry = new graft.sources.LookupRegistry
      try {
        val (st, body) = LookupResource.config(spark, registry, "POST",
          "config/__default/monthly",
          s"""{"lookupExtractorFactory": {"type": "pollingLookup", "pollPeriod": "P1M",
              "dataFetcher": ${jdbcFetcherJson(url)}}}""")
        assert(st == 400, body)
        assert(body.contains("P1M"))
        assert(!LookupResource.isSingle(registry, "monthly"))
      } finally
        LookupResource.config(spark, registry, "DELETE", "config/__default/monthly", "")
    }
  }

  test("bad single-lookup containers are 400s (missing/unsupported fetcher)") {
    val registry = new graft.sources.LookupRegistry
    assert(LookupResource.config(spark, registry, "POST", "config/__default/x",
      """{"lookupExtractorFactory": {"type": "loadingLookup"}}""")._1 == 400)
    assert(LookupResource.config(spark, registry, "POST", "config/__default/x",
      """{"lookupExtractorFactory": {"type": "pollingLookup",
          "dataFetcher": {"type": "restDataFetcher"}}}""")._1 == 400)
  }
}
