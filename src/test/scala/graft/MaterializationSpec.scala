package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import graft.operators.{NativeQuery, Similarity}

/** The engine materializes an intermediate read by several consumers only
  * with `localCheckpoint` (SCALE.md, Materializations): no query leaves an
  * entry in the context's shared CacheManager, a second run on the same
  * session computes from its sources again, a lost checkpoint block fails
  * the query instead of recomputing its upstream, and a query leaves the
  * session's settings as it found them. */
class MaterializationSpec extends SparkSpecBase {
  private val dir = sf("sf0.01")

  /** Runs a declared query twice on one session: equal rows both times, and
    * an empty CacheManager after each run. */
  private def runTwice(query: String): Unit = {
    // caches other suites left in this shared context are not under test
    spark.catalog.clearCache()
    val runs = (1 to 2).map { run =>
      val rows = SparkEntry.queries(query)(spark, dir).collect().map(_.toString).sorted.toSeq
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$query run $run left a CacheManager entry")
      rows
    }
    assert(runs.head.nonEmpty, s"$query returned no rows")
    assert(runs.head == runs(1))
  }

  test("dedup_simhash_pairs and dedup_clusters leave no cache behind") {
    runTwice("dedup_simhash_pairs")
    runTwice("dedup_clusters")
  }

  test("dedup_ngram_jaccard with its DF cap leaves no cache behind") {
    runTwice("dedup_ngram_jaccard")
  }

  test("a lost checkpoint block fails the query instead of recomputing") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Similarity.simhashPairs(docs, "doc_id", "text")
    val created = spark.sparkContext.getPersistentRDDs -- before
    assert(created.size == 1, s"one eager checkpoint expected, got ${created.keys}")
    assert(created.values.forall(_.getStorageLevel.replication == 1), "unreplicated blocks")
    created.values.foreach(_.unpersist(blocking = true))
    val e = intercept[SparkException](pairs.collect())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }

  test("building and running a query leaves the session conf as it found it") {
    val subquery =
      """{
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": {
          "queryType": "scan", "dataSource": "orders",
          "timeColumn": "o_orderdate",
          "columns": ["o_orderstatus", "o_totalprice"]
        }},
        "timeColumn": "o_orderdate",
        "dimensions": ["o_orderstatus"],
        "aggregations": [{"type": "count", "name": "cnt"}]
      }"""
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "topn_wide_aggs_onepass" -> (() => SparkEntry.queries("topn_wide_aggs_onepass")(spark, dir)),
      "dedup_clusters" -> (() => SparkEntry.queries("dedup_clusters")(spark, dir)),
      "native query datasource" -> (() => NativeQuery.run(spark, subquery,
        name => spark.read.parquet(s"$dir/$name.parquet"))))
    builds.foreach { case (name, build) =>
      val before = spark.conf.getAll
      assert(build().collect().nonEmpty, s"$name returned no rows")
      val after = spark.conf.getAll
      assert(after == before, s"$name changed the session conf: " +
        s"added ${after.toSet -- before.toSet}, removed ${before.toSet -- after.toSet}")
    }
  }
}
