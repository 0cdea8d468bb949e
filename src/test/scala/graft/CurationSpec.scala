package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Similarity}
import graft.functions.{SimilarityFunctions => SF, TextFunctions => TF}

class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  test("connectedComponents: transitive chains collapse to min-id clusters") {
    // a 4-node chain (diameter 3) forces multiple hash-min iterations;
    // plus a separate 2-cycle and an untouched pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Similarity.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: long chain converges within the O(log^2 n) round budget") {
    // a 300-node chain has diameter 299 — min-label propagation would need
    // ~150 two-step cycles; the small-star/large-star alternation must
    // collapse it within the default maxIter=20
    val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Similarity.connectedComponents(pairs).collect()
    assert(got.length == 300 && got.forall(_.getLong(1) == 1L))
  }

  test("connectedComponents: self-pairs and isolated nodes label themselves") {
    val pairs = Seq((5L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val got = Similarity.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("connectedComponents: small-graph driver path ≡ the distributed loop") {
    // r17: graphs under the local threshold are solved with
    // driver-side union-find; labels must be IDENTICAL to the alternating
    // star loop's fixpoint on the same input — chains, cycles, self-pairs,
    // duplicate and reversed edges all present
    val rnd = new scala.util.Random(13)
    val edges = (1 to 400).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) ++
      Seq((500L, 500L), (600L, 601L), (601L, 600L), (700L, 701L), (701L, 702L))
    val pairs = edges.toDF("id_a", "id_b")
    val local = Similarity.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Similarity.connectedComponents(pairs, localThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("connectedComponents: caller session's shuffle width is never mutated mid-loop") {
    // the iteration pins its own width on a CLONED session; a query planned
    // on the caller's session while the loop runs must keep the session
    // width (the facade-concurrency hazard from the round-11 audit).
    // threshold 0 forces the DISTRIBUTED loop — the hazard under test
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val pairs = (1L until 2000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fut = Future(Similarity.connectedComponents(pairs, localThreshold = 0).collect())
    var samples = 0
    while (!fut.isCompleted) {
      // every observation of the shared session, including one mid-plan
      // groupBy, must see the original width
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      assert(spark.range(30).groupBy((col("id") % 3).as("k")).count().count() == 3L)
      samples += 1
    }
    val got = Await.result(fut, 180.seconds)
    assert(got.length == 2000 && got.forall(_.getLong(1) == 1L))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(samples > 0, "CC finished before any concurrent observation — lengthen the chain")
  }

  test("packGreedy: capacity respected, oversized doc gets its own bin") {
    val df = Seq(
      ("s", 1L, 400L), ("s", 2L, 500L), ("s", 3L, 200L), // bin 0 = 1100 > budget? no: 400+500=900, +200 would be 1100 > 1000 → bin 1
      ("s", 4L, 1500L),                                   // oversized → own bin
      ("s", 5L, 100L),                                    // next bin starts fresh
      ("t", 6L, 999L), ("t", 7L, 2L)                      // group reset
    ).toDF("source", "doc_id", "ntok")
    val got = Curation.packGreedy(df, "source", "doc_id", col("ntok"), 1000L)
      .orderBy("source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("s", 1L, 0L), ("s", 2L, 0L), ("s", 3L, 1L), ("s", 4L, 2L), ("s", 5L, 3L),
      ("t", 6L, 0L), ("t", 7L, 1L)))
  }

  test("packChunks bins by tokens-before-doc; totals preserved") {
    val df = Seq(("s", 1L, "a b c"), ("s", 2L, "d e"), ("s", 3L, "f"))
      .toDF("source", "doc_id", "text")
    val got = Curation.packChunks(df, "source", "doc_id",
        TF.tokenCount(col("text")), 4L)
      .orderBy("chunk_id").collect()
    // cum-before: doc1=0 → chunk 0; doc2=3 → chunk 0; doc3=5 → chunk 1
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 2L, 5L), (1L, 1L, 1L)))
  }

  test("hashSample is deterministic and id-stable across runs") {
    val df = (1L to 1000L).toDF("doc_id")
    val a = Curation.hashSample(df, "doc_id", 20, 2).collect().map(_.getLong(0)).toSet
    val b = Curation.hashSample(df, "doc_id", 20, 2).collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.nonEmpty && a.size < 1000)
    // ~10% with md5 uniformity; loose bounds
    assert(a.size > 50 && a.size < 200)
  }

  test("stratifiedSample keeps exactly k per stratum") {
    val df = (1L to 100L).map(i => (s"s${i % 4}", i)).toDF("source", "doc_id")
    val got = Curation.stratifiedSample(df, "source", "doc_id", 5)
    assert(got.groupBy("source").count().collect().forall(_.getLong(1) == 5L))
  }

  test("row-based simhashTable matches the array-lambda simhash64 bit-exactly") {
    val docs = Sources.docs(spark)
    val viaLambda = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), SF.simhash64(col("__toks")).as("simhash"))
    val viaRows = Similarity.simhashTable(docs, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    assert(viaLambda.exceptAll(viaRows).isEmpty && viaRows.exceptAll(viaLambda).isEmpty)
  }

  private object Sources {
    def docs(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(sf() + "/documents.parquet")
  }
}
