package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.{SimilarityFunctions => SF, TextFunctions => TF}

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about databases and distributed query engines"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),   // exact dup of 0
    (4L, "short text"),
    (5L, "THE  Quick   Brown fox jumps over the lazy dog near the river bank today") // ws/case variant of 0
  ).toDF("doc_id", "text")

  test("exactDedup groups case/whitespace variants") {
    val out = Similarity.exactDedup(docs, "doc_id", "text").collect()
    val byKeep = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeep(0L) == 3L) // docs 0, 3, 5 share a fingerprint
    assert(out.length == 4)  // 0-group, 1, 2, 4
  }

  test("minhashPairs finds planted near-duplicates") {
    val pairs = Similarity.minhashPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical → all bands collide
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup caught
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated doc clean
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val out = Similarity.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(out((0L, 3L)) == 1.0) // identical shingle sets
    assert(out.contains((0L, 1L)) && out((0L, 1L)) > 0.7) // one word changed
    assert(!out.keys.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhashPairs: identical docs at hamming 0") {
    val out = Similarity.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out((0L, 3L)) == 0)
  }

  test("simhash64 uses the full 64-bit space and banding is complete for hamming <= 3") {
    val corpus = spark.read.parquet(sf() + "/documents.parquet")
    val sh = corpus
      .select(col("doc_id"), TF.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), SF.simhash64(col("__toks")).as("simhash"))
      .cache()
    // 64-bit key space: hashes spread over positive AND negative longs and
    // far outside the old 16-bit range
    val hashes = sh.select("simhash").as[Long].collect()
    assert(hashes.exists(_ < 0) && hashes.exists(_ > 65535L))
    assert(hashes.distinct.length > hashes.length / 2)
    // banded multi-probe result == brute-force all-pairs at hamming <= 3
    val banded = Similarity.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sa"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(SF.hammingDistance(col("sa"), col("sb")) <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("ngramJaccardPairs maxDf prunes a planted hot shingle") {
    // every doc shares one stopword-ish shingle; only 0/1/3/5 are related
    val hot = "alpha beta gamma delta epsilon"
    val hotDocs = docs.withColumn("text", concat(lit(hot + " "), col("text")))
    // without a cap the hot shingle links every doc pair; DF cap 3 drops it
    // (DF = 6 > 3) while near-dup shingles (DF <= 3-4) survive
    val capped = Similarity.ngramJaccardPairs(hotDocs, "doc_id", "text",
        minJaccard = 0.01, maxDf = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((0L, 3L)))                       // real dups still found
    assert(!capped.exists(p => p._1 == 2L || p._2 == 2L))   // hot-shingle-only link pruned
    val uncapped = Similarity.ngramJaccardPairs(hotDocs, "doc_id", "text",
        minJaccard = 0.01)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.exists(p => p._1 == 2L || p._2 == 2L))  // proves the cap did the pruning
  }

  test("cosineKnn exact top-k and lshAnn recall") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") === 0L)
    val exact = Similarity.cosineKnn(emb, queries, "vec_id", "embedding", 5)
    val rows = exact.collect()
    assert(rows.length == 5)
    // ranks are 1..5, cosines non-increasing
    val cos = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // self excluded
    assert(!rows.exists(_.getLong(1) == 0L))

    // LSH ANN returns a subset of the bucket, each with valid cosine
    val ann = Similarity.lshAnn(emb, queries, "vec_id", "embedding", 5, 8, 64).collect()
    assert(ann.forall(r => r.getDouble(3) <= 1.000001 && r.getDouble(3) >= -1.000001))
  }

  test("int8 quantization: codes in range, recall vs exact top-5") {
    val exact = graft.queries.EmbeddingQueries.queries("embed_knn_bruteforce")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val quant = graft.queries.EmbeddingQueries.queries("embed_knn_int8")(spark, sf())
      .collect()
    // codes within int8 range
    val codes = graft.queries.EmbeddingQueries.queries("embed_quantize_int8")(spark, sf())
      .collect()
    assert(codes.forall(_.getString(3).split(",").forall(s => math.abs(s.toInt) <= 127)))
    // recall@5 of the quantized ranking vs the exact ranking: int8 keeps
    // cosine to ~1e-2, which on near-random vectors still recovers most of
    // the true neighborhood
    val byQ = quant.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.keys.toSeq.map { q =>
      val e = exact(q).map(_._2).toSet; val g = byQ(q).map(_._2).toSet
      (e intersect g).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.5, s"mean recall ${recalls.sum / recalls.size}")
  }

  test("IVF: assignment covers every vector over <= K lists; probed-list " +
      "candidates only; recall vs exact top-5 under nprobe=2/8") {
    import graft.queries.EmbeddingQueries
    val lists = EmbeddingQueries.queries("embed_ivf_lists")(spark, sf()).collect()
    val total = spark.read.parquet(s"${sf()}/embeddings.parquet").count()
    assert(lists.map(_.getLong(1)).sum == total, "every vector assigned")
    assert(lists.length <= 8 && lists.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    val ivf = EmbeddingQueries.queries("embed_ivf_knn")(spark, sf()).collect()
    // 5 ranked rows per query, ranks 1..5, cosine in range
    val byQ = ivf.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      assert(rs.forall(r => r.getDouble(2) <= 1.000001 && r.getDouble(2) >= -1.000001))
    }
    // IVF recall vs the exact baseline: probing 2 of 8 lists on
    // near-random vectors still recovers a reasonable share of the true
    // top-5 (recall is quantizer-dependent — the structural contract is
    // "subset of probed lists", the quality bar is a sanity floor)
    val exact = EmbeddingQueries.queries("embed_knn_bruteforce")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.keys.toSeq.map { q =>
      val e = exact(q).map(_._2).toSet
      val g = byQ(q).map(_.getLong(1)).toSet
      (e intersect g).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.2, s"mean recall ${recalls.sum / recalls.size}")
  }

  test("IVF with a kmeans-TRAINED quantizer: training moves the centroids, " +
      "every vector still assigned, recall floor holds") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val base = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val seeds = e.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val trained = Similarity.kmeansCentroids(base, "v", seeds, iters = 3)
    assert(trained != seeds, "two Lloyd's rounds must move the centroids")
    assert(trained.length == 8 && trained.forall(_.length == 64))
    val queries = e.filter(col("vec_id").isin(0L, 1L, 2L))
    val ivf = Similarity.ivfKnn(e, queries, "vec_id", "embedding",
      trained, nprobe = 2, k = 5).collect()
    val byQ = ivf.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach(rs => assert(rs.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    val assigned = Similarity.ivfAssign(base, "vec_id", "v", trained)
    assert(assigned.count() == e.count(), "every vector assigned post-training")
    val exact = Similarity.cosineKnn(e, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.keys.toSeq.map { q =>
      val ex = exact(q).map(_._2).toSet
      val got = byQ(q).map(_.getLong(1)).toSet
      (ex intersect got).size.toDouble / ex.size
    }
    assert(recalls.sum / recalls.size >= 0.2,
      s"trained-quantizer mean recall ${recalls.sum / recalls.size}")
  }

  test("minhash signature determinism + hexLong32 range") {
    val sig1 = docs.select(SF.minhashSignature(TF.wordShingles(col("text"), 5), 16).as("s")).collect()
    val sig2 = docs.select(SF.minhashSignature(TF.wordShingles(col("text"), 5), 16).as("s")).collect()
    assert(sig1.map(_.toString).sameElements(sig2.map(_.toString)))
    val hs = docs.select(TF.hexLong32(col("text")).as("h")).as[Long].collect()
    assert(hs.forall(h => h >= 0 && h <= 0xFFFFFFFFL))
  }

  test("decontaminate flags planted benchmark overlap, counts DISTINCT " +
      "shingles, broadcasts the benchmark side") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "completely unrelated benchmark question about physics")).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the bench-100 5-gram run twice (repeat must not double-count)
      (1L, "prefix the quick brown fox jumps over the lazy dog tonight and " +
        "again the quick brown fox jumps over the lazy dog tonight suffix"),
      // shares fewer than minOverlap shingles
      (2L, "the quick brown fox sleeps through every single afternoon"),
      (3L, "nothing in common with any benchmark document at all here"))
      .toDF("doc_id", "text")
    val out = graft.operators.Similarity
      .decontaminate(corpus, bench, "doc_id", "text", shingleSize = 5, minOverlap = 3)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(t => (t._1, t._2)).toSet == Set((1L, 100L)))
    // doc 1 contains all 6 shingles of bench-100's 10-token text, counted
    // once each despite appearing twice
    assert(rows.head._3 == 6L)
    // benchmark side is broadcast in the physical plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n$plan")
  }

  test("salted bucket pairs are EXACTLY the plain same-bucket pairs " +
      "(forced 2-row salt cap splits every bucket)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{SimilarityFunctions => SF}
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("bucket", SF.hyperplaneBucket(col("v"), 4, 64)) // few planes → big buckets
      .withColumn("nrm", SF.l2Norm(col("v")))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("id_a", "id_b", "bucket", "cosine").collect().map(_.toString).sorted.toSeq
    // plain same-bucket self-join (the unsalted reference implementation)
    val a = e.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val plain = a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cosine", round(SF.dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= 0.2)
      .select("id_a", "id_b", "bucket", "cosine")
    // salted with cap=2: every bucket splits into many salt groups
    val salted = graft.operators.Similarity.saltedBucketPairs(
      e, "vec_id", "v", "nrm", "bucket", minCosine = 0.2, saltCap = 2)
    val ps = canon(plain)
    assert(ps.nonEmpty, "test needs at least one same-bucket pair")
    assert(canon(salted) == ps, "salting changed the pair set")
    // large cap (no splitting) is also identical
    val unsplit = graft.operators.Similarity.saltedBucketPairs(
      e, "vec_id", "v", "nrm", "bucket", minCosine = 0.2, saltCap = 1000000)
    assert(canon(unsplit) == ps)
  }

  test("connectedComponents: null ids label alike on the driver path and " +
      "the distributed loop") {
    // a null endpoint joins no component: its edge is dropped, the other
    // endpoint labels itself, and the null node is one (null, null) row
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(7L)), (None, None),
      (Some(3L), Some(1L))).toDF("id_a", "id_b")
    def labels(cc: org.apache.spark.sql.DataFrame): Seq[String] =
      cc.collect().map(_.toString).sorted.toSeq
    val local = labels(Similarity.connectedComponents(pairs))
    val dist = labels(Similarity.connectedComponents(pairs, localThreshold = 0))
    assert(local == dist)
    assert(local == Seq("[1,1]", "[2,1]", "[3,1]", "[7,7]", "[null,null]"))
  }
}
