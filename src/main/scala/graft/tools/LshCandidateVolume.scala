package graft.tools

import org.apache.spark.sql.functions._

/** Candidate-volume probe for the LSH near-dup scale path
  * (`embed_lsh_neardup`): prints the bucket histogram's pair count — the
  * sum over buckets of C(size, 2), which IS the number of same-bucket
  * candidate pairs the banded self-join scores. The scale gate runs this at
  * sf0.1 and sf10 so the growth curve of the within-bucket quadratic term
  * is measured every round: if adaptive plane count (log2(n/target)) is
  * holding, candidate volume grows ~linearly with the corpus, not
  * quadratically (the round-6 fixed-8-planes defect measured n²/256).
  *
  * One JSON line on stdout:
  * {"metric":"lsh_candidate_volume","rows":N,"planes":P,"buckets":B,
  *  "max_bucket":M,"candidate_pairs":C}
  */
object LshCandidateVolume {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local()
    try {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      // identical plane-count rule to embed_lsh_neardup
      // (queries/EmbeddingQueries.scala)
      val planes = math.max(8, math.ceil(math.log(n / 100.0) / math.log(2)).toInt)
      val vd = transform(col("embedding"), x => x.cast("double"))
      val buckets = emb
        .select(graft.functions.SimilarityFunctions
          .hyperplaneBucket(vd, planes, 64).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("sz"))
      // post-salt view: buckets past saltCap split into g = ceil(sz/cap)
      // groups (Similarity.saltedBucketPairs), so the largest single
      // join BLOCK — the unit of per-task work — is bounded by ~cap²
      // while total candidate pairs are unchanged (exact triangle join)
      val saltCap = 256L
      val g = greatest(lit(1L), ceil(col("sz").cast("double") / saltCap).cast("long"))
      val blockStats = buckets
        .withColumn("g", g)
        .withColumn("max_block",
          // largest block of a bucket: the sa==sb diagonal has C(sz/g, 2)
          // pairs, a cross block (sz/g)² — the cross term dominates
          (col("sz") / col("g")) * (col("sz") / col("g")))
        .agg(max(col("max_block")).cast("long").as("max_block"),
          max(when(col("sz") > saltCap, col("g")).otherwise(lit(1L))).as("max_salt_groups"))
        .head()
      val row = buckets.agg(
        count(lit(1)).as("buckets"),
        max(col("sz")).as("max_bucket"),
        sum(col("sz") * (col("sz") - lit(1L)) / lit(2L)).as("pairs")).head()
      println(s"""{"metric":"lsh_candidate_volume","rows":$n,"planes":$planes,""" +
        s""""buckets":${row.getLong(0)},"max_bucket":${row.getLong(1)},""" +
        s""""candidate_pairs":${row.getAs[Number]("pairs").longValue()},""" +
        s""""salt_cap":$saltCap,""" +
        s""""max_salt_groups":${blockStats.getAs[Number]("max_salt_groups").longValue()},""" +
        s""""max_block_pairs_post_salt":${blockStats.getAs[Number]("max_block").longValue()}}""")
    } finally spark.stop()
  }
}
