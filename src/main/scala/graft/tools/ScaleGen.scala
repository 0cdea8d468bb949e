package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor step-up generator: replicate the driver's sf0.1 tables
  * `factor`× with consistent key shifting, so join fan-outs, group
  * cardinalities, and time-bucket densities grow the way a real 10×/100×
  * corpus would. Used to produce the sf1/sf10 datasets behind SCALE.md's
  * measured scaling curves (round-6 mandate: verify the 100 TB design
  * empirically beyond sf0.1).
  *
  * Shapes preserved per table:
  *  - fact/dim keys shift by replica (orderkey + r*maxOrderkey, ...), so
  *    every join keeps its selectivity and no key collides across replicas;
  *    region/nation stay fixed (real dimensions don't grow with fact data).
  *  - documents: replica texts are word-mutated DETERMINISTICALLY (~20% of
  *    words resampled from the corpus vocabulary by xxhash64) — a verbatim
  *    copy would make every doc a 10-way exact duplicate and quadratically
  *    inflate LSH candidate volume; a small planted fraction (3%) stays
  *    verbatim so the dedup family still finds cross-replica duplicates.
  *  - embeddings: replica vectors get small deterministic per-element
  *    perturbation (keeps cluster structure, avoids 100% exact dups);
  *    3% stay verbatim as planted near-neighbors.
  *
  * Everything is DataFrame-native (crossJoin with a broadcast replica
  * range + hash-based mutation) — no driver loops, runs at any factor.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = args(2).toInt
    val tables = if (args.length > 3) args(3).split(",").toSeq
      else Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")

    val spark = graft.GraftSession.local()

    tables.foreach { t =>
      val df = scaled(spark, src, t, factor)
      // a replicated table must also LOOK like a big table on disk: the
      // crossJoin preserves the source's partition count, so a 10× lineitem
      // would land as one 80 MB single-row-group file that every scan reads
      // on ONE task. Spread output across files so scans parallelize the
      // way they would on a real multi-file corpus.
      val parts = math.min(64, math.max(df.rdd.getNumPartitions, factor))
      df.repartition(parts).write.mode("overwrite").parquet(s"$dest/$t.parquet")
      System.err.println(s"[scalegen] $t -> $dest/$t.parquet ($parts files)")
    }
    spark.stop()
  }

  private def replicas(spark: SparkSession, factor: Int) =
    broadcast(spark.range(factor).toDF("__r"))

  /** Max+1 of a key column — the per-replica shift stride. */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  def scaled(spark: SparkSession, src: String, table: String, factor: Int): DataFrame = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    val df = read(table)
    if (factor <= 1) return df

    def rep(d: DataFrame) = d.crossJoin(replicas(spark, factor))
    def shifted(d: DataFrame, keysAndStrides: (String, Long)*): DataFrame =
      keysAndStrides.foldLeft(rep(d)) { case (acc, (k, s)) =>
        acc.withColumn(k, col(k) + col("__r") * s)
      }.drop("__r")

    table match {
      case "region" | "nation" => df // fixed dimensions
      case "customer" => shifted(df, "c_custkey" -> stride(df, "c_custkey"))
      case "supplier" => shifted(df, "s_suppkey" -> stride(df, "s_suppkey"))
      case "part" => shifted(df, "p_partkey" -> stride(df, "p_partkey"))
      case "orders" =>
        shifted(df,
          "o_orderkey" -> stride(df, "o_orderkey"),
          "o_custkey" -> stride(read("customer"), "c_custkey"))
      case "lineitem" =>
        shifted(df,
          "l_orderkey" -> stride(read("orders"), "o_orderkey"),
          "l_partkey" -> stride(read("part"), "p_partkey"),
          "l_suppkey" -> stride(read("supplier"), "s_suppkey"))
      case "events" =>
        shifted(df,
          "event_id" -> stride(df, "event_id"),
          "user_id" -> stride(df, "user_id"))
      case "documents" => scaledDocuments(spark, df, factor)
      case "embeddings" => scaledEmbeddings(df, factor)
      case other => rep(df).drop("__r")
    }
  }

  /** Documents: replica 0 verbatim; replicas r>0 resample ~20% of words
    * from the corpus vocabulary (deterministic by (doc_id, r, position)),
    * except a planted 3% that stay verbatim cross-replica duplicates. */
  private def scaledDocuments(spark: SparkSession, df: DataFrame, factor: Int): DataFrame = {
    val docStride = stride(df, "doc_id")
    // corpus vocabulary as a literal array (the sf0.1 vocab is tiny)
    val vocab = df.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0).distinct()
      .orderBy("w").collect().map(_.getString(0))
    val vocabCol = typedlit(vocab.toSeq)
    val mutated = df.crossJoin(replicas(spark, factor))
      .withColumn("__verbatim",
        col("__r") === 0 || pmod(xxhash64(col("doc_id"), col("__r")), lit(100)) < 3)
      .withColumn("text",
        when(col("__verbatim"), col("text")).otherwise(
          array_join(
            zip_with(
              split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (w, i) => when(
                pmod(xxhash64(col("doc_id"), col("__r"), i), lit(100)) < 20,
                element_at(vocabCol,
                  (pmod(xxhash64(col("doc_id"), col("__r"), i, lit(7)),
                    lit(vocab.length)) + 1).cast("int"))
              ).otherwise(w)),
            " ")))
      .withColumn("doc_id", col("doc_id") + col("__r") * docStride)
      .withColumn("n_chars", length(col("text")))
      .drop("__r", "__verbatim")
    mutated.select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Embeddings: replicas perturb each component by a deterministic ±2%
    * relative nudge; a planted 3% stay verbatim near-neighbor copies. */
  private def scaledEmbeddings(df: DataFrame, factor: Int): DataFrame = {
    val vecStride = stride(df, "vec_id")
    df.crossJoin(broadcast(df.sparkSession.range(factor).toDF("__r")))
      .withColumn("__verbatim",
        col("__r") === 0 || pmod(xxhash64(col("vec_id"), col("__r")), lit(100)) < 3)
      .withColumn("embedding",
        when(col("__verbatim"), col("embedding")).otherwise(
          zip_with(
            col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (v, i) => (v * (lit(1.0) +
              (pmod(xxhash64(col("vec_id"), col("__r"), i), lit(41)) - lit(20)) / lit(1000.0)
            )).cast("float"))))
      .withColumn("vec_id", col("vec_id") + col("__r") * vecStride)
      .drop("__r", "__verbatim")
      .select("vec_id", "embedding", "label")
  }
}
