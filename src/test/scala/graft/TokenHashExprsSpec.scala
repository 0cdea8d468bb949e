package graft

import org.apache.spark.sql.functions._
import graft.functions.{SimilarityFunctions => SF, TextFunctions => TF}

/** The r17 row-side simhash/minhash signatures must match the exploded
  * wide-aggregate spellings they replaced bit-for-bit — both families are
  * oracle-pinned. */
class TokenHashExprsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(sf() + "/documents.parquet").select("doc_id", "text")

  test("simhash64Row over tokens == exploded 64-sum-aggregate simhash") {
    // the OLD spelling, verbatim from pre-r17 simhashTable
    val ex = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("id"), explode(TF.tokens(col("text"))).as("__tok"))
      .select(col("id"), TF.hexLong32(col("__tok")).as("hlo"),
        TF.hexLong32Hi(col("__tok")).as("hhi"))
    val voteCols =
      (0 until 32).map(b =>
        sum(shiftright(col("hlo"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b")) ++
      (0 until 32).map(b =>
        sum(shiftright(col("hhi"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"w$b"))
    val votes = ex.groupBy(col("id")).agg(voteCols.head, voteCols.tail: _*)
    val lo = (0 until 32).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val hi62 = (0 until 31).map(b =>
      when(col(s"w$b") > 0, lit(1L << (b + 32))).otherwise(lit(0L))).reduce(_ + _)
    val sign = when(col("w31") > 0, lit(Long.MinValue)).otherwise(lit(0L))
    val old = votes.select(col("id"), (lo + hi62 + sign).as("simhash"))

    val nu = graft.operators.Similarity.simhashTable(docs, "doc_id", "text")
    assert(old.exceptAll(nu).isEmpty && nu.exceptAll(old).isEmpty)
  }

  test("minhashSigRow over shingles == exploded min-aggregate signature") {
    val sigLen = 16
    val exploded = docs
      .select(col("doc_id").as("id"), TF.tokens(col("text")).as("__toks"))
      .select(col("id"), explode(TF.wordShinglesOfTokens(col("__toks"), 5)).as("shingle"))
      .withColumn("h", TF.hexLong32(col("shingle")))
    val minCols = (0 until sigLen).map { i =>
      val (a, b) = SF.minhashCoef(i)
      min((lit(a) * col("h") + lit(b)) % SF.MinHashP).as(s"s$i")
    }
    val old = exploded.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until sigLen).map(i => col(s"s$i")): _*).as("sig"))

    val nu = docs
      .filter(TF.tokenCount(col("text")) >= 5)
      .select(col("doc_id").as("id"), TF.tokens(col("text")).as("__toks"))
      .select(col("id"), TF.wordShinglesOfTokens(col("__toks"), 5).as("__sh"))
      .select(col("id"), SF.minhashSigRow(col("__sh"), sigLen).as("sig"))

    val o = old.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val n = nu.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(o.keySet == n.keySet, s"doc sets differ: ${o.keySet.diff(n.keySet)} / ${n.keySet.diff(o.keySet)}")
    o.foreach { case (k, v) => assert(n(k) == v, s"sig mismatch for $k") }
    assert(o.nonEmpty)
  }

  test("null and short inputs reproduce explode's row-drop semantics") {
    val df = Seq(
      (1L, "one two three four five six"), // >= 5 tokens: has a signature
      (2L, "too short"),                   // < 5 tokens: dropped
      (3L, null.asInstanceOf[String])      // null text: dropped
    ).toDF("doc_id", "text")
    val sims = graft.operators.Similarity.simhashTable(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(sims == Set(1L, 2L)) // simhash drops only null text
    val sigs = df.filter(TF.tokenCount(col("text")) >= 5)
      .select(col("doc_id"), TF.tokens(col("text")).as("t"))
      .select(col("doc_id"), SF.minhashSigRow(TF.wordShinglesOfTokens(col("t"), 5), 4).as("sig"))
      .collect()
    assert(sigs.map(_.getLong(0)).toSet == Set(1L))
    assert(sigs.head.getSeq[Any](1).forall(_ != null))
  }

  test("two simhash64_row and two minhash_sig_row in one projection over " +
      "non-nullable children compile (no interpreted fallback)") {
    // array(...) is non-nullable, so each expression's code lands in the
    // projection's own scope, where fixed local names would collide
    val t = spark.range(50).select(
      array(col("id").cast("string"), lit("x"), (col("id") % 7).cast("string")).as("a"),
      array(lit("y"), (col("id") * 3).cast("string")).as("b"))
    def project() = t.select(SF.simhash64Row(col("a")), SF.simhash64Row(col("b")),
      SF.minhashSigRow(col("a"), 4), SF.minhashSigRow(col("b"), 4)).collect().toSeq
    def withConfs[A](kvs: (String, String)*)(body: => A): A = {
      val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val compiled = withConfs("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(project())
    val interpreted = withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(project())
    assert(compiled.length == 50)
    assert(compiled == interpreted)
  }
}
