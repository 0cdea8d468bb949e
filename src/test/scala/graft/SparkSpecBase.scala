package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per suite, UTC, nanos-as-long
  * (matches the Verify/Bench runtime configuration). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Detach every RollupRewrite rule from the session, keeping the rules
    * GraftSession.configure installed. */
  def clearRollupRules(): Unit =
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
      .filterNot(_.isInstanceOf[graft.plans.RollupRewrite.RewriteRule])
}

object SparkSpecBase {
  // UTC + hash-agg fallback threshold come from the engine's own session
  // defaults — the suites run the same path an embedder gets
  lazy val session: SparkSession = graft.GraftSession.local(4)
}
