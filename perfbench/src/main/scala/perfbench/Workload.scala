package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One measured window: the wall times of the untraced passes it completed,
  * and its length. */
final case class Measured(passes: Seq[Double], windowS: Double)

/** Everything a workload needs while it runs. `work` is this run's own
  * directory; `cache` holds inputs that do not depend on the seed, kept
  * between runs of the same build. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer, val work: File,
    val cache: File) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val outcomes = new Outcomes

  /** Runs `body` as one call into `layer`, tagging the Spark jobs it submits
    * with that layer and recording a span when tracing is on. */
  def layer[A](layer: String, op: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkProbe.LayerKey)
    sc.setLocalProperty(SparkProbe.LayerKey, layer)
    try tracer.span(layer, op)(body)
    finally sc.setLocalProperty(SparkProbe.LayerKey, prev)
  }

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** Per-operation results. A failed operation (a throw, a non-200 response,
  * a wrong answer) is counted and named, and never becomes a latency
  * sample. */
final class Outcomes {
  private val samples = ArrayBuffer[(String, String, Double)]()
  private val failures = ArrayBuffer[(String, String)]()
  private var attemptedN = 0L

  def ok(kind: String, op: String, ms: Double): Unit = synchronized { attemptedN += 1; samples += ((kind, op, ms)) }
  def fail(op: String, reason: String): Unit = synchronized {
    attemptedN += 1
    failures += op -> reason
    System.err.println(s"[perfbench] FAILED $op: $reason")
  }

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failures.size.toLong)
  def failedOps: Seq[(String, String)] = synchronized(failures.toVector)
  def latencies(kind: String): Seq[Double] = synchronized(samples.collect { case (`kind`, _, ms) => ms }.toVector)
  def byOp: Seq[(String, Double)] = synchronized(samples.map { case (_, op, ms) => op -> ms }.toVector)
}

trait Workload {
  def name: String

  /** Benchmark-side work that is not set-up of the system under test, such
    * as computing the answers the generated inputs must produce. Untimed,
    * run once. */
  def prepare(ctx: Ctx): AnyRef = null

  /** Prepares inputs in `dir` and returns the state the measurement needs.
    * Timed, and run several times per run; the last result is measured. */
  def setup(ctx: Ctx, prepared: AnyRef, dir: File): AnyRef

  /** Runs the workload's operations once on small inputs of the same shape,
    * after the setups and outside every metric, so the measured passes
    * start with the code paths they use compiled. It must not fail. */
  def warmUp(ctx: Ctx, state: AnyRef): Unit = ()

  /** A context whose outcomes and spans are discarded, for warm-up work. */
  protected def scratch(ctx: Ctx): Ctx = new Ctx(ctx.spark, ctx.seed, new Tracer(false), ctx.work, ctx.cache)

  protected def requireClean(c: Ctx): Unit =
    require(c.outcomes.failed == 0, s"warm-up failed: ${c.outcomes.failedOps.mkString("; ")}")

  /** Runs one fixed pass of the workload over the prepared state. */
  def pass(ctx: Ctx, state: AnyRef, index: Int): Unit

  /** The latency kind whose samples make op p50/p90 and ops/s. */
  def primaryKind: String = "op"

  /** Workload-specific figures, computed after the window. */
  def notes(ctx: Ctx, state: AnyRef, m: Measured): Seq[(String, Double, String)] = Nil

  /** Per-layer figures only this workload can observe, per traced pass. */
  def layerFigures(ctx: Ctx, state: AnyRef, tracedPasses: Int,
      jobs: Seq[SparkProbe.Job]): Map[String, Double] = Map.empty

  def teardown(ctx: Ctx, state: AnyRef): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(OlapSuite, HttpDashboard, ScanHeavy, IngestRollup)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
