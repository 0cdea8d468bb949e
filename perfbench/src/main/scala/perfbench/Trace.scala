package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, LeafExecNode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call across a layer boundary. `op` names the operation (query,
  * request or ingest step) the span belongs to; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Total length of the union of the given intervals. */
  def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (children clipped to the parent, overlaps counted
    * once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - coveredNs(kids))
    }.toMap
  }
}

/** Records spans around calls the benchmark makes into graft. With tracing
  * off every call runs the body and nothing else. Spans stay in memory until
  * the run ends. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](layer: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, layer, start, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Adds a span measured elsewhere (a Spark job), under a fresh id. */
  def add(s: Span): Unit = spans.add(s.copy(id = ids.getAndIncrement()))

  def all: Seq[Span] = spans.asScala.toVector

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark-side counters, gathered from outside graft through listeners. Only
  * installed in a traced run. Job times are wall-clock milliseconds, as
  * Spark reports them. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe.Job

  private val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long)]
  private val jobs = new ConcurrentLinkedQueue[Job]
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskRunMs = new LongAdder
  val taskCpuNs = new LongAdder
  val gcMs = new LongAdder
  val recordsRead = new LongAdder
  val bytesRead = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  private val events = new AtomicLong(0)

  /** Counters only move while this is set; the job map always tracks
    * running jobs so that quiesce can wait for them. */
  @volatile var recording = false

  // Catalyst phases and codegen coverage of every query execution that
  // completes, the facade's included
  val analysisMs = new LongAdder
  val optimizationMs = new LongAdder
  val planningMs = new LongAdder
  val interpretedOps = new LongAdder

  // structured streaming progress
  val streamBatches = new LongAdder
  val streamBatchMs = new LongAdder
  val streamStateRows = new AtomicLong(0)
  val streamRowsPerSec = new DoubleAdder

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      started.put(e.jobId, (
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(SparkProbe.LayerKey))).getOrElse(""),
        e.time))
      events.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(started.remove(e.jobId)).foreach { case (g, l, s) =>
        if (recording) jobs.add(Job(e.jobId, g, l, s, e.time))
      }
      events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      if (recording) stages.increment()
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (recording) tasks.increment()
      Option(e.taskMetrics).filter(_ => recording).foreach { m =>
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        recordsRead.add(m.inputMetrics.recordsRead)
        bytesRead.add(m.inputMetrics.bytesRead)
        shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      events.incrementAndGet()
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (recording) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        analysisMs.add(ms("analysis"))
        optimizationMs.add(ms("optimization"))
        planningMs.add(ms("planning"))
        interpretedOps.add(SparkProbe.interpretedOps(qe.executedPlan))
      }
      events.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (recording && p.numInputRows > 0) {
        streamBatches.increment()
        streamBatchMs.add(Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
        streamRowsPerSec.add(p.processedRowsPerSecond)
      }
      if (recording) streamStateRows.set(p.stateOperators.map(_.numRowsTotal).sum)
      events.incrementAndGet()
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Waits until every started job has ended and the listener events have
    * stopped arriving, so the counters are complete. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 15L * 1000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (last != events.get() || !started.isEmpty)) {
      last = events.get()
      Thread.sleep(150)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def completedJobs: Seq[Job] = jobs.asScala.toVector
}

object SparkProbe {
  final case class Job(id: Int, group: String, layer: String, startMs: Long, endMs: Long)

  /** Local property naming the benchmark layer a job was submitted from. */
  val LayerKey = "perfbench.layer"

  /** Physical operators that run outside whole-stage codegen, not counting
    * exchanges, query stages, scans and the codegen stages' own adapters. */
  def interpretedOps(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => interpretedOps(a.executedPlan)
    case s: QueryStageExec => interpretedOps(s.plan)
    case w: WholeStageCodegenExec =>
      w.collect { case i: InputAdapter => i.child }.map(interpretedOps).sum
    case _: Exchange | _: LeafExecNode => plan.children.map(interpretedOps).sum
    case _ if structural(plan) => plan.children.map(interpretedOps).sum
    case _ => 1L + plan.children.map(interpretedOps).sum
  }

  private def structural(p: SparkPlan): Boolean = {
    val n = p.nodeName
    n.startsWith("ColumnarToRow") || n.startsWith("RowToColumnar") ||
      n.startsWith("AQEShuffleRead") || n.startsWith("ReusedExchange") ||
      n.startsWith("InputAdapter")
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** An object from keys and already-rendered JSON values. */
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
