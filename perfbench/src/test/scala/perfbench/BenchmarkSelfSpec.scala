package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own machinery: span arithmetic, layer
  * spans against wall time, failure counting, and seeded inputs. */
class BenchmarkSelfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = {
    val d = new File(s"target/selfspec-${System.nanoTime()}").getAbsoluteFile
    d.mkdirs()
    d
  }
  private lazy val spark: SparkSession = Session.build(work)
  private lazy val olapDir = { val d = new File(work, "olap"); Gen.olapTables(spark, d); d }

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(work)
  }

  private def span(id: Long, parent: Long, s: Long, e: Long) = Span(id, parent, "q", "x", s, e)

  test("self time subtracts the union of children, clipped to the parent") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 40), span(3, 1, 30, 50), // overlap 30..40 counts once
      span(4, 1, 90, 130), // clipped to 90..100
      span(5, 2, 15, 20)) // a grandchild does not reduce the root again
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 30 - 5)
    assert(self(3) == 20 && self(4) == 40 && self(5) == 5)
    assert(Span.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
  }

  private def ctx(traced: Boolean) = new Ctx(spark, 1L, new Tracer(traced), work, new File(work, "cache"))

  private val lineitemCount: (SparkSession, String) => DataFrame =
    (s, dir) => graft.operators.TimeseriesQuery(timeColumn = "l_shipdate",
      granularity = graft.operators.PeriodGranularity("P1M"),
      aggregations = Seq(graft.operators.Agg("n", count(lit(1)))))
      .run(graft.sources.Sources.table(s, dir, "lineitem"))

  test("a traced query's operators, catalyst and exec spans add up to its wall time") {
    val c = ctx(traced = true)
    val rows = lineitemCount(spark, olapDir.getPath).count()
    val expected = OlapSuite.Expected(rows, None, 0, "rows")
    (1 to 3).foreach(i => OlapSuite.runQuery(c, olapDir, lineitemCount, expected, s"q$i"))
    assert(c.outcomes.failed == 0)
    val spans = c.tracer.all
    spans.filter(_.layer == "query").foreach { q =>
      val parts = spans.filter(s => s.parent == q.id).map(_.layer).sorted
      assert(parts == Seq("catalyst", "exec", "operators"))
      val covered = spans.filter(_.parent == q.id).map(_.durNs).sum
      // what the three layers leave uncovered is the benchmark's own glue:
      // within 2 ms or 5% of the query's wall time
      val gap = q.durNs - covered
      assert(gap >= 0 && gap <= math.max(2000000L, q.durNs / 20), s"uncovered ${gap / 1e6} ms of ${q.durNs / 1e6} ms")
    }
  }

  test("a throwing query and a wrong answer count as failed, never as latency samples") {
    val c = ctx(traced = false)
    val right = OlapSuite.Expected(lineitemCount(spark, olapDir.getPath).count(), None, 0, "rows")
    val throwing: (SparkSession, String) => DataFrame = (_, _) => throw new IllegalStateException("injected")
    OlapSuite.runQuery(c, olapDir, throwing, right, "throws")
    OlapSuite.runQuery(c, olapDir, lineitemCount, right.copy(rows = right.rows + 1), "wrong-rows")
    val digest = OlapSuite.Expected(right.rows, Some("0000000000000000"), 0, "digest")
    OlapSuite.runQuery(c, olapDir, lineitemCount, digest, "wrong-digest")
    OlapSuite.runQuery(c, olapDir, lineitemCount, right, "fine")
    assert(c.outcomes.attempted == 4)
    assert(c.outcomes.failed == 3)
    assert(c.outcomes.failedOps.map(_._1) == Seq("throws", "wrong-rows", "wrong-digest"))
    assert(c.outcomes.latencies("op").size == 1)
  }

  private def bytesUnder(dir: File): Seq[(String, Seq[Byte])] = {
    // Spark names part files with a per-write id; the part number orders them
    def key(f: File) = f.getName.replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}", "")
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).filterNot(_.getName.startsWith("."))
      .map(f => key(f) -> Files.readAllBytes(f.toPath).toSeq).sortBy(_._1)
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    def events(seed: Long, name: String) = {
      val d = new File(work, name); Gen.events(d, seed, 3000, 3, 6); bytesUnder(d)
    }
    assert(events(7, "e1") == events(7, "e2"))
    assert(events(7, "e1") != events(8, "e3"))

    // parquet files are compared within one process: parquet-mr lists a
    // column chunk's encodings from a hash set whose order can differ
    // between JVMs, so only the footer's encoding list may move
    val t2 = new File(work, "olap2"); Gen.olapTables(spark, t2)
    assert(bytesUnder(olapDir) == bytesUnder(t2))

    def scan(seed: Long, name: String) = {
      val d = new File(work, name); Gen.scanTable(spark, d, seed, 20000, 2)
      bytesUnder(new File(d, "lineitem.parquet"))
    }
    assert(scan(3, "s1") == scan(3, "s2"))
    assert(scan(3, "s1") != scan(4, "s3"))

    assert(HttpDashboard.requests(5, 0) == HttpDashboard.requests(5, 0))
    assert(HttpDashboard.requests(5, 0) != HttpDashboard.requests(6, 0))
  }

  test("the scan generator's answers match what Spark computes over its table") {
    val d = new File(work, "scan-check")
    Gen.scanTable(spark, d, 11, 50000, 2)
    val e = Gen.scanExpected(11, 50000, "N", 0.04)
    val t = spark.read.parquet(new File(d, "lineitem.parquet").getPath)
    val r = t.agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"), countDistinct("l_partkey")).head()
    assert(r.getLong(0) == e.rows && r.getDouble(1) == e.sumQuantity && r.getDouble(2) == e.sumPrice)
    assert(r.getLong(3) == e.distinctParts)
    val f = t.filter(col("l_returnflag") === "N" && col("l_discount") >= 0.04).agg(sum("l_quantity")).head()
    assert(f.getDouble(0) == e.filteredQuantity)
  }
}
