package perfbench

import java.io.File
import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its seed:
  * the same seed gives byte-identical files. */
object Gen {

  // ---- the star-schema tables the declared queries read ----------------

  /** The olap tables are generated from this fixed seed, not the workload
    * seed: the expected digests stored with the benchmark are tied to it. */
  val OlapSeed = 20261017L

  val OlapTableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The olap tables under `cache`, written by the first run that needs
    * them: they depend on OlapSeed only, so every run of a build reads the
    * same bytes. A directory is used only once it is complete. */
  def cachedOlapTables(spark: SparkSession, cache: File): File = {
    val dir = new File(cache, "olap-tables")
    val done = new File(dir, "_COMPLETE")
    if (!done.exists()) {
      deleteTree(dir)
      val tmp = new File(cache, s"olap-tables.tmp${ProcessHandle.current().pid()}")
      deleteTree(tmp)
      olapTables(spark, tmp)
      java.nio.file.Files.createFile(new File(tmp, "_COMPLETE").toPath)
      java.nio.file.Files.move(tmp.toPath, dir.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  /** Writes region, nation, customer, supplier, part, orders, lineitem,
    * events, documents and embeddings as single parquet files named
    * `<table>.parquet` under `dir` (sizes of a 0.01 scale factor). */
  def olapTables(spark: SparkSession, dir: File, seed: Long = OlapSeed): Unit = {
    dir.mkdirs()
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    // each table draws from its own stream, so one table's rows do not
    // depend on the tables written before it
    def table(name: String, n: Int, schema: StructType)(row: (Int, SplittableRandom) => Row): Unit = {
      val rnd = new SplittableRandom(seed * 31 + name.hashCode)
      writeSingle(spark, (0 until n).map(i => row(i, rnd)), schema, new File(dir, s"$name.parquet"))
    }
    def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))
    def money(r: SplittableRandom, lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val L = LongType; val I = IntegerType; val D = DoubleType; val S = StringType
    val TS = TimestampNTZType
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })

    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", 5, st("r_regionkey" -> I, "r_name" -> S))((i, _) => Row(i, regions(i)))
    table("nation", 25, st("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I))(
      (i, _) => Row(i, s"NATION_$i", i % 5))
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    table("customer", 1500, st("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S))((i, r) =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), pick(r, segments)))
    table("supplier", 100, st("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I,
      "s_acctbal" -> D))((i, r) =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))
    val adjs = Vector("blue", "old", "small", "new", "red", "hot", "large", "cold")
    val nouns = Vector("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
    val types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    table("part", 2000, st("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
      "p_size" -> I, "p_retailprice" -> D))((i, r) =>
      Row(i.toLong, s"${pick(r, adjs)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, types), 1 + r.nextInt(50), math.round(9000 + i % 1000) / 10.0))
    val statuses = Vector("F", "O", "P")
    val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table("orders", 15000, st("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
      "o_totalprice" -> D, "o_orderdate" -> TS, "o_orderpriority" -> S))((i, r) =>
      Row(i.toLong, r.nextInt(1500).toLong, pick(r, statuses), money(r, 1000, 500000),
        day0.plusDays(r.nextInt(2404).toLong), pick(r, priorities)))
    val flags = Vector("A", "N", "R")
    val lineStatus = Vector("F", "O")
    table("lineitem", 60000, st("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D, "l_discount" -> D,
      "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> TS))((_, r) =>
      Row(r.nextInt(15000).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
        math.round(r.nextDouble() * 10) / 100.0, math.round(r.nextDouble() * 8) / 100.0,
        pick(r, flags), pick(r, lineStatus), day0.plusDays(1L + r.nextInt(2499))))
    val eventTypes = Vector("click", "error", "purchase", "signup", "view")
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evStepMicros = 30L * 86400L * 1000000L / 10000L
    table("events", 10000, st("event_id" -> L, "ts" -> TS, "user_id" -> L, "event_type" -> S,
      "value" -> D, "props" -> S))((i, r) =>
      Row(i.toLong, ev0.plusNanos((i * evStepMicros + (r.nextDouble() * evStepMicros).toLong) * 1000L),
        r.nextInt(150).toLong, pick(r, eventTypes),
        math.max(0.01, math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0),
        s"""{"k": ${r.nextInt(100)}}"""))
    val vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
      "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
      "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val langs = Vector("en", "en", "en", "zh", "es", "de", "fr")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    table("documents", 500, st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S,
      "n_chars" -> L))((i, r) => {
      // one document in twenty repeats an earlier one with a marker word,
      // so the near-duplicate queries have pairs to find
      val text =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(texts.size)) + " dup"
        else Seq.fill(10 + r.nextInt(70))(pick(r, vocab)).mkString(" ")
      texts += text
      Row(i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
    })
    table("embeddings", 500, st("vec_id" -> L, "embedding" -> ArrayType(FloatType, containsNull = false),
      "label" -> I))((i, r) => {
      val v = Array.fill(64)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    })
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Writes rows as ONE parquet file at `target` (the test-data layout). */
  def writeSingle(spark: SparkSession, rows: Seq[Row], schema: StructType, target: File): Unit = {
    val tmp = new File(target.getPath + ".tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    java.nio.file.Files.move(part.toPath, target.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- the scan_heavy lineitem replica --------------------------------

  /** Columns of the scan table, each a function of one 64-bit hash of
    * (row id, seed). The Spark expressions and [[ScanExpected]] compute the
    * same values, so the generator knows the answers without asking graft. */
  val ScanSuppliers = 10000
  val ScanParts = 200000
  val ScanDays = 730

  /** Keys are shifted by a seed-dependent offset (the "key-shifted replica"). */
  def scanKeyShift(seed: Long): Long = (seed & 0xffff) * 1000000L

  def scanTable(spark: SparkSession, dir: File, seed: Long, rows: Long, partitions: Int): Unit = {
    val shift = scanKeyShift(seed)
    val h = xxhash64(col("id"), lit(seed))
    def bits(shiftBits: Int, mod: Int) = pmod(shiftright(h, shiftBits), lit(mod))
    spark.range(0, rows, 1, partitions)
      .select(
        (bits(16, ScanParts) + shift).as("l_partkey"),
        (bits(0, ScanSuppliers) + shift).as("l_suppkey"),
        (bits(32, 50) + 1).cast("double").as("l_quantity"),
        (bits(40, 100000) + 900).cast("float").as("l_extendedprice"),
        (bits(8, 11) / 100.0).as("l_discount"),
        element_at(array(lit("A"), lit("N"), lit("R")), (bits(20, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (bits(24, 2) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(1577836800L) + bits(44, ScanDays) * 86400L + bits(4, 24) * 3600L)
          .cast("timestamp_ntz").as("l_shipdate"))
      .write.mode("overwrite").option("compression", "uncompressed")
      .parquet(new File(dir, "lineitem.parquet").getPath)
  }

  /** The answers the scan queries must return, computed row by row from
    * the same hash the table was written from. */
  final case class ScanExpected(rows: Long, sumQuantity: Double, sumPrice: Double,
      filteredQuantity: Double, distinctParts: Long)

  def scanExpected(seed: Long, rows: Long, filterFlag: String, minDiscount: Double): ScanExpected = {
    val parts = new java.util.BitSet(ScanParts)
    var sq = 0.0; var sp = 0.0; var fq = 0.0
    val flags = Array("A", "N", "R")
    var id = 0L
    while (id < rows) {
      val h = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
      def bits(s: Int, mod: Int): Int = java.lang.Math.floorMod(h >> s, mod.toLong).toInt
      val q = (bits(32, 50) + 1).toDouble
      sq += q
      sp += (bits(40, 100000) + 900).toFloat.toDouble
      parts.set(bits(16, ScanParts))
      if (flags(bits(20, 3)) == filterFlag && bits(8, 11) / 100.0 >= minDiscount) fq += q
      id += 1
    }
    ScanExpected(rows, sq, sp, fq, parts.cardinality().toLong)
  }

  // ---- the ingest_rollup events ---------------------------------------

  val EventDims = Seq("country", "device", "os", "browser", "channel", "page", "campaign", "segment")
  private val dimCardinality = Seq(60, 4, 8, 12, 20, 400, 150, 10)

  /** Writes `n` JSON events over `hours` hours as `files` time-ordered files,
    * each event a timestamp, eight string dimensions with Zipf-skewed values
    * and four integer metrics. Returns the input bytes and per-hour totals of
    * (events, clicks, bytes, latency_ms). */
  def events(dir: File, seed: Long, n: Int, files: Int, hours: Int): (Long, Map[Long, Array[Long]]) = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    // steep enough that HOUR rollup merges a good share of the events
    val zipfs = dimCardinality.map(c => new Zipf(c, 1.6))
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    val step = hours * 3600.0 / n
    val perHour = scala.collection.mutable.Map[Long, Array[Long]]()
    var bytes = 0L
    val perFile = (n + files - 1) / files
    for (f <- 0 until files) {
      val out = new File(dir, f"events-$f%03d.json")
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(out), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      try for (i <- f * perFile until math.min(n, (f + 1) * perFile)) {
        val ts = t0 + (i * step).toLong
        val clicks = r.nextInt(5).toLong
        val byteCount = 200L + r.nextInt(20000)
        val latency = 1L + r.nextInt(900)
        val dims = EventDims.zip(zipfs).map { case (d, z) => s""""$d":"$d${z.sample(r)}"""" }
        w.write(s"""{"ts":"${java.time.Instant.ofEpochSecond(ts)}",${dims.mkString(",")},""" +
          s""""clicks":$clicks,"bytes":$byteCount,"latency_ms":$latency,"score":${r.nextInt(100)}}""")
        w.write('\n')
        val acc = perHour.getOrElseUpdate(ts / 3600 * 3600, new Array[Long](4))
        acc(0) += 1; acc(1) += clicks; acc(2) += byteCount; acc(3) += latency
      } finally w.close()
      bytes += out.length()
    }
    (bytes, perHour.toMap)
  }

  /** Draws 0..n-1 with probability proportional to 1 / (k + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
