package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._

/** The `movingAverage` query type (reference: extensions-contrib/
  * moving-average-query — MovingAverageQuery.java, MovingAverageQueryRunner
  * .java, the averagers package; docs/development/extensions-contrib/
  * moving-average-query.md): window-function averagers over the buckets of
  * an inner groupBy/timeseries.
  *
  * Reference algorithm (MovingAverageQueryRunner.java:85-200):
  *  1. extend the interval start back by (maxBuckets - 1) periods (:95-101);
  *  2. run the inner groupBy (timeseries when no dimensions) at the period
  *     granularity over the extended interval;
  *  3. bucket rows per period PER DIMENSION COMBINATION, filling missing
  *     buckets with empty rows (MovingAverageIterable: averager.skip());
  *  4. compute each averager over its trailing `buckets` window, stepping
  *     by `cycleSize` (BaseAverager.computeResult — e.g. buckets=28,
  *     cycleSize=7 averages positions 0,7,14,21: the day-of-week case);
  *  5. trim the output back to the requested interval.
  *
  * Spark-first compilation: the inner query reuses the whole native groupBy
  * machinery verbatim (a callback into NativeQuery.run). The bucket spine is
  * built ONCE on the driver (interval/period buckets — output-sized, like
  * the reference's broker-side RowBucketIterable), cross-joined with the
  * aggregated result's DISTINCT dimension combinations (also output-sized),
  * and each averager becomes a native window aggregate over
  * `rowsBetween(-(ceil(buckets/cycleSize)-1), 0)` partitioned by
  * (dims, bucketIndex % cycleSize) — the cycle stepping falls out of the
  * partitioning, no per-row ring buffer. Nothing here scales with the
  * FACT table: the fact scan is the inner groupBy's, windows run over
  * already-aggregated bucket rows.
  *
  * Null semantics per averager (the averagers package): mean counts every
  * window position in the denominator and adds 0 for an empty bucket;
  * meanNoNulls drops empty buckets from both sides; sum adds 0; max/min
  * skip empty buckets. Deviation (documented): a window whose cycle
  * positions are ALL empty yields SQL NULL here, where the reference's
  * max/min would return +/-Infinity sentinels when some OTHER bucket of
  * the window has data (BaseAverager.hasData looks at all buckets, the
  * loop only at cycle positions) — the sentinel leak is reported upstream
  * as surprising behavior and NULL is this engine's empty-window value.
  *
  * Like the reference (:96-104), only period granularities are supported,
  * and this port additionally requires the default UTC zone (the driver
  * steps the spine on the UTC calendar, DruidTime.plus).
  */
object MovingAverageQuery {

  import NativeQuery.{arr, intOpt, str, strOpt}

  /** A movingAverage granularity: period granularities only
    * (MovingAverageQueryRunner.java:96-104), origin kept, in the default UTC
    * zone. */
  private def granularityOf(j: JValue): PeriodGranularity = DruidTime.granularity(j) match {
    case g @ PeriodGranularity(_, _, tz) =>
      Option(tz).filterNot(z => z == "UTC" || z == "Etc/UTC").foreach { z =>
        throw new UnsupportedOperationException(
          s"movingAverage supports the default UTC zone only (got timeZone [$z])")
      }
      g
    case _ => throw new IllegalArgumentException(
      s"Only PeriodGranularity is supported for movingAverage queries (got $j)")
  }

  private final case class Averager(tpe: String, name: String,
      fieldName: String, buckets: Int, cycleSize: Int, retval: Float)

  /** Execute a parsed movingAverage query. `runInner` runs a parsed native
    * query through the full NativeQuery machinery. */
  def run(spark: SparkSession, q: JValue,
      runInner: JValue => DataFrame): DataFrame = {
    val timeCol = strOpt(q \ "timeColumn").getOrElse("__time")
    val granularity = granularityOf(q \ "granularity")
    val period = granularity.period

    val averagers = arr(q \ "averagers").map { a =>
      val tpe = str(a \ "type")
      Averager(tpe, str(a \ "name"),
        if (tpe == "constant") "" else str(a \ "fieldName"),
        intOpt(a \ "buckets").getOrElse(
          if (tpe == "constant") 1
          else throw new IllegalArgumentException("averager needs buckets")),
        intOpt(a \ "cycleSize").getOrElse(1),
        (a \ "retval") match {
          case JDouble(d) => d.toFloat; case JInt(n) => n.toFloat
          case JLong(n) => n.toFloat; case _ => 0f
        })
    }
    require(averagers.nonEmpty, "movingAverage requires averagers")
    averagers.foreach(a => require(a.buckets > 0 && a.cycleSize > 0,
      s"averager ${a.name}: buckets and cycleSize must be > 0"))
    // the largest averager window decides the lookback extension
    // (MovingAverageQueryRunner.java:91-101)
    val maxBuckets = averagers.map(_.buckets).max

    // Every interval gets the lookback extension (MovingAverageQueryRunner
    // .java:96-104: intervals.stream().map(start - (buckets-1) periods));
    // the inner groupBy runs ONCE over ALL extended intervals and the bucket
    // sequence concatenates across intervals (RowBucketIterable.java:105-110
    // jumps expectedBucket to the next interval's start WITHOUT resetting
    // the averagers — window state carries over the seam, reproduced here
    // by the single global bucket index). Documented deviation: when an
    // interval's lookback overlaps an earlier interval, the reference's
    // consume-once row iterator leaves those lookback buckets empty; this
    // port joins rows into every spine bucket by timestamp, so overlapped
    // lookback buckets see the real data.
    val intervals = DruidTime.intervals(q \ "intervals")
    require(intervals.nonEmpty, "movingAverage requires intervals")
    val extended = intervals.map(i =>
      i.copy(startMs = DruidTime.plus(i.startMs, period, 1 - maxBuckets)))

    // inner groupBy over the extended intervals: averager/limit/having
    // machinery stripped, everything else (dims/filter/aggs/postAggs/
    // virtualColumns/context) passes through verbatim
    val innerFields = q.asInstanceOf[JObject].obj.filterNot { case (k, _) =>
      Set("queryType", "averagers", "postAveragers", "limitSpec", "having",
        "intervals").contains(k)
    }
    val inner = JObject(innerFields ++ List(
      "queryType" -> JString("groupBy"),
      "intervals" -> JArray(extended.map(i => JString(i.iso)).toList)))
    val innerDf0 = runInner(inner)
    val dimNames = arr(q \ "dimensions").map {
      case JString(d) => d
      case o => strOpt(o \ "outputName").getOrElse(str(o \ "dimension"))
    }
    // with dimensions the inner result feeds TWO consumers (the dim-combo
    // distinct and the spine join) — materialize the output-sized
    // aggregate ONCE so the fact scan + partial aggregation don't run per
    // consumer (at 100 TB that is the dominant stage, twice)
    val innerDf =
      if (dimNames.isEmpty) innerDf0 else innerDf0.localCheckpoint(true)

    // the bucket spine: floor each extended start to the granularity's
    // bucket, origin included — the inner groupBy's own bucketing (one
    // driver-side evaluation for all intervals) — then step on the driver:
    // Σ interval/period entries, output-sized, indices running ACROSS
    // intervals
    val tsType = innerDf.schema(timeCol).dataType
    val flooredStarts = spark.range(1)
      .select(extended.map(i => granularity.bucket(lit(i.start))): _*)
      .head().toSeq.map(_.asInstanceOf[java.time.LocalDateTime]
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    // guard the driver-side spine: interval/period buckets. A mis-sized
    // query (years of PT1S buckets) must fail loudly, not OOM the driver —
    // the same class of guard as maxSubqueryRows (the window input is one
    // row per bucket per dim combo either way, so a spine this large means
    // the QUERY is wrong, not the engine). IllegalArgumentException so the
    // facade maps it to a 400-class bad-query error like the other
    // validation guards.
    val MaxSpineBuckets = 1000000
    val spineTimes: Seq[Long] =
      flooredStarts.zip(extended).iterator.flatMap { case (floored, i) =>
        Iterator.iterate(floored)(t => DruidTime.plus(t, period, 1))
          .takeWhile(_ < i.endMs)
      }.take(MaxSpineBuckets + 1).toSeq
    if (spineTimes.size > MaxSpineBuckets)
      throw new IllegalArgumentException(
        s"movingAverage spine exceeds $MaxSpineBuckets buckets " +
          s"(${intervals.size} interval(s) at period $period); coarsen the granularity")
    import spark.implicits._
    val spine = spineTimes.zipWithIndex
      .map { case (t, i) => (DruidTime.wallClock(t), i.toLong) }
      .toDF("__spine_ts", "__bucket_idx")
      .select(col("__spine_ts").cast(tsType).as("__k_ts"), col("__bucket_idx"))

    // distinct dim combinations over the ALREADY-AGGREGATED rows
    // (output-sized, the reference enumerates the same combinations on the
    // broker — MovingAverageIterable.java:52-90). Key columns renamed so
    // the spine-to-result join below can be an explicit NULL-SAFE condition
    // (<=> per dim): a null dimension value is a normal groupBy output and
    // must re-match its aggregated rows.
    val full =
      if (dimNames.isEmpty) spine
      else innerDf
        .select(dimNames.map(d => col(d).as(s"__k_$d")): _*).distinct()
        .crossJoin(spine)
    // the right side aliases to a fresh relation name: `full` derives from
    // innerDf, so this is a self-join — qualified references keep the
    // resolution unambiguous
    val rhs = innerDf.alias("__ma_r")
    val joinCond = dimNames
      .map(d => col(s"__k_$d") <=> col(s"__ma_r.`$d`"))
      .foldLeft(col("__k_ts") === col(s"__ma_r.`$timeCol`"))(_ && _)
    val joined = dimNames.foldLeft(
      full.join(rhs, joinCond, "left").drop(col(s"__ma_r.`$timeCol`"))) {
      (df, d) => df.drop(col(s"__ma_r.`$d`"))
    }
    val spined = dimNames.foldLeft(joined.withColumnRenamed("__k_ts", timeCol)) {
      (df, d) => df.withColumnRenamed(s"__k_$d", d)
    }

    val averagerCols: Seq[Column] = averagers.map { a =>
      val k = (a.buckets + a.cycleSize - 1) / a.cycleSize // cycle positions
      val w = Window
        .partitionBy((dimNames.map(col) :+ pmod(col("__bucket_idx"), lit(a.cycleSize))): _*)
        .orderBy(col("__bucket_idx"))
        .rowsBetween(-(k - 1), 0)
      val f = col(a.fieldName)
      val expr = a.tpe match {
        case "doubleMean" =>
          sum(coalesce(f.cast("double"), lit(0.0))).over(w) / lit(k.toDouble)
        case "doubleMeanNoNulls" =>
          when(count(f).over(w) > 0,
            sum(f.cast("double")).over(w) / count(f).over(w).cast("double"))
        case "doubleSum" => sum(coalesce(f.cast("double"), lit(0.0))).over(w)
        case "doubleMax" => max(f.cast("double")).over(w)
        case "doubleMin" => min(f.cast("double")).over(w)
        case "longMean" =>
          sum(coalesce(f.cast("long"), lit(0L))).over(w).cast("double") / lit(k.toDouble)
        case "longMeanNoNulls" =>
          when(count(f).over(w) > 0,
            sum(f.cast("long")).over(w).cast("double") / count(f).over(w).cast("double"))
        case "longSum" => sum(coalesce(f.cast("long"), lit(0L))).over(w)
        case "longMax" => max(f.cast("long")).over(w)
        case "longMin" => min(f.cast("long")).over(w)
        case "constant" => lit(a.retval)
        case other => throw new UnsupportedOperationException(
          s"unknown averager type [$other]")
      }
      expr.as(a.name)
    }

    // result column order: bucket timestamp first (the groupBy ResultRow
    // convention), then dims, then aggregates, then averagers
    val restCols = spined.columns
      .filterNot(c => c == "__bucket_idx" || c == timeCol || dimNames.contains(c))
    val withAveragers = spined.select(
      ((timeCol +: dimNames) ++ restCols).map(col) ++ averagerCols: _*)

    // trim the lookback rows back out: keep rows whose timestamp falls in
    // ANY reporting interval (MovingAverageQueryRunner.java:211-218 —
    // reportingIntervals.stream().anyMatch(contains))
    val trimmed = withAveragers.where(intervals.map(_.containsTime(col(timeCol))).reduce(_ || _))

    // postAveragers: postAggregation syntax over aggs + averagers
    // (PostAveragerAggregatorCalculator.java) — the arithmetic subset
    val withPost = arr(q \ "postAveragers").foldLeft(trimmed) { (df, pa) =>
      df.withColumn(str(pa \ "name"), postAverager(pa, df))
    }

    // having filters the final rows AFTER averagers/postAveragers, before
    // sorting and limit (MovingAverageQuery.java:152-156 wraps the sequence
    // in a havingSpec filter; the runner applies post phases in that order)
    val withHaving = (q \ "having") match {
      case JNothing | JNull => withPost
      case h => withPost.where(havingPredicate(h))
    }

    // default result order: time-major, then dimensions ascending (the
    // groupBy merge order); explicit limitSpec columns override
    val ls = q \ "limitSpec"
    val explicit = arr(ls \ "columns").map {
      case JString(c) => col(c).asc
      case o =>
        val c = col(str(o \ "dimension"))
        // Direction.fromString accepts abbreviations ("DESC" in the
        // reference's own movingAverage yaml corpus)
        if (strOpt(o \ "direction").exists(d =>
            "descending".startsWith(d.toLowerCase(java.util.Locale.ENGLISH)))) c.desc
        else c.asc
    }
    val ordered = withHaving.orderBy(
      (if (explicit.nonEmpty) explicit
       else col(timeCol).asc +: dimNames.map(col(_).asc)): _*)
    intOpt(ls \ "limit").map(ordered.limit).getOrElse(ordered)
  }

  /** HavingSpec over the final rows (the groupBy having vocabulary —
    * processing/.../groupby/having: greaterThan/lessThan/equalTo compare
    * the named metric numerically, dimSelector matches a dimension value,
    * and/or/not compose, always/never are constants). */
  private def havingPredicate(j: JValue): Column = str(j \ "type") match {
    case "greaterThan" =>
      col(str(j \ "aggregation")).cast("double") > havingValue(j)
    case "lessThan" =>
      col(str(j \ "aggregation")).cast("double") < havingValue(j)
    case "equalTo" =>
      col(str(j \ "aggregation")).cast("double") === havingValue(j)
    case "dimSelector" =>
      col(str(j \ "dimension")) <=> ((j \ "value") match {
        case JString(s) => lit(s); case JNull | JNothing => lit(null)
        case v => lit(v.values.toString)
      })
    case "and" => arr(j \ "havingSpecs").map(havingPredicate).reduce(_ && _)
    case "or" => arr(j \ "havingSpecs").map(havingPredicate).reduce(_ || _)
    case "not" => !havingPredicate(j \ "havingSpec")
    case "always" => lit(true)
    case "never" => lit(false)
    case t => throw new UnsupportedOperationException(s"having type [$t]")
  }
  private def havingValue(j: JValue): Column = (j \ "value") match {
    case JInt(n) => lit(n.toDouble); case JLong(n) => lit(n.toDouble)
    case JDouble(d) => lit(d)
    case x => throw new IllegalArgumentException(s"having value: $x")
  }

  /** postAverager subset: arithmetic / fieldAccess / finalizingFieldAccess /
    * constant (the inputs are already-final bucket rows). */
  private def postAverager(j: JValue, df: DataFrame): Column =
    str(j \ "type") match {
      case "fieldAccess" | "finalizingFieldAccess" => col(str(j \ "fieldName"))
      case "constant" => (j \ "value") match {
        case JInt(n) => lit(n.toLong); case JLong(n) => lit(n)
        case JDouble(d) => lit(d)
        case x => throw new IllegalArgumentException(s"constant: $x")
      }
      case "arithmetic" =>
        val fields = arr(j \ "fields").map(postAverager(_, df))
        val op: (Column, Column) => Column = str(j \ "fn") match {
          case "+" => _ + _
          case "-" => _ - _
          case "*" => _ * _
          case "/" => (a, b) => when(b =!= 0, a.cast("double") / b).otherwise(lit(0.0))
          case "quotient" => (a, b) => a.cast("double") / b
          case f => throw new IllegalArgumentException(s"arithmetic fn: $f")
        }
        fields.reduce(op)
      case t => throw new UnsupportedOperationException(s"postAverager type [$t]")
    }
}
