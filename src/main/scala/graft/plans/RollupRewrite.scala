package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import graft.operators.{DurationGranularity, Granularity, PeriodGranularity}
import graft.functions.TimeFunctions

/** Rollup-aware aggregate rewrite — the one genuinely custom optimizer piece
  * (SURVEY §4.1): Druid ingests with rollup=true so queries aggregate
  * pre-aggregated rows "for free"; here the same effect is an optimizer
  * `Rule[LogicalPlan]` that redirects eligible aggregates from the raw table
  * to a registered rollup table.
  *
  * Eligibility: the aggregate reads the registered base table directly (no
  * intervening filter/project that the rollup can't answer), groups only by
  * rollup dimensions — or by a COARSER date_trunc of the declared time
  * bucket (re-bucketing pre-aggregated rows, the core rollup win;
  * GroupByStrategyV2 does this as a matter of course) — and every aggregate
  * is derivable from rollup metrics:
  *   count(*)                    → sum(countMetric)
  *   sum(x)                      → sum(sum_x)
  *   min(x) / max(x)             → min(min_x) / max(max_x)
  *   EARLIEST/LATEST(x, t)       → refold of the stored (t, v) pair column
  *                                 (the reference's first/last rollup pair,
  *                                 SerializablePairLongString.java)
  *   approx_count_distinct(x)    → hll_sketch_estimate(hll_union_agg(sk_x))
  *                                 over a stored hll_sketch_agg column
  *
  * The rewrite preserves the original output attribute ids (a Project of
  * aliases pinned to the old exprIds), so parent operators are untouched.
  *
  * At 100 TB this is the difference between scanning the raw corpus and
  * scanning a table that is orders of magnitude smaller; it composes with
  * time-partition pruning on the rollup's truncated time column.
  */
object RollupRewrite {

  /** metric name on the base table → list of (op, rollup column) — one base
    * column can back several rollup metrics (a theta sketch AND a sum, say).
    * op ∈ sum | min | max | first | last | hll | theta | kll | tuple:<cols>:
    *   - sum/min/max: rollup column holds the partial aggregate
    *   - first/last: rollup column holds the (t, v) struct pair built by
    *     FirstLast.firstPair/lastPair
    *   - hll: rollup column holds a DataSketches HLL binary built by
    *     hll_sketch_agg(x)
    *   - theta: rollup column holds a serialized theta sketch built by
    *     SketchFunctions.thetaSketch(x); query-side ThetaSketchAgg refolds
    *     via ThetaUnionAgg (the reference's SketchMergeAggregatorFactory —
    *     getCombiningFactory over a COMPLEX metric column)
    *   - kll: rollup column holds a serialized KLL doubles sketch
    *     (kllSketch(x)); KllDoublesAgg refolds via KllMergeAgg
    *     (DoublesSketchMergeAggregatorFactory)
    *   - "tuple:v1,v2": rollup column holds an ArrayOfDoubles tuple sketch
    *     keyed on the base column with value columns v1,v2 — a query's
    *     TupleSketchAgg refolds via TupleUnionAgg only when its value
    *     expressions spell the SAME signature
    *     (ArrayOfDoublesSketchMergeAggregatorFactory)
    * countColumn: rollup column holding the per-group row count.
    *
    * CONTRACT: `dimensions` must be VALUE-IDENTICAL between base and rollup
    * (grouping passes them through unchanged) — filters on them re-apply
    * verbatim. The rollup's TRUNCATED time column must NOT be listed there:
    * its values differ from the base's raw time (a misaligned range filter
    * re-applied over truncated values silently changes results — e.g.
    * `time >= 00:30` excludes the whole 00:00 bucket). Declare it via
    * `timeColumn` + `granularity` instead; filters on it then rewrite only
    * when every endpoint is verifiably bucket-aligned, and GROUP BY
    * date_trunc over it rewrites only when the unit is an exact multiple of
    * the stored granularity. */
  final case class RollupDef(
      basePath: String,
      rollup: DataFrame,
      dimensions: Set[String],
      metricMap: Map[String, Seq[(String, String)]],
      countColumn: String,
      timeColumn: Option[String] = None,
      granularity: Option[Granularity] = None)

  /** Session-level registry (Druid: the coordinator knows which datasources
    * are rollup-materialized). */
  final class Catalog {
    private val defs = scala.collection.mutable.ArrayBuffer.empty[RollupDef]
    def register(d: RollupDef): Unit = defs synchronized { defs += d }
    /** Replace any def for the same (basePath, granularity) — streamed
      * rollups re-snapshot their parquet DataFrame per micro-batch commit
      * (StreamingIngest.handoffToCatalog). */
    def replace(d: RollupDef): Unit = defs synchronized {
      defs.filterInPlace(x =>
        !(x.basePath == d.basePath && x.granularity == d.granularity))
      defs += d
    }
    def all: Seq[RollupDef] = defs synchronized { defs.toList }
    /** Drop every def materializing `basePath`; returns how many were
      * removed (HTTP admin DELETE). */
    def unregister(basePath: String): Int = defs synchronized {
      val n = defs.count(_.basePath == basePath)
      defs.filterInPlace(_.basePath != basePath)
      n
    }
  }

  final class RewriteRule(val catalog: Catalog) extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(_, _, child, _) =>
        val candidates = catalog.all.flatMap { rd =>
          unwrap(child, rd).collect {
            case (filters, subs)
                if rewritable(agg.groupingExpressions.map(substitute(_, subs)),
                  agg.aggregateExpressions.map(substitute(_, subs)), rd) =>
              (rd, filters, subs)
          }
        }
        if (candidates.isEmpty) agg
        else {
          // materialized-view SELECTION: several rollups of one base may be
          // registered (P1D and P1M, say); among the eligible ones take the
          // COARSEST granularity — it has the fewest rows to scan (a P1Y
          // query reads ~1/30th the rows from the P1M table vs the P1D one)
          val (rd, filters, subs) =
            candidates.maxBy(c => granWidthApproxMs(c._1.granularity))
          rewrite(agg, rd, filters, subs)
        }
    }

    /** Approximate bucket width for rollup selection ONLY (eligibility was
      * already verified exactly per candidate; this just ranks them). A def
      * with NO granularity aggregates across all time — when it qualifies
      * at all (the query needed no time bucket) it is the coarsest table
      * available, so it ranks highest. */
    private def granWidthApproxMs(g: Option[Granularity]): Long = g match {
      case Some(DurationGranularity(w, _)) => w
      case Some(PeriodGranularity(p, _, _)) =>
        val parts = TimeFunctions.periodParts(p)
        parts.months * 2629800000L + parts.fixedMillis
      case None => Long.MaxValue
      case _ => 0L
    }

    /** Inline expressions that intermediate Projects computed (the
      * optimizer's PullOutGroupingExpressions moves a `date_trunc(...)`
      * grouping into a Project below the Aggregate as
      * `_groupingexpression#N`); eligibility and the rewrite both work on
      * the inlined form. */
    private def substitute(e: Expression, subs: Map[ExprId, Expression]): Expression =
      if (subs.isEmpty) e
      else e.transformUp {
        case a: AttributeReference if subs.contains(a.exprId) => subs(a.exprId)
      }

    // compare normalized full paths (scheme-stripped), not a suffix match —
    // an unrelated table whose path shares the registered suffix must not
    // be redirected
    private def normPath(s: String): String =
      new org.apache.hadoop.fs.Path(s).toUri.getPath.stripSuffix("/")

    private def stripCast(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripCast(c)
      case x => x
    }

    /** Is `e` (a filter conjunct / comparison operand) the declared time
      * column (possibly under a cast)? */
    private def isTimeAttr(e: Expression, rd: RollupDef): Boolean =
      stripCast(e) match {
        case a: AttributeReference => rd.timeColumn.contains(a.name)
        case _ => false
      }

    /** Epoch millis of a timestamp literal (micros-backed), when it is one. */
    private def literalMs(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampNTZType | TimestampType) => Some(Math.floorDiv(v, 1000L))
      case Cast(inner, TimestampNTZType | TimestampType, _, _) => literalMs(inner)
      case _ => None
    }

    /** Driver-side bucket alignment: is `ms` exactly a bucket boundary of
      * the stored granularity? Mirrors the granularities' own bucket()
      * arithmetic (fixed widths anchor at the epoch default origin; month
      * periods at first-of-month midnights with month-index multiples).
      * Conservative: zones, origins, and compound periods return false —
      * the filter then simply doesn't rewrite. */
    private def alignedMs(ms: Long, g: Granularity): Boolean = g match {
      case DurationGranularity(w, o) => Math.floorMod(ms - o, w) == 0L
      case PeriodGranularity(p, null, null) =>
        val parts = TimeFunctions.periodParts(p)
        if (parts.isCompound) false
        else if (parts.months > 0) {
          val ldt = java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
          ldt.getDayOfMonth == 1 && ldt.toLocalTime == java.time.LocalTime.MIDNIGHT &&
            Math.floorMod((ldt.getYear - 1970) * 12 + ldt.getMonthValue - 1, parts.months) == 0
        } else Math.floorMod(ms, parts.fixedMillis) == 0L
      case _ => false
    }

    /** A conjunct on the declared (truncated) time column is re-applicable
      * over the rollup only in the shapes where raw-time and bucket-time
      * semantics provably coincide: `t >= X` and `t < X` with X exactly a
      * bucket boundary (raw rows with t >= X are exactly the rows of
      * buckets >= X). Strict `>`/`<=`/`=` select partial buckets and never
      * rewrite. */
    private def timeConjunctSafe(cond: Expression, rd: RollupDef): Boolean = {
      val g = rd.granularity
      def aligned(e: Expression): Boolean =
        g.exists(gr => literalMs(e).exists(ms => alignedMs(ms, gr)))
      cond match {
        case GreaterThanOrEqual(l, r) if isTimeAttr(l, rd) => aligned(r)
        case LessThan(l, r) if isTimeAttr(l, rd) => aligned(r)
        case LessThanOrEqual(l, r) if isTimeAttr(r, rd) => aligned(l) // X <= t
        case GreaterThan(l, r) if isTimeAttr(r, rd) => aligned(l) // X > t
        // raw time is null iff its bucket is null — the optimizer's
        // InferFiltersFromConstraints adds these around any time bound
        case IsNotNull(e) if isTimeAttr(e, rd) => true
        case _ => false
      }
    }

    /** Peel attribute-only Projects and answerable Filters off the
      * aggregate's child down to the registered base scan, collecting the
      * filter predicates to re-apply over the rollup. Conjuncts on declared
      * VALUE-IDENTICAL dimensions re-apply verbatim; conjuncts on the
      * declared time-bucket column re-apply only when bucket-aligned
      * (timeConjunctSafe); anything else (raw metrics, unknown columns,
      * misaligned time ranges) disqualifies the rewrite. */
    private def unwrap(plan: LogicalPlan,
        rd: RollupDef): Option[(Seq[Expression], Map[ExprId, Expression])] =
      plan match {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
            if fs.location.rootPaths.exists(p => normPath(p.toString) == normPath(rd.basePath)) =>
          Some((Nil, Map.empty))
        // look through column pruning and pulled-out grouping expressions
        // (attribute-only entries pass through; deterministic Alias entries
        // record a substitution for the layers above)
        case Project(projList, child) if projList.forall {
              case _: AttributeReference => true
              case a: Alias => a.child.deterministic
              case _ => false
            } =>
          unwrap(child, rd).map { case (fs, subs) =>
            val mySubs = projList.collect {
              case a: Alias => a.exprId -> substitute(a.child, subs)
            }
            (fs, subs ++ mySubs)
          }
        case Filter(cond, child) if cond.deterministic =>
          unwrap(child, rd).flatMap { case (fs, subs) =>
            val inlined = substitute(cond, subs)
            val allSafe = splitConjuncts(inlined).forall { c =>
              val refs = c.references.map(_.name).toSet
              if (rd.timeColumn.exists(refs.contains)) timeConjunctSafe(c, rd)
              else refs.forall(rd.dimensions.contains)
            }
            if (allSafe) Some((inlined +: fs, subs)) else None
          }
        case _ => None
      }

    private def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case x => Seq(x)
    }

    /** Months spanned by a date_trunc unit (calendar units), or None. */
    private val TruncMonths = Map(
      "year" -> 12, "yyyy" -> 12, "yy" -> 12,
      "quarter" -> 3, "month" -> 1, "mon" -> 1, "mm" -> 1)
    /** Fixed width in millis of a date_trunc unit, or None. `week` is
      * special-cased (Monday midnights are day boundaries, not epoch-anchored
      * week multiples). */
    private val TruncWidth = Map(
      "day" -> 86400000L, "dd" -> 86400000L,
      "hour" -> 3600000L, "minute" -> 60000L, "second" -> 1000L)

    /** Can `date_trunc(unit, rawTime)` be answered by truncating the stored
      * buckets instead? True iff every stored bucket lies entirely inside
      * one unit-bucket, i.e. unit boundaries ⊆ stored boundaries. */
    private def truncCompatible(unit: String, g: Granularity): Boolean = {
      val u = unit.toLowerCase(java.util.Locale.ENGLISH)
      def fixedOk(w0: Long): Boolean =
        TruncMonths.get(u).map(_ => 86400000L % w0 == 0) // month starts = midnights
          .orElse(if (u == "week") Some(86400000L % w0 == 0) else None)
          .orElse(TruncWidth.get(u).map(w1 => w1 % w0 == 0))
          .getOrElse(false)
      g match {
        case PeriodGranularity(p, null, null) =>
          val parts = TimeFunctions.periodParts(p)
          if (parts.isCompound) false
          else if (parts.months > 0) TruncMonths.get(u).exists(m1 => m1 % parts.months == 0)
          else fixedOk(parts.fixedMillis)
        case DurationGranularity(w0, 0L) => fixedOk(w0)
        case _ => false
      }
    }

    /** A grouping expression is answerable when it is a plain
      * value-identical dimension attribute, a compatible date_trunc of the
      * declared time-bucket column, or a TIME_FLOOR/granularity-bucket
      * expression matching a compatible period's template. */
    private def groupOk(e: Expression, rd: RollupDef): Boolean = e match {
      case a: AttributeReference => rd.dimensions.contains(a.name)
      case TruncTimestamp(Literal(fmt, _), ts, _) =>
        isTimeAttr(ts, rd) && rd.granularity.exists(g =>
          truncCompatible(fmt.toString, g))
      case other => timeFloorGroupOk(other, rd)
    }

    /** Named ISO periods the SQL surface commonly floors by; the template
      * matcher tests each compatible one. */
    private val NamedFloorPeriods = Seq(
      "PT1S", "PT1M", "PT5M", "PT15M", "PT30M", "PT1H", "PT6H", "PT12H",
      "P1D", "P1W", "P1M", "P3M", "P1Y")

    /** Is flooring by `period` (timeFloor semantics: fixed widths — P1W
      * included — anchor at the epoch default origin; month periods at
      * month starts) answerable over buckets stored at granularity `g`?
      * True iff every period boundary is also a stored-bucket boundary. */
    private def floorPeriodCompatible(period: String, g: Granularity): Boolean = {
      val p = TimeFunctions.periodParts(period)
      def overFixed(w0: Long): Boolean =
        if (p.months > 0) 86400000L % w0 == 0 // month starts are midnights
        else p.fixedMillis % w0 == 0
      g match {
        case PeriodGranularity(p0, null, null) =>
          val s = TimeFunctions.periodParts(p0)
          if (s.isCompound) false
          else if (s.months > 0) p.months > 0 && !p.isCompound && p.months % s.months == 0
          else overFixed(s.fixedMillis)
        case DurationGranularity(w0, 0L) => overFixed(w0)
        case _ => false
      }
    }

    /** Approximate the optimizer's ConstantFolding so a freshly-resolved
      * template compares against an already-optimized candidate. */
    private def foldConstants(e: Expression): Expression = e.transformUp {
      case f if f.foldable && !f.isInstanceOf[Literal] =>
        Literal.create(f.eval(org.apache.spark.sql.catalyst.InternalRow.empty), f.dataType)
    }

    private def stripOuterCast(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripOuterCast(c)
      case x => x
    }

    /** Normalize add/subtract-zero on BOTH comparison sides — the optimizer
      * elides `x + 0` in the candidate while the fresh template keeps it
      * (and neither elides `x - 0`). */
    private def normalizeArith(e: Expression): Expression = {
      def isZero(l: Expression): Boolean = l match {
        case Literal(0L, _) => true
        case Literal(0, _) => true
        case _ => false
      }
      e.transformUp {
        case Add(x, z, _) if isZero(z) => x
        case Add(z, x, _) if isZero(z) => x
        case Subtract(x, z, _) if isZero(z) => x
      }
    }

    /** TIME_FLOOR / QueryDsl-granularity-bucket group expressions match by
      * SEMANTIC EQUALITY against a freshly-resolved `TimeFunctions
      * .timeFloor` template over the same attribute — robust to the exact
      * arithmetic spelling the floor compiles to (the fixed-width path is a
      * floorDiv CaseWhen tree, not date_trunc). A template that fails to
      * match is SAFE: the aggregate just stays on the base scan. */
    private def timeFloorGroupOk(e: Expression, rd: RollupDef): Boolean = {
      val spark = SparkSession.getActiveSession.orNull
      if (spark == null) return false
      (rd.timeColumn, rd.granularity) match {
        case (Some(tc), Some(g)) =>
          e.references.toSeq match {
            case Seq(a: AttributeReference) if a.name == tc =>
              val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
              val cand = stripOuterCast(e)
              NamedFloorPeriods.exists { p =>
                floorPeriodCompatible(p, g) && {
                  try {
                    val tmpl = normalizeArith(foldConstants(bridge.resolveAgainst(spark,
                      TimeFunctions.timeFloor(bridge.column(a), p), Seq(a))))
                    val c = normalizeArith(cand)
                    c.semanticEquals(tmpl) ||
                      stripOuterCast(c).semanticEquals(stripOuterCast(tmpl))
                  } catch { case scala.util.control.NonFatal(_) => false }
                }
              }
            case _ => false
          }
        case _ => false
      }
    }

    private def pairValueField(pairType: org.apache.spark.sql.types.DataType): Option[Int] =
      pairType match {
        case st: StructType =>
          val i = st.fieldNames.indexOf("v")
          if (i >= 0) Some(i) else None
        case _ => None
      }

    /** first/last refold eligibility: the query's ordering key must carry
      * the same semantics as the stored pair's (t, then v) ordering — the
      * bare time column (ties nondeterministic in both engines), the (t, v)
      * struct, or the pair shape FirstLast.firstPair builds. */
    private def firstLastKeyOk(key: Expression, out: Expression, rd: RollupDef): Boolean = {
      val keyAttrs = key.references.map(_.name).toSet
      val outAttrs = out.references.map(_.name).toSet
      rd.timeColumn.exists(t => keyAttrs.subsetOf(outAttrs + t))
    }

    private def hasMetric(rd: RollupDef, base: String, op: String): Boolean =
      rd.metricMap.get(base).exists(_.exists(_._1 == op))
    private def metricCol(rd: RollupDef, base: String, op: String): String =
      rd.metricMap(base).find(_._1 == op).get._2

    /** The (base key column, op signature) of a tuple sketch aggregate:
      * value expressions must be plain columns or double literals so the
      * signature is comparable with a stored rollup sketch's. */
    private def tupleSig(tu: graft.plans.TupleSketchAgg): Option[(String, String)] = tu.key match {
      case a: AttributeReference =>
        val vs = tu.values.map {
          case v: AttributeReference => Some(v.name)
          case Literal(d: Double, _) => Some(d.toString)
          case _ => None
        }
        if (vs.forall(_.isDefined))
          Some((a.name, "tuple:" + vs.flatten.mkString(","))) else None
      case _ => None
    }

    private def aggFunOk(f: AggregateFunction, rd: RollupDef): Boolean = f match {
      case Count(Seq(Literal(1, _))) => true
      case Sum(a: AttributeReference, _) => hasMetric(rd, a.name, "sum")
      case Min(a: AttributeReference) => hasMetric(rd, a.name, "min")
      case Max(a: AttributeReference) => hasMetric(rd, a.name, "max")
      case fl: graft.functions.FirstLastFoldAgg => fl.out match {
        case a: AttributeReference =>
          val op = if (fl.latest) "last" else "first"
          hasMetric(rd, a.name, op) && firstLastKeyOk(fl.key, fl.out, rd)
        case _ => false
      }
      case hll: HyperLogLogPlusPlus => hll.child match {
        case a: AttributeReference => hasMetric(rd, a.name, "hll")
        case _ => false
      }
      // sketch re-aggregation from stored COMPLEX columns — the reference
      // does this for ANY complex metric (AggregatorFactory
      // .getCombiningFactory; datasketches merge factories)
      case th: graft.plans.ThetaSketchAgg => th.child match {
        case a: AttributeReference => hasMetric(rd, a.name, "theta")
        case _ => false
      }
      case kll: graft.plans.KllDoublesAgg => kll.child match {
        case a: AttributeReference => hasMetric(rd, a.name, "kll")
        case _ => false
      }
      case tu: graft.plans.TupleSketchAgg =>
        tupleSig(tu).exists { case (k, sig) => hasMetric(rd, k, sig) }
      case _ => false
    }

    private def rewritable(groups: Seq[Expression], aggExprs: Seq[Expression],
        rd: RollupDef): Boolean = {
      val groupsOk = groups.forall(groupOk(_, rd))
      val aggsOk = aggExprs.forall {
        case a: AttributeReference => rd.dimensions.contains(a.name)
        // any expression over aggregates (a bare agg, or scalar post-work
        // like theta_sketch_estimate(theta_sketch(x)) / round / casts):
        // every nested aggregate must be derivable, and whatever reads a
        // column OUTSIDE an aggregate must be a dimension
        case Alias(e, _) if e.exists(_.isInstanceOf[AggregateExpression]) =>
          val aggs = e.collect { case ae: AggregateExpression => ae }
          aggs.forall {
            case AggregateExpression(f, Complete, false, None, _) => aggFunOk(f, rd)
            case _ => false
          } && {
            val residual = e.transform { case _: AggregateExpression => Literal(1L) }
            residual.references.forall(a => rd.dimensions.contains(a.name))
          }
        // a grouping expression echoed in the output (e.g. the aliased
        // date_trunc bucket — possibly denamed by the substitution when the
        // output referenced the pulled-out _groupingexpression directly)
        case Alias(e, _) => groupOk(e, rd)
        case e => groupOk(e, rd)
      }
      groupsOk && aggsOk
    }

    private def rewrite(agg: Aggregate, rd: RollupDef,
        filters: Seq[Expression], subs: Map[ExprId, Expression]): LogicalPlan = {
      val rollupPlan = rd.rollup.queryExecution.analyzed
      def rollupAttr(name: String): AttributeReference =
        rollupPlan.output.collectFirst {
          case a: AttributeReference if a.name == name => a
        }.getOrElse(throw new IllegalStateException(s"rollup table lacks column $name"))

      def aggExpr(f: AggregateFunction): AggregateExpression =
        AggregateExpression(f, Complete, isDistinct = false)

      // inline pulled-out grouping expressions, then remap base attrs by
      // NAME onto the rollup plan (the truncated time column shares its
      // base name; date_trunc group exprs carry over)
      def remap(e: Expression): Expression = substitute(e, subs).transform {
        case a: AttributeReference => rollupAttr(a.name)
      }

      // dimension filters re-apply verbatim over the rollup (one rollup row
      // per (time-bucket, dims) group, dims stored as ingested); verified
      // bucket-aligned time bounds select exactly whole buckets
      val newChild = filters.foldRight(rollupPlan: LogicalPlan) { (cond, p) =>
        Filter(remap(cond), p)
      }

      val newGroups = agg.groupingExpressions.map(remap)

      def replaceAgg(f: AggregateFunction): Expression = f match {
        // count(*) is never NULL: a global (no GROUP BY) aggregate over
        // an empty rollup table must yield 0, but sum(cnt) yields NULL
        case Count(Seq(Literal(1, _))) =>
          Coalesce(Seq(aggExpr(Sum(rollupAttr(rd.countColumn))), Literal(0L)))
        case Sum(a: AttributeReference, _) =>
          aggExpr(Sum(rollupAttr(metricCol(rd, a.name, "sum"))))
        case Min(a: AttributeReference) =>
          aggExpr(Min(rollupAttr(metricCol(rd, a.name, "min"))))
        case Max(a: AttributeReference) =>
          aggExpr(Max(rollupAttr(metricCol(rd, a.name, "max"))))
        // EARLIEST/LATEST → refold the stored (t, v) pair (the reference's
        // first/last rollup lifecycle: fold pairs by time, emit the value)
        case fl: graft.functions.FirstLastFoldAgg =>
          val a = fl.out.asInstanceOf[AttributeReference]
          val op = if (fl.latest) "last" else "first"
          val pairAttr = rollupAttr(metricCol(rd, a.name, op))
          val idx = pairValueField(pairAttr.dataType).getOrElse(
            throw new IllegalStateException(
              s"rollup pair column ${pairAttr.name} lacks a 'v' field"))
          val refolded = aggExpr(
            graft.functions.FirstLastFoldAgg(pairAttr, pairAttr, fl.latest))
          GetStructField(refolded, idx, Some("v"))
        // approx_count_distinct → merge the stored DataSketches HLL column
        case hll: HyperLogLogPlusPlus =>
          val a = hll.child.asInstanceOf[AttributeReference]
          val skAttr = rollupAttr(metricCol(rd, a.name, "hll"))
          HllSketchEstimate(aggExpr(HllUnionAgg(skAttr, Literal(true))))
        // theta/kll/tuple build → UNION of the stored serialized sketches
        // (SketchMergeAggregatorFactory / DoublesSketchMergeAggregatorFactory
        // / ArrayOfDoublesSketchMergeAggregatorFactory); any scalar post-op
        // around the aggregate (estimate, quantile, rank) carries over
        // unchanged because it reads the merged sketch bytes
        case th: graft.plans.ThetaSketchAgg =>
          val a = th.child.asInstanceOf[AttributeReference]
          aggExpr(graft.plans.ThetaUnionAgg(rollupAttr(metricCol(rd, a.name, "theta")), th.lgK))
        case kll: graft.plans.KllDoublesAgg =>
          val a = kll.child.asInstanceOf[AttributeReference]
          aggExpr(graft.plans.KllMergeAgg(rollupAttr(metricCol(rd, a.name, "kll")), kll.k))
        case tu: graft.plans.TupleSketchAgg =>
          val (k, sig) = tupleSig(tu).getOrElse(
            throw new IllegalStateException(s"ineligible tuple agg $tu"))
          aggExpr(graft.plans.TupleUnionAgg(rollupAttr(metricCol(rd, k, sig)),
            tu.values.size, tu.lgK))
        case other => throw new IllegalStateException(s"unexpected agg $other")
      }

      // replace every nested AggregateExpression (a bare agg or one under
      // scalar post-work like estimate/round) and remap the residual
      // dimension references; hand-recursive so the REPLACEMENT's own new
      // aggregate nodes are not re-visited
      def replaceTree(ex: Expression): Expression = ex match {
        case AggregateExpression(f, _, _, _, _) => replaceAgg(f)
        case a: AttributeReference => rollupAttr(a.name)
        case other => other.withNewChildren(other.children.map(replaceTree))
      }

      val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
        substitute(ne, subs) match {
          case a: AttributeReference =>
            Alias(rollupAttr(a.name), a.name)(exprId = a.exprId)
          case al @ Alias(e, name) if e.exists(_.isInstanceOf[AggregateExpression]) =>
            Alias(replaceTree(e), name)(exprId = al.exprId)
          case al @ Alias(e, name) => // echoed grouping expression
            Alias(remap(e), name)(exprId = al.exprId)
          case named: NamedExpression => named
          // the substitution denamed a direct _groupingexpression reference:
          // re-alias under the ORIGINAL name and id
          case e => Alias(remap(e), ne.name)(exprId = ne.exprId)
        }
      }
      val rewritten = Aggregate(newGroups, newAggs, newChild)
      // pin output schema: count(*) over rollup becomes sum(cnt) of LongType —
      // cast back where the rewritten type widened (sum(long) → long is fine;
      // sum over the count col stays long) via a no-op Project with old names
      Project(rewritten.output.zip(agg.output).map { case (n, o) =>
        if (n.exprId == o.exprId && n.dataType == o.dataType) n
        else Alias(Cast(n, o.dataType), o.name)(exprId = o.exprId)
      }, rewritten)
    }
  }

  /** The catalog behind the HTTP façade's rollup admin resource. */
  lazy val globalCatalog = new Catalog

  /** Attach to an already-running session via experimental optimizations.
    * Per-CATALOG idempotent: a session can carry rules for several catalogs
    * (the gate queries' per-sf catalog and the facade's global one), and
    * attaching one must not suppress the other. */
  def enable(spark: SparkSession, catalog: Catalog = globalCatalog): Unit = {
    val experimental = spark.experimental
    val attached = experimental.extraOptimizations.exists {
      case r: RewriteRule => r.catalog eq catalog
      case _ => false
    }
    if (!attached)
      experimental.extraOptimizations =
        experimental.extraOptimizations :+ new RewriteRule(catalog)
  }
}
