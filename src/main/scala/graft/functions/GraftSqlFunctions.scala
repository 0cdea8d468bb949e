package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayDistinct, CaseWhen, Cast, Coalesce, Concat, CreateArray, EqualNullSafe, Expression, If, IsNotNull, LessThan, Literal, SortArray, StringLocate, Substring, Subtract, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.unsafe.types.UTF8String

/** Druid SQL function-name surface (SURVEY §2.8 — sql/.../expression/builtin
  * operator conversions, registered in planner/DruidOperatorTable.java).
  *
  * Registers Druid-named functions into the session FunctionRegistry so the
  * SQL layer is a drop-in: `spark.sql("SELECT TIME_FLOOR(__time, 'PT1H')")`
  * works exactly as Druid SQL, compiled to the same codegen-friendly
  * Catalyst expressions as the Column API (no UDF indirection).
  */
object GraftSqlFunctions {

  private def col(e: Expression): Column = CatalystBridge.column(e)
  private def ex(c: Column): Expression = CatalystBridge.expression(c)

  private def litStr(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case Literal(s: String, _) => s
    case _ => throw new IllegalArgumentException(s"$fn: argument must be a string literal")
  }
  private def litStrOrNull(e: Expression, fn: String): String = e match {
    case Literal(null, _) => null
    case other => litStr(other, fn)
  }
  /** Optional trailing timezone arg: an EMPTY string means the default
    * zone like the reference's TimeZone.getTimeZone("") → GMT fallback
    * (ExprMacroTest testTimestampShift's `timestamp_shift(t,'P1D',2,'')`). */
  private def tzArg(e: Expression, fn: String): String = {
    val s = litStrOrNull(e, fn)
    if (s == null || s.isEmpty) null else s
  }

  /** Non-literal timezone argument → the per-row dynamic path
    * (DynamicZonedTime; the reference's TimestampFloor/Ceil/ShiftExprMacro
    * dynamic variants build a PeriodGranularity per row). `periodOrFmt` is
    * the literal period / extract unit / format pattern; `originE` the
    * optional literal origin. Returns a TIMESTAMP column for floor/ceil/
    * shift, matching the literal path's type. */
  private def dynZoned(op: String, tsE: Expression, tzE: Expression,
      periodOrFmt: String, originE: Option[Expression] = None,
      stepE: Option[Expression] = None): Expression = {
    // (fixed-instant millis, deferred local datetime) — exactly one is set
    // when an origin is present. An offset-LESS string origin resolves in
    // the PER-ROW zone's chronology like the reference
    // (ExprUtils.toPeriodGranularity: new DateTime(value,
    // ISOChronology.getInstance(timeZone))); explicit offsets and numeric
    // origins are fixed instants.
    val originPair: (java.lang.Long, String) = originE match {
      case None => (null, null)
      case Some(Literal(null, _)) => (null, null)
      case Some(Literal(v: Long, org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType)) =>
        (java.lang.Long.valueOf(Math.floorDiv(v, 1000L)), null) // micros → millis
      case Some(Literal(v: Number, _: org.apache.spark.sql.types.NumericType)) =>
        (java.lang.Long.valueOf(v.longValue()), null) // dialect longs are millis
      case Some(Literal(s: UTF8String, StringType)) =>
        val raw = s.toString.replace(" ", "T")
        val hasZ = raw.endsWith("Z")
        val t = raw.stripSuffix("Z")
        val offsetRe = ".*T.*[+-]\\d{2}:?\\d{2}$"
        // tolerant partial-ISO origin ("1970-01-01T01")
        def pad(v: String): String = v.length match {
          case 4 => v + "-01-01T00:00:00"; case 7 => v + "-01T00:00:00"
          case 10 => v + "T00:00:00"; case 13 => v + ":00:00"
          case 16 => v + ":00"; case _ => v
        }
        if (hasZ)
          (java.lang.Long.valueOf(java.time.LocalDateTime.parse(pad(t))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli), null)
        else if (t.matches(offsetRe))
          (java.lang.Long.valueOf(
            java.time.OffsetDateTime.parse(t).toInstant.toEpochMilli), null)
        else (null, java.time.LocalDateTime.parse(pad(t)).toString)
      case Some(other) => throw new IllegalArgumentException(
        s"$op: origin must be a literal when the timezone is dynamic, got $other")
    }
    val originMillis = originPair._1
    val originLocal = originPair._2
    val tsMs = ex(unix_millis(col(DruidTimeInput(tsE))))
    val zoneStr = ex(col(tzE).cast("string"))
    val stepLong = stepE.map(s => ex(col(s).cast("long")))
      .getOrElse(Literal(0L))
    val dyn = DynamicZonedTime(op, tsMs, zoneStr, stepLong, periodOrFmt,
      originMillis, originLocal)
    op match {
      case "floor" | "ceil" | "shift" => ex(timestamp_millis(col(dyn)))
      case _ => dyn
    }
  }
  private def notLit(e: Expression): Boolean = !e.isInstanceOf[Literal]
  /** Is the (resolved) argument a BINARY column — i.e. a stored serialized
    * sketch the DS_* aggregates should MERGE rather than update as items?
    * Unresolvable inputs default to the build path. */
  private def inputIsBinary(e: Expression): Boolean =
    try e.resolved && e.dataType == org.apache.spark.sql.types.BinaryType
    catch { case _: Throwable => false }
  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Number, _) => v.intValue()
    case _ => throw new IllegalArgumentException(s"$fn: argument must be an integer literal")
  }
  /** Druid's theta SIZE (nominal entries) → this engine's lgK. */
  private def log2Ceil(size: Int): Int =
    math.ceil(math.log(math.max(size, 2).toDouble) / math.log(2.0)).toInt
  private def intLitOpt(e: Expression): Option[Int] = e match {
    case Literal(v: Number, t)
        if t == org.apache.spark.sql.types.IntegerType ||
           t == org.apache.spark.sql.types.LongType => Some(v.intValue())
    case _ => None
  }
  /** DS_HLL / APPROX_COUNT_DISTINCT_DS_HLL aggregate: build (or merge, for
    * binary input) a DataSketches HLL sketch. Optional args: lgK, then
    * tgtHllType (string; packing density — ignored, identical estimates). */
  private def dsHllAgg(args: Seq[Expression], fn: String,
      finalizeEstimate: Boolean): Expression = {
    val lgK = if (args.size > 1) litInt(args(1), fn) else 12
    graft.plans.HllAcdAgg(args.head, lgK,
      mergeInput = inputIsBinary(args.head), finalizeEstimate = finalizeEstimate)
  }
  /** Variadic theta set op with an optional leading integer size literal
    * (ThetaSketchSetBaseOperatorConversion: (size?, sketch, sketch, ...)). */
  private def thetaSetOp(op: String): Seq[Expression] => Expression = { args =>
    val sketches = intLitOpt(args.head) match {
      case Some(_) => args.tail // size accepted + ignored (set-op buffer cap)
      case None => args
    }
    require(sketches.size >= 2, s"theta_sketch_$op needs at least 2 sketches")
    sketches.reduce((a, b) => graft.plans.ThetaSetOp(a, b, op))
  }
  private def humanReadableArity(name: String, args: Seq[Expression]): Unit =
    if (args.size < 1 || args.size > 2)
      throw new IllegalArgumentException(
        s"Invalid number of arguments to function '$name'. Was expecting 1 arguments")
  /** HumanReadableBytes precision bound (Function.java SizeFormatFunc:
    * "given precision[%d] must be in the range of [0,3]"). */
  private def hrPrecision(v: Int): Int = {
    if (v < 0 || v > 3) throw new IllegalArgumentException(
      s"given precision[$v] must be in the range of [0,3]")
    v
  }
  private def litDouble(e: Expression, fn: String): Double = e match {
    case Literal(v: Number, _) => v.doubleValue()
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble // SQL 0.5 parses as decimal
    case _ => throw new IllegalArgumentException(s"$fn: argument must be a numeric literal")
  }
  /** String-literal varargs, unwrapping ARRAY('b','c') literal arguments —
    * Calcite spells list-valued args as ARRAY['b','c'] (e.g.
    * MV_FILTER_ONLY), the expression dialect as bare varargs. */
  private def containsExpr(fn: String, args: Seq[Expression],
      f: (Column, String) => Column): Column = {
    if (args.size != 2)
      throw new IllegalArgumentException(s"Function[$fn] must have 2 arguments")
    val needle = args(1) match {
      case Literal(s: UTF8String, _) => s.toString
      case Literal(s: String, _) => s
      case _ =>
        throw new IllegalArgumentException(s"Function[$fn] substring must be a string literal")
    }
    coalesce(f(col(args(0)), needle), lit(false))
  }

  private def litStrSeq(args: Seq[Expression], fn: String): Seq[String] =
    args.flatMap {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.last.equalsIgnoreCase("array") =>
        u.children.map(litStr(_, fn))
      case c: org.apache.spark.sql.catalyst.expressions.CreateArray =>
        c.children.map(litStr(_, fn))
      case e => Seq(litStr(e, fn))
    }

  /** name → builder over raw catalyst expressions. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // --- time family (TimestampFloorExprMacro et al.) ---
    // TIME_* accept Druid's optional trailing IANA timezone (and a NULL
    // origin placeholder: TIME_FLOOR(t, p, CAST(NULL AS TIMESTAMP), tz)).
    // Inputs coerce through DruidTimeInput: a LONG is epoch MILLIS like
    // every reference macro's asLong(), never Spark's seconds cast.
    "time_floor" -> { args =>
      if (args.size > 3 && notLit(args(3)))
        dynZoned("floor", args(0), args(3), litStr(args(1), "time_floor"),
          originE = Some(args(2)))
      else {
        val origin = if (args.size > 2) col(DruidTimeInput(args(2))) else null
        val tz = if (args.size > 3) tzArg(args(3), "time_floor") else null
        ex(TimeFunctions.timeFloor(col(DruidTimeInput(args(0))), litStr(args(1), "time_floor"), origin, tz))
      }
    },
    "time_ceil" -> { args =>
      if (args.size > 3 && notLit(args(3)))
        dynZoned("ceil", args(0), args(3), litStr(args(1), "time_ceil"),
          originE = Some(args(2)))
      else {
        val origin = if (args.size > 2) col(DruidTimeInput(args(2))) else null
        val tz = if (args.size > 3) tzArg(args(3), "time_ceil") else null
        ex(TimeFunctions.timeCeil(col(DruidTimeInput(args(0))), litStr(args(1), "time_ceil"), origin, tz))
      }
    },
    "time_shift" -> { args =>
      if (args.size > 3 && notLit(args(3)))
        dynZoned("shift", args(0), args(3), litStr(args(1), "time_shift"),
          stepE = Some(args(2)))
      else {
        val tz = if (args.size > 3) tzArg(args(3), "time_shift") else null
        ex(TimeFunctions.timeShiftBy(col(DruidTimeInput(args(0))), litStr(args(1), "time_shift"),
          col(args(2)), tz))
      }
    },
    "time_extract" -> { args =>
      if (args.size > 2 && notLit(args(2)))
        dynZoned("extract", args(0), args(2), litStr(args(1), "time_extract"))
      else {
        val tz = if (args.size > 2) tzArg(args(2), "time_extract") else null
        ex(TimeFunctions.timeExtract(col(DruidTimeInput(args(0))), litStr(args(1), "time_extract"), tz))
      }
    },
    "time_parse" -> { args =>
      // format may be an explicit NULL placeholder: TIME_PARSE(s, NULL, tz)
      // falls back to the default parser (TimestampParseExprMacro)
      val fmt = if (args.size > 1) litStrOrNull(args(1), "time_parse") else null
      val tz = if (args.size > 2) tzArg(args(2), "time_parse") else null
      ex(TimeFunctions.timeParse(col(args(0)), fmt, tz))
    },
    "time_format" -> { args =>
      val tz = if (args.size > 2) tzArg(args(2), "time_format") else null
      val fmt = if (args.size > 1) litStrOrNull(args(1), "time_format") else null
      ex(TimeFunctions.timeFormat(col(DruidTimeInput(args(0))), fmt, tz))
    },
    "millis_to_timestamp" -> { args => ex(TimeFunctions.millisToTimestamp(col(args(0)))) },
    "timestamp_to_millis" -> { args =>
      ex(TimeFunctions.timestampToMillis(col(DruidTimeInput(args(0))))) },

    // --- math-expr dialect names (core/.../math/expr/Function.java and the
    // timestamp_* macros in query/expression/) so JSON virtualColumns /
    // expression filters written in Druid syntax compile verbatim ---
    "timestamp_floor" -> { args =>
      if (args.size > 3 && notLit(args(3)))
        dynZoned("floor", args(0), args(3), litStr(args(1), "timestamp_floor"),
          originE = Some(args(2)))
      else {
        val origin = if (args.size > 2) col(DruidTimeInput(args(2))) else null
        val tz = if (args.size > 3) tzArg(args(3), "timestamp_floor") else null
        ex(TimeFunctions.timeFloor(col(DruidTimeInput(args(0))), litStr(args(1), "timestamp_floor"), origin, tz))
      }
    },
    "timestamp_ceil" -> { args =>
      if (args.size > 3 && notLit(args(3)))
        dynZoned("ceil", args(0), args(3), litStr(args(1), "timestamp_ceil"),
          originE = Some(args(2)))
      else {
        val origin = if (args.size > 2) col(DruidTimeInput(args(2))) else null
        val tz = if (args.size > 3) tzArg(args(3), "timestamp_ceil") else null
        ex(TimeFunctions.timeCeil(col(DruidTimeInput(args(0))), litStr(args(1), "timestamp_ceil"), origin, tz))
      }
    },
    // step may be any expression (TimestampShiftDynamicExpr — non-literal
    // steps bind per row, TimestampShiftMacroTest.testDynamicExpression)
    "timestamp_shift" -> { args =>
      if (args.size > 3 && notLit(args(3)))
        dynZoned("shift", args(0), args(3), litStr(args(1), "timestamp_shift"),
          stepE = Some(args(2)))
      else {
        val tz = if (args.size > 3) tzArg(args(3), "timestamp_shift") else null
        ex(TimeFunctions.timeShiftBy(col(DruidTimeInput(args(0))), litStr(args(1), "timestamp_shift"),
          col(args(2)), tz))
      }
    },
    "timestamp_extract" -> { args =>
      if (args.size > 2 && notLit(args(2)))
        dynZoned("extract", args(0), args(2), litStr(args(1), "timestamp_extract"))
      else {
        val tz = if (args.size > 2) tzArg(args(2), "timestamp_extract") else null
        ex(TimeFunctions.timeExtract(col(DruidTimeInput(args(0))), litStr(args(1), "timestamp_extract"), tz))
      }
    },
    "timestamp_parse" -> { args =>
      val fmt = if (args.size > 1) litStrOrNull(args(1), "timestamp_parse") else null
      val tz = if (args.size > 2) litStr(args(2), "timestamp_parse") else null
      ex(TimeFunctions.timeParse(col(args(0)), fmt, tz))
    },
    "timestamp_format" -> { args =>
      val fmt = if (args.size > 1) litStrOrNull(args(1), "timestamp_format") else null
      if (args.size > 2 && notLit(args(2)))
        dynZoned("format", args(0), args(2), fmt)
      else {
        val tz = if (args.size > 2) tzArg(args(2), "timestamp_format") else null
        ex(TimeFunctions.timeFormat(col(DruidTimeInput(args(0))), fmt, tz))
      }
    },
    // case_searched(c1, r1, c2, r2, ..., [else]) (Function.java:2089)
    // conditions take dialect truthiness — if(1.0, a, b) picks a
    // (Evals.asBoolean; EvalTest.java:138-139); DruidTruthyExpr is a no-op
    // for boolean conditions
    "case_searched" -> { args =>
      val (pairs, elseV) = if (args.size % 2 == 1) (args.init, Some(args.last)) else (args, None)
      CaseWhen(pairs.grouped(2).map(p => (DruidTruthyExpr(p(0)), p(1))).toSeq, elseV)
    },
    // math-expr `if` (Function.java ConditionFunc): truthy condition — the
    // Spark builtin requires a strict boolean
    "if" -> { args =>
      org.apache.spark.sql.catalyst.expressions.If(
        DruidTruthyExpr(args(0)), args(1), args(2))
    },
    // case_simple(x, v1, r1, v2, r2, ..., [else])
    "case_simple" -> { args =>
      val rest = args.tail
      val (pairs, elseV) = if (rest.size % 2 == 1) (rest.init, Some(rest.last)) else (rest, None)
      CaseWhen(pairs.grouped(2).map(p => (EqualNullSafe(args.head, p(0)), p(1))).toSeq, elseV)
    },
    "notnull" -> { args => IsNotNull(args(0)) },

    // --- math-expr dialect names whose semantics differ from the SQL-layer
    // functions of the same name (core/.../math/expr/Function.java; the
    // MathExpr translator renames call sites to these) ---
    // strpos(haystack, needle[, fromIndex]): 0-based index, -1 when absent
    // (Function.java StrposFunc — the SQL STRPOS is 1-based)
    "druid_mx_strpos" -> { args =>
      val from = if (args.size > 2) args(2) else Literal(0)
      Cast(Subtract(
        StringLocate(args(1), args(0), Add(Cast(from, IntegerType), Literal(1))),
        Literal(1)), LongType)
    },
    // substring(str, startIndex0, length): 0-based start, negative length =
    // rest of the string (Function.java SubstringFunc — SQL SUBSTRING is
    // 1-based with no negative-length form)
    "druid_mx_substring" -> { args =>
      val start = Add(Cast(args(1), IntegerType), Literal(1))
      If(LessThan(Cast(args(2), IntegerType), Literal(0)),
        Substring(args(0), start, Literal(Int.MaxValue)),
        Substring(args(0), start, Cast(args(2), IntegerType)))
    },
    // cast(expr, 'TYPE'): function-style cast with Druid type-name strings
    // (Function.java CastFunc); LONG targets route through DOUBLE first so
    // decimal-text inputs parse like the reference's numeric coercion
    "druid_mx_cast" -> { args =>
      val target = args(1) match {
        case Literal(s, StringType) => String.valueOf(s).toUpperCase
        case other => throw new IllegalArgumentException(
          s"cast type must be a literal string, got $other")
      }
      target match {
        case "LONG" => Cast(Cast(args(0), DoubleType), LongType)
        case "DOUBLE" => Cast(args(0), DoubleType)
        case "STRING" => Cast(args(0), StringType)
        case "LONG_ARRAY" =>
          Cast(Cast(args(0), ArrayType(DoubleType)), ArrayType(LongType))
        case "DOUBLE_ARRAY" => Cast(args(0), ArrayType(DoubleType))
        case "STRING_ARRAY" => Cast(args(0), ArrayType(StringType))
        case other => throw new IllegalArgumentException(s"cast type: $other")
      }
    },
    // array_set_add / array_set_add_all: sorted-set semantics, nulls first
    // (Function.java ArraySetAddFunction — sort_array ascending puts null
    // first like the reference's null-first comparator). An ARRAY-typed
    // element merges its elements into the set — the multi-value identifier
    // inside an expression-lambda fold ("array_set_add(acc, placementish)",
    // GroupByQueryRunnerTest.testGroupByExpressionAggregatorArrayMultiValue)
    // accumulates the FLAT element set, never nested arrays. Type-resolved
    // lazily (RuntimeReplaceable) because the MV-ness of the second argument
    // is only known after analysis.
    "array_set_add" -> { args => ArraySetAdd(args(0), args(1)) },
    "array_set_add_all" -> { args =>
      SortArray(ArrayDistinct(Concat(Seq(args(0), args(1)))), Literal(true))
    },

    // LOOKUP(expr, 'name'[, replaceMissingValueWith]) (reference: sql/.../
    // builtin/QueryLookupOperatorConversion.java over the registered-lookup
    // map). Resolved per call site from LookupRegistry.global and inlined as
    // a map literal — the plan-shipped analog of Druid's on-heap broadcast
    // lookup map; missing keys → null (or the 3rd-arg replacement).
    "lookup" -> { args =>
      val name = litStr(args(1), "lookup")
      val m = graft.sources.LookupRegistry.global.asMap(name)
      val hit = element_at(typedLit(m), col(args(0)).cast("string"))
      val out = if (args.size > 2) coalesce(hit, col(args(2))) else hit
      ex(out)
    },

    // --- scalar misc ---
    "safe_divide" -> { args => ex(DruidFunctions.safeDivide(col(args(0)), col(args(1)))) },
    // math-expr `^` (BinPowExpr): long^long in integer space, else double —
    // MathExpr rewrites the operator to this call
    "druid_mx_pow" -> { args => MxPowExpr(args(0), args(1)) },
    "textcat" -> { args => ex(DruidFunctions.textcat(col(args(0)), col(args(1)))) },
    // Druid SQL STRPOS is 1-based, 0 when absent (StrposOperatorConversion
    // wraps the native 0-based call in "(strpos(...)+1)"); the 0-based
    // math-expr variant stays available as DruidFunctions.strpos for the
    // virtual-column / Column-API surface.
    "strpos" -> { args => ex(DruidFunctions.strpos(col(args(0)), col(args(1))) + lit(1)) },
    // ContainsExprMacro contract (ContainsExprMacroTest): exactly two args,
    // the substring a non-null string literal, a null haystack evaluates
    // false (ofLongBoolean), never null
    "contains_string" -> { args =>
      ex(containsExpr("contains_string", args, DruidFunctions.containsString))
    },
    "icontains_string" -> { args =>
      ex(containsExpr("icontains_string", args, DruidFunctions.iContainsString))
    },
    // REGEXP_EXTRACT(expr, pattern[, group]) (RegexpExtractOperatorConversion):
    // Druid returns NULL when the pattern does not match (RegexDimExtractionFn
    // with replaceMissingValue), unlike Spark's regexp_extract which returns
    // ''. Guard with rlike — both use unanchored Java-regex find semantics.
    "regexp_extract" -> { args =>
      val pat = Literal(UTF8String.fromString(litStr(args(1), "regexp_extract")),
        org.apache.spark.sql.types.StringType)
      val grp = if (args.size > 2) litInt(args(2), "regexp_extract") else 0
      // raw Catalyst nodes, not functions.regexp_extract: the functions API
      // builds UnresolvedFunction("regexp_extract") by name, which would
      // resolve straight back into this builder (analyzer loop)
      CaseWhen(Seq((
        org.apache.spark.sql.catalyst.expressions.RLike(args(0), pat),
        org.apache.spark.sql.catalyst.expressions.RegExpExtract(args(0), pat,
          Literal(grp)))), None)
    },
    // REGEXP_LIKE(expr, pattern) (RegexpLikeExprMacro): pattern must be a
    // string LITERAL (plan-time IAE), and a NULL input evaluates FALSE —
    // ofLongBoolean(false), never null — unlike Spark's rlike
    // (RegexpLikeExprMacroTest: testNullPattern errors,
    // testEmptyStringPatternOnNull is false in sql-compatible mode)
    "regexp_like" -> { args =>
      if (args.size != 2) throw new IllegalArgumentException(
        "Function[regexp_like] must have 2 arguments")
      val pat = args(1) match {
        case Literal(s: UTF8String, _) => s.toString
        case Literal(s: String, _) => s
        case _ => throw new IllegalArgumentException(
          "Function[regexp_like] pattern must be a string literal")
      }
      Coalesce(Seq(
        org.apache.spark.sql.catalyst.expressions.RLike(args(0),
          Literal(UTF8String.fromString(pat), org.apache.spark.sql.types.StringType)),
        Literal(false)))
    },
    // LEFT/RIGHT (Function.java Left/Right): a negative length is the
    // reference's plan-time IAE, not Spark's empty string
    "left" -> { args =>
      args(1) match {
        case Literal(v: Number, _) if v.intValue() < 0 => throw new IllegalArgumentException(
          "Function[left] needs a postive integer as second argument")
        case _ => ()
      }
      org.apache.spark.sql.catalyst.expressions.Left(args(0), args(1))
    },
    "right" -> { args =>
      args(1) match {
        case Literal(v: Number, _) if v.intValue() < 0 => throw new IllegalArgumentException(
          "Function[right] needs a postive integer as second argument")
        case _ => ()
      }
      org.apache.spark.sql.catalyst.expressions.Right(args(0), args(1))
    },
    // REPEAT (Function.java Repeat): a negative count yields NULL (Spark's
    // builtin yields '')
    "repeat" -> { args =>
      org.apache.spark.sql.catalyst.expressions.If(
        org.apache.spark.sql.catalyst.expressions.LessThan(args(1), Literal(0)),
        Literal(null, org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.catalyst.expressions.StringRepeat(args(0), args(1)))
    },
    // ROUND with Druid's non-finite handling (Function.java:1449; SQL
    // RoundOperatorConversion): NaN→0, ±Inf→±MAX_VALUE, LONG stays LONG
    "round" -> { args =>
      val scale = if (args.size < 2) Literal(0) else args(1) match {
        case lit @ Literal(_: Number, t)
            if Seq("int", "bigint", "smallint", "tinyint").contains(t.simpleString) =>
          lit
        case lit: Literal => throw new IllegalArgumentException(
          "The second argument to the function[round] should be integer type but got the type: " +
            lit.dataType.simpleString.toUpperCase)
        // a non-literal scale (e.g. round(d, y)) evaluates per row, like the
        // reference's RoundFunc — type errors surface at evaluation
        case dyn => dyn
      }
      DruidRound(args(0), scale)
    },
    // STRING_FORMAT (StringFormatOperatorConversion → Function.java:2439):
    // non-strict — a format error degrades to "fmt; arg1; ..."
    "string_format" -> { args => DruidStringFormat(args) },
    // GREATEST/LEAST with Druid's null-skipping + string-coercing compare
    // (GreatestExpressionTest/LeastExpressionTest)
    "greatest" -> { args => DruidGreatestLeast(args, isLeast = false) },
    "least" -> { args => DruidGreatestLeast(args, isLeast = true) },
    // TRUNCATE (TruncateOperatorConversion — Spark has no numeric
    // TRUNCATE): cast(cast(x * 10^d as long) as double) / 10^d
    "truncate" -> { args =>
      val d = if (args.size > 1) litInt(args(1), "truncate") else 0
      val factor = math.pow(10, d)
      ex((col(args(0)) * lit(factor)).cast("long").cast("double") / lit(factor))
    },
    "parse_long" -> { args =>
      val radix = if (args.size > 1) litInt(args(1), "parse_long") else 10
      ex(DruidFunctions.parseLong(col(args(0)), radix))
    },
    // the reference validates these to exactly (Number, [Precision])
    // (HumanReadableFormatOperatorConversion; corpus
    // testHumanReadableFormatFunctionWithInvalidNumberOfArguments)
    // a non-literal precision evaluates per row (ExpressionsTest passes a
    // column ref; valid range [0,3] per HumanReadableBytes.java:249)
    "human_readable_decimal_byte_format" -> { args =>
      humanReadableArity("HUMAN_READABLE_DECIMAL_BYTE_FORMAT", args)
      if (args.size <= 1)
        ex(DruidFunctions.humanReadableDecimalByteFormat(col(args(0)), 2))
      else args(1) match {
        case Literal(v: Number, _) =>
          ex(DruidFunctions.humanReadableDecimalByteFormat(col(args(0)), hrPrecision(v.intValue())))
        case Literal(_, _) => throw new IllegalArgumentException(
          "human_readable: argument must be an integer literal") // wrong precision TYPE rejects
        case dyn =>
          ex(DruidFunctions.humanReadableDecimalByteFormatDyn(col(args(0)), col(dyn)))
      }
    },
    "human_readable_binary_byte_format" -> { args =>
      humanReadableArity("HUMAN_READABLE_BINARY_BYTE_FORMAT", args)
      if (args.size <= 1)
        ex(DruidFunctions.humanReadableBinaryByteFormat(col(args(0)), 2))
      else args(1) match {
        case Literal(v: Number, _) =>
          ex(DruidFunctions.humanReadableBinaryByteFormat(col(args(0)), hrPrecision(v.intValue())))
        case Literal(_, _) => throw new IllegalArgumentException(
          "human_readable: argument must be an integer literal") // wrong precision TYPE rejects
        case dyn =>
          ex(DruidFunctions.humanReadableBinaryByteFormatDyn(col(args(0)), col(dyn)))
      }
    },
    "human_readable_decimal_format" -> { args =>
      humanReadableArity("HUMAN_READABLE_DECIMAL_FORMAT", args)
      val p = if (args.size > 1) hrPrecision(litInt(args(1), "human_readable")) else 2
      ex(DruidFunctions.humanReadableDecimalFormat(col(args(0)), p))
    },
    "bucket" -> { args =>
      val off = if (args.size > 2) litDouble(args(2), "bucket") else 0.0
      ex(DruidFunctions.bucket(col(args(0)), litDouble(args(1), "bucket"), off))
    },
    "scalb" -> { args => ex(DruidFunctions.scalb(col(args(0)), col(args(1)))) },

    // --- bitwise scalars (BitwiseOperatorConversions over Function.java's
    // Bitwise* family; inputs coerce to long as in the reference) ---
    "bitwise_and" -> { args => ex(col(args(0)).cast("long").bitwiseAND(col(args(1)).cast("long"))) },
    "bitwise_or" -> { args => ex(col(args(0)).cast("long").bitwiseOR(col(args(1)).cast("long"))) },
    "bitwise_xor" -> { args => ex(col(args(0)).cast("long").bitwiseXOR(col(args(1)).cast("long"))) },
    "bitwise_complement" -> { args => ex(bitwise_not(col(args(0)).cast("long"))) },
    "bitwise_shift_left" -> { args =>
      ex(shiftleft(col(args(0)).cast("long"), litInt(args(1), "bitwise_shift_left")))
    },
    "bitwise_shift_right" -> { args =>
      ex(shiftright(col(args(0)).cast("long"), litInt(args(1), "bitwise_shift_right")))
    },
    "bitwise_convert_double_to_long_bits" -> { args =>
      DoubleToLongBits(ex(col(args(0)).cast("double")))
    },
    "bitwise_convert_long_bits_to_double" -> { args =>
      LongBitsToDouble(ex(col(args(0)).cast("long")))
    },

    // --- IPv4 ---
    // type-dispatched (IPv4Address*ExpressionTest): a LONG in unsigned-32
    // range parses to itself / stringifies to dotted-quad; a STRING parses
    // only from the dotted-quad form / stringifies to itself when valid
    // arity + literal-subnet errors use the reference's messages
    // (IPv4Address{Parse,Stringify,Match}ExprMacro.java — IAE "Function[x]
    // must have N argument(s)"; the match macro additionally demands a
    // literal subnet and validates its CIDR shape at construction)
    "ipv4_parse" -> { args =>
      if (args.size != 1) throw new IllegalArgumentException(
        "Function[ipv4_parse] must have 1 argument")
      Ipv4TypeDispatch(args(0), stringify = false)
    },
    "ipv4_stringify" -> { args =>
      if (args.size != 1) throw new IllegalArgumentException(
        "Function[ipv4_stringify] must have 1 argument")
      Ipv4TypeDispatch(args(0), stringify = true)
    },
    "ipv4_match" -> { args =>
      if (args.size != 2) throw new IllegalArgumentException(
        "Function[ipv4_match] must have 2 arguments")
      val subnet = args(1) match {
        case Literal(s: UTF8String, _) => s.toString
        case Literal(s: String, _) => s
        case _ => throw new IllegalArgumentException(
          "Function[ipv4_match] subnet arg must be a literal")
      }
      Ipv4Match(args(0), subnet)
    },

    // TIME_IN_INTERVAL(ts, 'start/end') (TimeInIntervalConversion)
    "time_in_interval" -> { args =>
      val Array(a, b) = litStr(args(1), "time_in_interval").split("/")
      ex(col(args(0)) >= lit(a.replace("T", " ")).cast("timestamp_ntz") &&
        col(args(0)) < lit(b.replace("T", " ")).cast("timestamp_ntz"))
    },

    // --- multi-value strings (MV_*) ---
    "mv_filter_only" -> { args =>
      val allowed = litStrSeq(args.tail, "mv_filter_only")
      ex(DruidFunctions.mvFilterOnly(col(args(0)), allowed))
    },
    "mv_filter_none" -> { args =>
      val denied = litStrSeq(args.tail, "mv_filter_none")
      ex(DruidFunctions.mvFilterNone(col(args(0)), denied))
    },
    "mv_to_string" -> { args =>
      ex(DruidFunctions.mvToString(col(args(0)), litStr(args(1), "mv_to_string")))
    },
    "string_to_mv" -> { args =>
      ex(DruidFunctions.stringToMv(col(args(0)), litStr(args(1), "string_to_mv")))
    },
    // --- arrays (ArrayOperatorConversions — Druid registers the ARRAY_*
    // spellings over the same native fns as the MV_* family; SQL ARRAY
    // inputs and MV strings are both array<string> here) ---
    "array_length" -> { args => ex(size(col(args(0)))) },
    // 0-based / 1-based element access. Druid's ArrayOffset/OrdinalFunction
    // (core/.../math/expr/Function.java:3267,3295) return null whenever the
    // position misses the array, so the index is range-guarded here — a bare
    // element_at would throw on 0 and count negatives from the end.
    "array_offset" -> { args =>
      val arr = col(args(0)); val idx = col(args(1)).cast("int")
      ex(when(idx >= 0 && idx < size(arr), element_at(arr, idx + lit(1))))
    },
    "array_ordinal" -> { args =>
      val arr = col(args(0)); val idx = col(args(1)).cast("int")
      ex(when(idx >= 1 && idx <= size(arr), element_at(arr, idx)))
    },
    // index-of: Druid returns null (sql-compatible) when absent; Spark's
    // array_position returns 0 — nullif translates
    "array_offset_of" -> { args =>
      ex(nullif(array_position(col(args(0)), col(args(1))), lit(0L)) - lit(1L))
    },
    "array_ordinal_of" -> { args =>
      ex(nullif(array_position(col(args(0)), col(args(1))), lit(0L)))
    },
    // Druid's array fns coerce a scalar arg to a single-element array
    // (Function.java ArrayConcatFunction et al: ARRAY_CONCAT(dim2, dim3)
    // with scalar dim2 works) — MvToArray supplies that polymorphism
    "array_append" -> { args => ex(concat(col(MvToArray(args(0))), array(col(args(1))))) },
    "array_prepend" -> { args => ex(concat(array(col(args(0))), col(MvToArray(args(1))))) },
    "array_concat" -> { args => ex(concat(col(MvToArray(args(0))), col(MvToArray(args(1))))) },
    // ARRAY_SLICE(arr, start[, end]): 0-based, end-exclusive, end defaults
    // to length. ArraySliceFunction (Function.java:3557) returns null when
    // start<0 / start>length / start>end, and Arrays.copyOfRange null-pads
    // when end overruns the array — both mirrored here.
    "array_slice" -> { args =>
      val arr = col(args(0)); val start = col(args(1)).cast("int")
      val end = if (args.size > 2) col(args(2)).cast("int") else size(arr)
      val len = size(arr)
      val taken = slice(arr, start + lit(1), least(end, len) - start)
      val padded = when(end > len,
        concat(taken, array_repeat(get(arr, lit(-1)), end - len))
      ).otherwise(taken)
      ex(when(start < 0 || start > len || start > end, lit(null)).otherwise(padded))
    },
    "array_overlap" -> { args => ex(arrays_overlap(col(args(0)), col(args(1)))) },
    // ARRAY_CONTAINS(arr, x): contains ALL of x when x is an array, else
    // contains the scalar (ArrayContainsOperatorConversion). The scalar arm
    // must build the Catalyst node directly — functions.array_contains
    // resolves by THIS name and would loop the analyzer.
    "array_contains" -> { args =>
      args(1) match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if u.nameParts.last.equalsIgnoreCase("array") =>
          ex(col(args(0)).isNotNull &&
            size(array_except(col(args(1)), col(args(0)))) === 0)
        case c: org.apache.spark.sql.catalyst.expressions.CreateArray =>
          ex(col(args(0)).isNotNull && size(array_except(col(c), col(args(0)))) === 0)
        case _ =>
          org.apache.spark.sql.catalyst.expressions.ArrayContains(args(0), args(1))
      }
    },
    "array_to_string" -> { args =>
      ex(DruidFunctions.mvToString(col(args(0)), litStr(args(1), "array_to_string")))
    },
    "string_to_array" -> { args =>
      ex(DruidFunctions.stringToMv(col(args(0)), litStr(args(1), "string_to_array")))
    },

    // MV_TO_ARRAY (MultiValueStringToArrayOperatorConversion): identity on an
    // MV (array) column, single-element wrap on a scalar string dimension
    "mv_to_array" -> { args =>
      if (args.size != 1)
        throw new IllegalArgumentException("Invalid number of arguments to function MV_TO_ARRAY")
      MvToArray(args(0))
    },
    // the remaining MV_* spellings are the same functions as ARRAY_* —
    // Druid registers MultiValueStringOperatorConversions over the identical
    // native array fns (sql/.../expression/builtin) — aliased in register()

    // LTRIM/RTRIM take (expr, chars) in Druid (Function.java LTrimFunction,
    // docs/misc/math-expr.md); Spark's own two-arg spelling is the reversed
    // Hive order (trimStr, srcStr) — registered Druid-ordered here. Catalyst
    // nodes built directly: functions.ltrim resolves by THIS name and would
    // loop the analyzer (same trap as array_contains above)
    "ltrim" -> { args =>
      if (args.size == 1) org.apache.spark.sql.catalyst.expressions.StringTrimLeft(args(0))
      else org.apache.spark.sql.catalyst.expressions.StringTrimLeft(args(0), args(1))
    },
    // two-arg TRIM likewise (TrimExprMacro.BothTrimExprMacro — chars may be
    // a non-literal expression, ExprMacroTest.testTrim trim(spacey, spacey))
    "trim" -> { args =>
      if (args.size == 1) org.apache.spark.sql.catalyst.expressions.StringTrim(args(0))
      else org.apache.spark.sql.catalyst.expressions.StringTrim(args(0), args(1))
    },
    "rtrim" -> { args =>
      if (args.size == 1) org.apache.spark.sql.catalyst.expressions.StringTrimRight(args(0))
      else org.apache.spark.sql.catalyst.expressions.StringTrimRight(args(0), args(1))
    },

    // --- text/pipeline ---
    "token_count" -> { args => ex(TextFunctions.tokenCount(col(args(0)))) },
    "lang_id" -> { args => ex(TextFunctions.langId(col(args(0)))) },
    "quality_score" -> { args => ex(TextFunctions.qualityScore(col(args(0)))) },
    "content_fingerprint" -> { args => ex(TextFunctions.contentFingerprint(col(args(0)))) },

    // --- SQL aggregates over native aggs (sql/.../aggregation/builtin) ---
    // EARLIEST(value, timeCol) / LATEST(value, timeCol): Druid SQL binds the
    // time column implicitly to __time; here it is explicit (no ambient
    // table context inside a FunctionRegistry builder)
    // SUM0 (SumZeroSqlAggregator): sum that yields 0, not null, on empty
    // (coalesce type-coerces the zero literal during analysis)
    "sum0" -> { args => ex(coalesce(sum(col(args(0))), lit(0))) },
    // ARRAY_CONCAT_AGG(arr[, maxBytes]) (ArrayConcatSqlAggregator.java):
    // concatenate array values across rows; null arrays skip (collect_list
    // null-skip), cross-row order is unspecified in both engines. The
    // optional maxBytes is the reference's per-buffer cap — ignored here
    // (Spark manages aggregate state memory itself).
    "array_concat_agg" -> { args => ex(flatten(collect_list(col(args(0))))) },
    // EARLIEST/LATEST/ANY_VALUE compile to the incremental pair/first-seen
    // folds (FirstLastFoldAgg/AnyFoldAgg) so they plan as
    // ObjectHashAggregate — min_by/max_by/any_value are immutable-buffer
    // declarative aggregates that force SortAggregate (reference lifecycle:
    // query/aggregation/first/LongFirstAggregator.java)
    // NOTE: these return the BARE AggregateFunction (not
    // .toAggregateExpression()) so the analyzer can attach DISTINCT/FILTER
    // clauses itself — a pre-wrapped AggregateExpression rejects
    // `EARLIEST(x, t) FILTER (WHERE ...)` with FUNCTION_WITH_UNSUPPORTED_SYNTAX
    "earliest" -> { args => FirstLastFoldAgg(args(1), args(0), latest = false) },
    "latest" -> { args => FirstLastFoldAgg(args(1), args(0), latest = true) },
    "earliest_by" -> { args => FirstLastFoldAgg(args(1), args(0), latest = false) },
    "latest_by" -> { args => FirstLastFoldAgg(args(1), args(0), latest = true) },
    // ANY_VALUE(expr[, ignoreNulls]) — overrides Spark's SortAggregate
    // spelling with the hash-plannable first-seen fold
    "any_value" -> { args =>
      val ignoreNulls = args.size > 1 && (args(1) match {
        case Literal(b: Boolean, _) => b
        case _ => false
      })
      AnyFoldAgg(args(0), ignoreNulls)
    },
    // APPROX_QUANTILE(col, p[, k]) (extensions-core/histogram SQL fn) →
    // percentile_approx with accuracy from k
    // APPROX_QUANTILE(col, p[, resolution]) — the reference's
    // ApproximateHistogram surface (QuantileSqlAggregator), reproduced
    // value-exactly in the within-resolution regime incl. its float32
    // positions and Algorithm-4 interpolation (5.880000114440918-style
    // outputs); formerly mapped to percentile_approx, which computed
    // different approximations. Bare aggregate so FILTER attaches.
    "approx_quantile" -> { args =>
      val res = if (args.size > 2) litInt(args(2), "approx_quantile") else 50
      graft.plans.ApproxHistQuantileAgg(args(0),
        litDouble(args(1), "approx_quantile"), res)
    },
    // BLOOM_FILTER(col[, expectedItems]) / BLOOM_FILTER_TEST(col, filterCol).
    // The 1-arg integer-literal form is the EXPRESSION MACRO
    // bloom_filter(maxEntries) — a fresh reference-format filter per call
    // site (BloomFilterExpressions.CreateExprMacro), used with
    // bloom_filter_add inside expression virtual columns / lambda folds
    "bloom_filter" -> { args =>
      if (args.size == 1 && intLitOpt(args(0)).isDefined)
        graft.plans.BloomCreateExpr(litInt(args(0), "bloom_filter"))
      else {
        val n = if (args.size > 1) litInt(args(1), "bloom_filter").toLong else 100000L
        ex(graft.plans.BloomFunctions.bloomFilterAgg(col(args(0)), n))
      }
    },
    // bloom_filter_add(value, filter) — BloomFilterExpressions.AddExprMacro
    "bloom_filter_add" -> { args => graft.plans.BloomAddExpr(args(0), args(1)) },
    // APPROX_QUANTILE_FIXED_BUCKETS(col, p, numBuckets, lower, upper
    // [, outlierHandlingMode]) — FixedBucketsHistogramQuantileSqlAggregator
    "approx_quantile_fixed_buckets" -> { args =>
      val mode = if (args.size > 5) args(5) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case _ => "ignore"
      } else "ignore"
      graft.plans.FixedBucketsQuantileAgg(args(0),
        litDouble(args(1), "approx_quantile_fixed_buckets"),
        litInt(args(2), "approx_quantile_fixed_buckets"),
        litDouble(args(3), "approx_quantile_fixed_buckets"),
        litDouble(args(4), "approx_quantile_fixed_buckets"),
        mode)
    },
    // BLOOM_FILTER_TEST(expr, filter): the filter side is Druid SQL's
    // base64 STRING (BloomDimFilterSqlTest — also how dynamic ? parameters
    // arrive after binding), or a binary filter column. Byte-layout
    // dispatch like the JSON `bloom` filter: reference BloomKFilter bytes
    // test natively, Spark-built filters keep working.
    "bloom_filter_test" -> { args =>
      args(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, t)
            if t == org.apache.spark.sql.types.StringType =>
          val bytes = java.util.Base64.getMimeDecoder.decode(s.toString)
          if (bytes.nonEmpty && bytes(0) != 0)
            ex(graft.plans.BloomFunctions.druidBloomTest(lit(bytes), col(args(0))))
          else ex(graft.plans.BloomFunctions.mightContain(lit(bytes), col(args(0))))
        case _ =>
          // non-literal filter (a binary column or a bloom_filter_add
          // macro chain): DruidBloomTest dispatches per row on the byte
          // layout, so BOTH reference-format and Spark-built filters test
          graft.plans.DruidBloomTest(args(1), args(0))
      }
    },
    // Druid BloomKFilter BINARY interop (read+write;
    // extensions-core/druid-bloom-filter): test values against / build
    // filters in the reference's own serialized format
    // variance family (extensions-core/stats VarianceSqlAggregator):
    // collector-exact arithmetic, count==1 → 0 / count==0 → null (unlike
    // ANSI VAR_SAMP's null at n ≤ 1), output width follows the input type
    // (float → FLOAT, long → LONG). These REPLACE Spark's builtins of the
    // same names in the registered session — identical values for n ≥ 2,
    // the reference's semantics at the edges. Bare aggregates so FILTER
    // attaches; STDDEV* finalize to sqrt inside the aggregate
    // (StandardDeviationPostAggregator).
    "var_pop" -> { args =>
      graft.plans.DruidVarianceAgg(args(0), population = true,
        graft.plans.DruidVarianceAgg.inferInputType(args(0)))
    },
    "var_samp" -> { args =>
      graft.plans.DruidVarianceAgg(args(0), population = false,
        graft.plans.DruidVarianceAgg.inferInputType(args(0)))
    },
    "variance" -> { args =>
      graft.plans.DruidVarianceAgg(args(0), population = false,
        graft.plans.DruidVarianceAgg.inferInputType(args(0)))
    },
    "stddev_pop" -> { args =>
      graft.plans.DruidVarianceAgg(args(0), population = true,
        graft.plans.DruidVarianceAgg.inferInputType(args(0)), sqrtOut = true)
    },
    "stddev_samp" -> { args =>
      graft.plans.DruidVarianceAgg(args(0), population = false,
        graft.plans.DruidVarianceAgg.inferInputType(args(0)), sqrtOut = true)
    },
    "stddev" -> { args =>
      graft.plans.DruidVarianceAgg(args(0), population = false,
        graft.plans.DruidVarianceAgg.inferInputType(args(0)), sqrtOut = true)
    },
    // bare AggregateFunction so FILTER (WHERE ...) attaches, like the
    // reference's filtered BloomFilterAggregatorFactory
    "druid_bloom_filter" -> { args =>
      val n = if (args.size > 1) litInt(args(1), "druid_bloom_filter").toLong else 1500L
      graft.plans.DruidBloomAgg(args(0), n)
    },
    "druid_bloom_test" -> { args => graft.plans.DruidBloomTest(args(1), args(0)) },

    // --- sketches (DS_* family) ---
    "theta_sketch" -> { args =>
      val lgK = if (args.size > 1) litInt(args(1), "theta_sketch") else 12
      // over a BINARY column the input is pre-built sketches and the
      // aggregate UNIONS them — Druid's APPROX_COUNT_DISTINCT_DS_THETA /
      // DS_THETA over a stored COMPLEX metric column resolves to the merge
      // factory the same way (ThetaSketchApproxCountDistinctSqlAggregator:
      // complex input → SketchMergeAggregatorFactory)
      (if (inputIsBinary(args(0))) graft.plans.ThetaUnionAgg(args(0), lgK)
       else graft.plans.ThetaSketchAgg(args(0), lgK)).toAggregateExpression()
    },
    "theta_sketch_estimate" -> { args => graft.plans.ThetaEstimate(args(0)) },
    // THETA_SKETCH_ESTIMATE_WITH_ERROR_BOUNDS(sketch, stdDevs) → struct
    // (theta/sql/ThetaSketchEstimateWithErrorBoundsOperatorConversion)
    "theta_sketch_estimate_with_error_bounds" -> { args =>
      graft.plans.ThetaEstimateBounds(args(0),
        if (args.size > 1) litInt(args(1), "theta_sketch_estimate_with_error_bounds") else 1)
    },
    // HLL_SKETCH_ESTIMATE_WITH_ERROR_BOUNDS / HLL_SKETCH_TO_STRING /
    // DS_QUANTILE_SUMMARY (hll/sql/*OperatorConversion,
    // quantiles/sql/DoublesSketchSummaryOperatorConversion)
    "hll_sketch_estimate_with_error_bounds" -> { args =>
      graft.plans.HllEstimateWithBounds(args(0),
        if (args.size > 1) litInt(args(1), "hll_sketch_estimate_with_error_bounds") else 1)
    },
    "hll_sketch_to_string" -> { args => graft.plans.SketchSummary(args(0), "hll") },
    "theta_sketch_to_string" -> { args => graft.plans.SketchSummary(args(0), "theta") },
    "ds_quantile_summary" -> { args => graft.plans.SketchSummary(args(0), "quantiles") },
    // Druid HyperLogLogCollector BINARY interop (read path; SURVEY §7.3):
    // estimate / union-estimate stored hyperUnique sketch columns from an
    // existing Druid cluster (hll/.../HyperLogLogCollector.java:53)
    "hllc_estimate" -> { args => graft.plans.HllcEstimate(args(0)) },
    "hllc_union_estimate" -> { args =>
      graft.plans.HllcUnionEstimate(args(0)).toAggregateExpression()
    },
    // write path: build reference-format collector bytes from raw values,
    // so a Druid cluster can read THIS engine's hyperUnique columns
    "hllc_build" -> { args =>
      graft.plans.HllcBuild(args(0)).toAggregateExpression()
    },
    // DS_THETA(col[, size]) — Druid's SQL name; its second arg is the
    // sketch SIZE in nominal entries (2^lgK), unlike this engine's
    // theta_sketch(col, lgK) (ThetaSketchObjectSqlAggregator →
    // SketchMergeAggregatorFactory(size)). Binary input merges.
    // bare AggregateFunction (no .toAggregateExpression) so FILTER attaches
    "ds_theta" -> { args =>
      val lgK = if (args.size > 1) log2Ceil(litInt(args(1), "ds_theta")) else 12
      if (inputIsBinary(args(0))) graft.plans.ThetaUnionAgg(args(0), lgK)
      else graft.plans.ThetaSketchAgg(args(0), lgK)
    },
    // APPROX_COUNT_DISTINCT_DS_THETA(col[, size]) — finalized long estimate
    // (ThetaSketchApproxCountDistinctSqlAggregator). A bare
    // AggregateFunction so FILTER (WHERE ...) attaches.
    "approx_count_distinct_ds_theta" -> { args =>
      val lgK = if (args.size > 1) log2Ceil(litInt(args(1), "approx_count_distinct_ds_theta")) else 12
      graft.plans.ThetaAcdAgg(args(0), lgK, mergeInput = inputIsBinary(args(0)))
    },
    // set ops are VARIADIC with an optional leading integer size
    // (ThetaSketchSetBaseOperatorConversion: (size?, sketch...)); size is
    // the set-op buffer's nominal entries — identical results while inputs
    // are below it, so it's accepted and ignored here
    "theta_sketch_union" -> thetaSetOp("union"),
    "theta_sketch_intersect" -> thetaSetOp("intersect"),
    "theta_sketch_not" -> thetaSetOp("not"),
    // DS_HLL(col[, lgK[, tgtHllType]]) — HllSketchObjectSqlAggregator.
    // tgtHllType (HLL_4/6/8) is the register-packing density, a memory
    // knob with identical estimates — accepted and ignored (Spark's
    // DataSketches HLL build packs HLL_8). Binary input merges.
    "ds_hll" -> { args => dsHllAgg(args, "ds_hll", finalizeEstimate = false) },
    // APPROX_COUNT_DISTINCT_DS_HLL — finalized LONG estimate
    // (HllSketchApproxCountDistinctSqlAggregator)
    // APPROX_COUNT_DISTINCT_DS_HLL(col[, lgK[, tgtHllType]]) — finalized
    // long estimate; bare AggregateFunction so FILTER attaches; empty → 0
    "approx_count_distinct_ds_hll" -> { args =>
      dsHllAgg(args, "approx_count_distinct_ds_hll", finalizeEstimate = true)
    },
    // HLL_SKETCH_ESTIMATE(sk[, round]) — DOUBLE estimate, fractional by
    // default like HllSketchToEstimatePostAggregator; round=true rounds
    "hll_sketch_estimate" -> { args =>
      val est = graft.plans.DsHllEstimateExpr(args(0))
      val rounded = args.size > 1 && (args(1) match {
        case Literal(b: Boolean, _) => b; case _ => false
      })
      if (rounded) ex(round(CatalystBridge.column(est))) else est
    },
    // HLL_SKETCH_UNION([lgK, tgtHllType,] sk, sk, ...) —
    // HllSketchSetUnionOperatorConversion's optional leading literals
    "hll_sketch_union" -> { args =>
      val sketches = args.dropWhile(a => intLitOpt(a).isDefined ||
        (a match { case Literal(_: org.apache.spark.unsafe.types.UTF8String, _) => true
                   case _ => false }))
      require(sketches.size >= 2, "hll_sketch_union needs at least 2 sketches")
      sketches.reduce((a, b) => ex(org.apache.spark.sql.functions.hll_union(
        CatalystBridge.column(a), CatalystBridge.column(b), true)))
    },
    "ds_quantiles_sketch" -> { args =>
      val k = if (args.size > 1) litInt(args(1), "ds_quantiles_sketch") else 200
      // BINARY input = stored sketch column → MERGE (DoublesSketchSql
      // Aggregator over a COMPLEX column picks the merge factory)
      (if (inputIsBinary(args(0))) graft.plans.KllMergeAgg(args(0), k)
       else graft.plans.KllDoublesAgg(args(0), k)).toAggregateExpression()
    },
    // classic DoublesSketch bytes — the reference's quantiles wire format
    // (write-side interop; the DS_* post-aggs family-dispatch both)
    "ds_quantiles_sketch_classic" -> { args =>
      val k = if (args.size > 1) litInt(args(1), "ds_quantiles_sketch_classic") else 128
      graft.plans.ClassicDoublesAgg(args(0), k).toAggregateExpression()
    },
    // the reference's strictly-greater quantile rule (its datasketches
    // 3.1.0 getQuantile; DoublesSketchToQuantilePostAggregator.java:86)
    "ds_get_quantile" -> { args =>
      graft.plans.KllQuantile(args(0), litDouble(args(1), "ds_get_quantile"),
        inclusive = false)
    },
    // DS_GET_QUANTILES(sketch, f0, f1, ...) — the multi-fraction form
    // (DoublesSketchQuantilesOperatorConversion → ToQuantiles post-agg);
    // same strictly-greater rule per fraction
    "ds_get_quantiles" -> { args =>
      graft.plans.KllQuantiles(args(0),
        args.tail.map(a => litDouble(a, "ds_get_quantiles")))
    },
    // APPROX_QUANTILE_DS(col, q[, k]) — build-and-read in one aggregate
    // (DoublesSketchSqlAggregator; exact at stream lengths ≤ k like the
    // reference's DoublesSketch, so DoublesSketchSqlAggregatorTest's small
    // fixtures pin exact values). A BINARY input merges a stored sketch
    // column instead of rebuilding. Returned as a bare AggregateFunction
    // so FILTER (WHERE ...) clauses attach.
    "approx_quantile_ds" -> { args =>
      val k = if (args.size > 2) litInt(args(2), "approx_quantile_ds") else 128
      graft.plans.KllQuantileAgg(args(0), litDouble(args(1), "approx_quantile_ds"),
        k, mergeInput = inputIsBinary(args(0)))
    },
    // DS_RANK/DS_CDF/DS_HISTOGRAM follow the reference's datasketches-3.1.0
    // search rule: mass STRICTLY LESS THAN the value/splitPoint
    // (DoublesSketchToRankPostAggregator.java:86 / ToCDF:66 / ToHistogram:80
    // delegate straight to the 3.1.0 library, whose default was the rule
    // 4.0.0 renamed EXCLUSIVE) — the KllRank/KllCdf defaults.
    "ds_rank" -> { args => graft.plans.KllRank(args(0), litDouble(args(1), "ds_rank")) },
    "ds_cdf" -> { args =>
      graft.plans.KllCdf(args(0), args.tail.map(a => litDouble(a, "ds_cdf")))
    },
    // DS_HISTOGRAM(sketch, split1, ...) → per-bin mass between splits:
    // first differences of the CDF (getCDF returns k+1 points, the last
    // being the total mass 1.0)
    "ds_histogram" -> { args =>
      val splits = args.tail.map(a => litDouble(a, "ds_histogram"))
      val c = CatalystBridge.column(graft.plans.KllCdf(args(0), splits))
      ex(zip_with(c, concat(array(lit(0.0)), slice(c, 1, splits.size)),
        (hi, lo) => hi - lo))
    },
    // DS_TUPLE_DOUBLES_SKETCH(key, v1[, v2, ...]) and its post-ops
    "ds_tuple_doubles_sketch" -> { args =>
      graft.plans.TupleSketchAgg(args.head, args.tail).toAggregateExpression()
    },
    "ds_tuple_doubles_sketch_estimate" -> { args => graft.plans.TupleEstimate(args(0)) },
    "ds_tuple_doubles_metrics_sum_estimate" -> { args => graft.plans.TupleMetricsSum(args(0)) },
    // full ArrayOfDoublesSketchModule post-op family (tuple/
    // ArrayOfDoublesSketchModule.java:64-105)
    "ds_tuple_doubles_num_entries" -> { args => graft.plans.TupleNumEntries(args(0)) },
    "ds_tuple_doubles_means" -> { args => graft.plans.TupleColumnStats(args(0), "mean") },
    "ds_tuple_doubles_variances" -> { args => graft.plans.TupleColumnStats(args(0), "variance") },
    "ds_tuple_doubles_estimate_and_bounds" -> { args =>
      graft.plans.TupleEstimateAndBounds(args(0),
        if (args.size > 1) litInt(args(1), "ds_tuple_doubles_estimate_and_bounds") else 1)
    },
    "ds_tuple_doubles_union" -> { args => graft.plans.TupleSetOp(args(0), args(1), "union") },
    "ds_tuple_doubles_intersect" -> { args => graft.plans.TupleSetOp(args(0), args(1), "intersect") },
    "ds_tuple_doubles_not" -> { args => graft.plans.TupleSetOp(args(0), args(1), "not") },
    "ds_tuple_doubles_to_quantiles_sketch" -> { args =>
      graft.plans.TupleToKll(args(0),
        if (args.size > 1) litInt(args(1), "ds_tuple_doubles_to_quantiles_sketch") else 1,
        if (args.size > 2) litInt(args(2), "ds_tuple_doubles_to_quantiles_sketch") else 200)
    },

    // hyper_unique expression-macro family (processing/.../query/expression/
    // HyperUniqueExpressions.java:44-260): per-row HLL collector create /
    // add(value, sketch) / estimate — usable from math-expr virtual columns
    // and the expression-lambda aggregator's initialValue/fold/finalize.
    "hyper_unique" -> { args =>
      graft.plans.HllCreateExpr(if (args.nonEmpty) litInt(args(0), "hyper_unique") else 12)
    },
    "hyper_unique_add" -> { args => graft.plans.HllAddExpr(args(0), args(1)) },
    "hyper_unique_estimate" -> { args => graft.plans.HllEstimateExpr(args(0)) },
    // LONG Math.round of the estimate (HyperUniqueExpressions.HllEstimateExprMacro
    // round variant; HyperUniqueExpressionsTest.testEstimateRound)
    "hyper_unique_round_estimate" -> { args =>
      ex(round(CatalystBridge.column(graft.plans.HllEstimateExpr(args(0)))).cast("long"))
    },

    // KLL quantile-sketch post-ops needed by JSON post-aggs and SQL alike
    "ds_quantiles_n" -> { args => graft.plans.KllN(args(0)) }
  )

  /** MV_* ↔ ARRAY_* name equivalences (MultiValueStringOperatorConversions:
    * Druid's MV functions ARE the array functions applied to MV columns). */
  private val aliases: Seq[(String, String)] = Seq(
    "mv_length" -> "array_length",
    "mv_offset" -> "array_offset",
    "mv_ordinal" -> "array_ordinal",
    "mv_offset_of" -> "array_offset_of",
    "mv_ordinal_of" -> "array_ordinal_of",
    "mv_append" -> "array_append",
    "mv_prepend" -> "array_prepend",
    "mv_concat" -> "array_concat",
    "mv_slice" -> "array_slice",
    "mv_contains" -> "array_contains",
    "mv_overlap" -> "array_overlap")

  /** A builder handed too few arguments would surface a bare
    * index-out-of-bounds; the reference raises a validation error naming
    * the function (testTimeExtractWithTooFewArguments expects "Invalid
    * number of arguments to function 'TIME_EXTRACT'"). */
  private def guarded(name: String, b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    exprs => try b(exprs) catch {
      case _: IndexOutOfBoundsException => throw new IllegalArgumentException(
        s"Invalid number of arguments to function '${name.toUpperCase}'")
    }

  /** Idempotent per-session registration. An existing entry (a builtin of
    * the same name, or an earlier registration) is dropped first, so the
    * registry does not warn that it was replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = CatalystBridge.functionRegistry(spark)
    val byName = builders.toMap
    (builders ++ aliases.map { case (name, target) => name -> byName(target) }).foreach {
      case (name, b) =>
        registry.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
        registry.createOrReplaceTempFunction(name, guarded(name, b), "internal")
    }
  }

  def functionNames: Seq[String] = builders.map(_._1) ++ aliases.map(_._1)
}

/** MV_TO_ARRAY: Druid coerces an MV string dimension to a true ARRAY —
  * identity on array input, single-element wrap on a scalar (an MV column
  * holding one row-value reads back as that scalar). Resolved after analysis
  * so the branch can see the argument's type. */
/** Druid ROUND (core/.../math/expr/Function.java:1449 Round): BigDecimal
  * HALF_UP at `scale`, LONG stays LONG, NaN rounds to 0, ±Infinity clamps
  * to ±Double.MAX_VALUE (safeGetFromDouble:1530); a non-numeric first
  * argument is null in sql-compatible mode, a non-integer-literal second
  * argument raises the reference's IAE. Spark's builtin ROUND keeps
  * NaN/Infinity — the clamps are the Druid-visible difference. */
case class DruidRound(child: Expression, scaleExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def left: Expression = child
  override def right: Expression = scaleExpr
  override def dataType: DataType = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType => LongType
    case FloatType => FloatType // Calcite return-type inference keeps FLOAT
    case _ => DoubleType
  }
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val scale = scaleExpr.eval(input) match {
      case null => 0
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"The second argument to the function[round] should be integer type but got: $other")
    }
    def roundDouble(d: Double): Double = {
      val dec =
        if (java.lang.Double.isNaN(d)) java.math.BigDecimal.ZERO
        else if (d == Double.PositiveInfinity) java.math.BigDecimal.valueOf(Double.MaxValue)
        else if (d == Double.NegativeInfinity) java.math.BigDecimal.valueOf(-Double.MaxValue)
        else java.math.BigDecimal.valueOf(d)
      dec.setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    v match {
      case l: java.lang.Long =>
        java.math.BigDecimal.valueOf(l).setScale(scale, java.math.RoundingMode.HALF_UP).longValue()
      case i: java.lang.Integer =>
        java.math.BigDecimal.valueOf(i.toLong).setScale(scale, java.math.RoundingMode.HALF_UP).longValue()
      case f: java.lang.Float => roundDouble(f.doubleValue()).toFloat
      case n: Number => roundDouble(n.doubleValue())
      case _ => null // sql-compatible mode: a string rounds to null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DruidRound =
    copy(child = l, scaleExpr = r)
  override def prettyName: String = "round"
}

/** Druid GREATEST/LEAST (sql/.../builtin/GreatestOperatorConversion →
  * math-expr greatest/least; vectors GreatestExpressionTest/
  * LeastExpressionTest): nulls are SKIPPED (all-null → null), and the
  * result type is the Druid common type — any STRING argument makes the
  * whole comparison lexicographic ("A" beats 3.4, testCoerceString), else
  * any fractional makes it DOUBLE, else LONG (timestamps compare by epoch
  * millis). Spark's builtin instead type-coerces eagerly and propagates
  * like SQL greatest, so this is a registered override. */
/** The math-expr `+` operator (BinPlusExpr): a STRING operand makes it
  * CONCATENATION of the operands' string forms ("quality + 'x'" and
  * column-on-column "market + ' ' + market" — TopNQueryRunnerTest
  * .testTopNStringVirtualColumn); otherwise numeric addition in Druid's
  * LONG-else-DOUBLE calculus. Type-resolved lazily (RuntimeReplaceable)
  * because string-ness of a column operand is only known after analysis;
  * the replacement carries explicit casts since the analyzer's coercion
  * rules do not revisit it. */
case class DruidPlus(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.catalyst.expressions.{Add, UnixMillis}
  import org.apache.spark.sql.types._
  override def children: Seq[Expression] = Seq(left, right)
  private def numeric(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMillis(e)
    case TimestampNTZType => UnixMillis(Cast(e, TimestampType))
    case _ => e
  }
  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }
  override lazy val replacement: Expression = {
    (left.dataType, right.dataType) match {
      case (_: StringType, _) | (_, _: StringType) =>
        Concat(Seq(Cast(left, StringType), Cast(right, StringType)))
      case (a, b) if integral(a) && integral(b) =>
        Add(Cast(numeric(left), LongType), Cast(numeric(right), LongType))
      case (a, b) if a == b => Add(left, right)
      case _ =>
        Add(Cast(numeric(left), DoubleType), Cast(numeric(right), DoubleType))
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DruidPlus =
    copy(left = newChildren(0), right = newChildren(1))
  override def prettyName: String = "plus"
}

/** The math-expr comparison operators (==, !=, <, <=, >, >=): when ONE
  * side is a string and the other numeric, the string parses LENIENTLY to
  * a number — unparseable → null → no match (Evals.binaryOp; Expression
  * FilterTest.testOneSingleValuedStringColumn: "dim3 == 1" must not error
  * on the row holding 'a'). Both-string and both-numeric comparisons stay
  * Spark's own. Type-resolved lazily because string-ness of a column
  * operand is only known after analysis; Spark's ANSI coercion would
  * instead ERROR on the unparseable value. */
case class DruidCompare(op: String, left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types._
  override def children: Seq[Expression] = Seq(left, right)
  private def mk(l: Expression, r: Expression): Expression = op match {
    case "=" => EqualTo(l, r)
    case "<" => LessThan(l, r)
    case ">" => GreaterThan(l, r)
    case "<=" => LessThanOrEqual(l, r)
    case ">=" => GreaterThanOrEqual(l, r)
  }
  private def lenient(e: Expression): Expression =
    Cast(e, DoubleType, Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone),
      EvalMode.TRY)
  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
  private def millis(e: Expression): Expression = e.dataType match {
    case TimestampType => UnixMillis(e)
    case TimestampNTZType => UnixMillis(Cast(e, TimestampType))
    case _ => e
  }
  override lazy val replacement: Expression = (left.dataType, right.dataType) match {
    case (a, b) if a == b => mk(left, right)
    case (_: StringType, r) if r.isInstanceOf[NumericType] =>
      mk(lenient(left), Cast(right, DoubleType))
    case (l, _: StringType) if l.isInstanceOf[NumericType] =>
      mk(Cast(left, DoubleType), lenient(right))
    // the replacement skips the analyzer's coercion, so mixed numeric
    // operands align explicitly: integral pairs compare as LONGs (exact
    // beyond 2^53), anything fractional as DOUBLEs; timestamps read as
    // epoch millis
    case (a, b) if integral(a) && integral(b) =>
      mk(Cast(left, LongType), Cast(right, LongType))
    case (a, b) if (a.isInstanceOf[NumericType] || a.isInstanceOf[TimestampType] ||
          a == TimestampNTZType) &&
        (b.isInstanceOf[NumericType] || b.isInstanceOf[TimestampType] ||
          b == TimestampNTZType) =>
      mk(Cast(millis(left), DoubleType), Cast(millis(right), DoubleType))
    case _ => mk(Cast(left, StringType), Cast(right, StringType))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DruidCompare =
    copy(left = newChildren(0), right = newChildren(1))
  override def prettyName: String = s"druid_compare_$op"
}

/** math-expr `array_set_add(set, element)` (Function.java
  * ArraySetAddFunction): appends one element to a sorted distinct set. When
  * the "element" resolves to an ARRAY (a multi-value column bound inside an
  * expression-lambda fold), its elements merge into the set individually —
  * the reference's set accumulator holds scalars, so an MV input contributes
  * each value (GroupByQueryRunnerTest.testGroupByExpressionAggregatorArray-
  * MultiValue expects the flat {"a","preferred"} set from `placementish`). */
case class ArraySetAdd(setArg: Expression, element: Expression)
    extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  override def children: Seq[Expression] = Seq(setArg, element)
  override lazy val replacement: Expression = {
    val toAdd = element.dataType match {
      case _: ArrayType => element
      case _ => CreateArray(Seq(element))
    }
    // RuntimeReplaceable replacements skip the analyzer's type coercion, so
    // align the two Concat sides explicitly (an empty-set accumulator may
    // carry a NullType element type — widen it to the element's side)
    val (l, r) = (setArg.dataType, toAdd.dataType) match {
      case (a: ArrayType, b: ArrayType) if a.elementType == b.elementType =>
        (setArg, toAdd)
      case (ArrayType(org.apache.spark.sql.types.NullType, _), b) =>
        (Cast(setArg, b), toAdd)
      case (a, _) => (setArg, Cast(toAdd, a))
    }
    SortArray(ArrayDistinct(Concat(Seq(l, r))), Literal(true))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArraySetAdd =
    copy(setArg = newChildren(0), element = newChildren(1))
  override def prettyName: String = "array_set_add"
}

/** The timeFormat extraction fn's INPUT contract (TimeFormatExtractionFn
  * .apply): a numeric value is epoch MILLIS (DateTime(Long) — Druid's time
  * selector is a long), a timestamp stays a timestamp, and a string parses
  * as millis first under asMillis (GuavaUtils.tryParseLong) falling back to
  * ISO, else as ISO. Type-resolved lazily because the same extraction fn
  * applies to raw __time (timestamp) and re-extracted inner dims (long). */
case class TimeFormatExtractionInput(child: Expression, asMillis: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.catalyst.expressions.{EvalMode, MillisToTimestamp}
  import org.apache.spark.sql.types._
  override def children: Seq[Expression] = Seq(child)
  private def tryCast(e: Expression, t: DataType): Expression =
    Cast(e, t, Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone),
      EvalMode.TRY)
  override lazy val replacement: Expression = child.dataType match {
    case _: StringType if asMillis =>
      Coalesce(Seq(MillisToTimestamp(tryCast(child, LongType)),
        tryCast(child, TimestampType)))
    case _ => DruidTimeInput(child)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TimeFormatExtractionInput =
    copy(child = newChildren(0))
  override def prettyName: String = "time_format_extraction_input"
}

case class DruidGreatestLeast(children: Seq[Expression], isLeast: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Greatest, Least, UnixMillis}
  import org.apache.spark.sql.types._

  // Druid's expression type calculus: strings stay strings, fractional
  // kinds are DOUBLE, everything else (ints, booleans, timestamps-as-
  // millis) is LONG
  private def effective(t: DataType): DataType = t match {
    case _: StringType => StringType
    case DoubleType | FloatType | _: DecimalType => DoubleType
    case _ => LongType
  }

  override lazy val replacement: Expression = {
    val hasTs = children.exists(c => c.dataType match {
      case _: TimestampType | _: TimestampNTZType => true
      case _ => false
    })
    // homogeneous non-timestamp, non-decimal arguments: exactly Spark's
    // builtin (which also skips nulls) — full codegen, types untouched
    // (decimals coerce to DOUBLE below: Druid has no decimal type)
    val uniform = children.map(_.dataType).distinct
    if (!hasTs && uniform.size == 1 && !uniform.head.isInstanceOf[DecimalType]) {
      if (isLeast) Least(children) else Greatest(children)
    } else {
      val eff = children.map(c => effective(c.dataType))
      val target =
        if (eff.exists(_.isInstanceOf[StringType])) StringType
        else if (eff.contains(DoubleType)) DoubleType else LongType
      val kids = children.map { c =>
        val base: Expression = c.dataType match {
          case _: TimestampType => UnixMillis(c)
          case _: TimestampNTZType => UnixMillis(Cast(c, TimestampType))
          case _ => c
        }
        if (base.dataType == target) base else Cast(base, target)
      }
      if (isLeast) Least(kids) else Greatest(kids)
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DruidGreatestLeast = copy(children = newChildren)
  override def prettyName: String = if (isLeast) "least" else "greatest"
}

/** Druid STRING_FORMAT (Function.java:2439 StringFormatFunc →
  * StringUtils.nonStrictFormat:182): Java String.format, but a format
  * error degrades to `format; arg1; arg2...` instead of throwing. */
case class DruidStringFormat(children: Seq[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val fmt = children.head.eval(input)
    if (fmt == null) return null
    def toJava(v: Any): AnyRef = v match {
      case s: UTF8String => s.toString
      case other => other.asInstanceOf[AnyRef]
    }
    val args = children.tail.map(e => toJava(e.eval(input)))
    val f = toJava(fmt).toString
    val out =
      if (args.isEmpty) f
      else try String.format(java.util.Locale.ENGLISH, f, args: _*)
      catch {
        case _: java.util.IllegalFormatException =>
          args.foldLeft(new StringBuilder(f))((b, a) => b.append("; ").append(a)).toString
      }
    UTF8String.fromString(out)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DruidStringFormat = copy(children = newChildren)
  override def prettyName: String = "string_format"
}

/** IPV4_PARSE / IPV4_STRINGIFY dispatch on the ARGUMENT TYPE
  * (query/expression/IPv4AddressParseExprMacro.java:81-88 switches on the
  * evaluated type — STRING parses, LONG range-checks, and any OTHER type
  * (double/float included) is null, per IPv4AddressParseExpressionTest
  * testInvalidArgType; StringifyExprMacro mirrors it): a string parses only
  * from the dotted-quad form ("3232235521" → null), a long is valid iff it
  * fits unsigned 32 bits. */
case class Ipv4TypeDispatch(child: Expression, stringify: Boolean)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = if (stringify) StringType else LongType
  override def nullable: Boolean = true

  // the reference's STRING/LONG switch, resolved at plan time: only an
  // integral input takes the numeric path — a float/double is NOT truncated
  private lazy val integralInput: Boolean = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private val Dotted = "^(\\d{1,3})\\.(\\d{1,3})\\.(\\d{1,3})\\.(\\d{1,3})$".r
  private def parseDotted(s: String): Option[Long] = s match {
    case Dotted(a, b, c, d) =>
      val parts = Seq(a, b, c, d).map(_.toLong)
      if (parts.forall(_ <= 255)) Some(parts.reduce(_ * 256 + _)) else None
    case _ => None
  }
  private def toDotted(v: Long): String =
    s"${(v >> 24) & 255}.${(v >> 16) & 255}.${(v >> 8) & 255}.${v & 255}"

  override protected def nullSafeEval(v: Any): Any = {
    val asLong: Option[Long] = v match {
      case s: UTF8String => parseDotted(s.toString)
      case n: Number if integralInput =>
        val l = n.longValue()
        if (l >= 0L && l <= 0xFFFFFFFFL) Some(l) else None
      case _ => None
    }
    if (stringify)
      asLong.map {
        case _ if v.isInstanceOf[UTF8String] => v // a valid dotted string stays itself
        case l => UTF8String.fromString(toDotted(l))
      }.orNull
    else asLong.map(java.lang.Long.valueOf).orNull
  }
  override protected def withNewChildInternal(newChild: Expression): Ipv4TypeDispatch =
    copy(child = newChild)
  override def prettyName: String = if (stringify) "ipv4_stringify" else "ipv4_parse"
}

/** IPV4_MATCH(addr, 'cidr') with the reference's type-switched dispatch
  * (IPv4AddressMatchExprMacro.java:92-99 + its test): a STRING address
  * matches only as a dotted-quad (an unsigned-int string, IPv6 form, or
  * other text is false); a LONG matches by value; any OTHER input type —
  * float/double included — and null/unparseable values evaluate FALSE,
  * the macro's ofLongBoolean(false), never null. */
case class Ipv4Match(child: Expression, cidr: String)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  private lazy val integralInput: Boolean = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private val Dotted = "^(\\d{1,3})\\.(\\d{1,3})\\.(\\d{1,3})\\.(\\d{1,3})$".r
  private def parseDotted(s: String): Option[Long] = s match {
    case Dotted(a, b, c, d) =>
      val parts = Seq(a, b, c, d).map(_.toLong)
      if (parts.forall(_ <= 255)) Some(parts.reduce(_ * 256 + _)) else None
    case _ => None
  }
  // construction-time CIDR validation — the reference macro's
  // getSubnetInfo throws at PLAN time ("subnet arg has an invalid
  // format"), not per row (IPv4AddressMatchExprMacro.java)
  locally {
    val ok = cidr.split("/") match {
      case Array(base, len) => parseDotted(base).isDefined &&
        scala.util.Try(len.toInt).toOption.exists(b => b >= 0 && b <= 32)
      case _ => false
    }
    if (!ok) throw new IllegalArgumentException(
      s"Function[ipv4_match] subnet arg has an invalid format: $cidr")
  }

  @transient private lazy val (baseMasked: Long, mask: Long) = {
    val Array(base, len) = cidr.split("/")
    val baseLong = parseDotted(base).get
    val bits = len.toInt
    val m = if (bits == 0) 0L else (0xFFFFFFFFL << (32 - bits)) & 0xFFFFFFFFL
    (baseLong & m, m)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val asLong: Option[Long] = v match {
      case null => None
      case s: UTF8String => parseDotted(s.toString)
      case n: Number if integralInput =>
        val l = n.longValue()
        if (l >= 0L && l <= 0xFFFFFFFFL) Some(l) else None
      case _ => None
    }
    asLong.exists(l => (l & mask) == baseMasked)
  }
  override protected def withNewChildInternal(newChild: Expression): Ipv4Match =
    copy(child = newChild)
  override def prettyName: String = "ipv4_match"
}

case class MvToArray(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override def replacement: Expression = child.dataType match {
    case _: org.apache.spark.sql.types.ArrayType => child
    case _ => org.apache.spark.sql.catalyst.expressions.CreateArray(Seq(child))
  }
  override protected def withNewChildInternal(newChild: Expression): MvToArray =
    copy(child = newChild)
}
