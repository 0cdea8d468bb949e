package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Druid SQL INSERT DML (SURVEY §2 edge surface; reference:
  * sql/.../parser/DruidSqlInsert.java + codegen/includes/insert.ftl,
  * planner/DruidPlanner.java:212,674 validateAndGetDataSourceForInsert,
  * parser/DruidSqlParserUtils.java convertSqlNodeToGranularity; behavioral
  * corpus CalciteInsertDmlTest.java):
  *
  *   INSERT INTO <table> SELECT ... PARTITIONED BY <granularity>
  *                                  [CLUSTERED BY <col | ordinal> [DESC], ...]
  *
  * Semantics mirrored from the reference:
  *  - PARTITIONED BY is mandatory (DruidSqlInsert.java:74 friendly error),
  *    accepting HOUR / DAY / MONTH / YEAR / ALL [TIME] /
  *    FLOOR(__time TO unit) / TIME_FLOOR(__time, 'period') (insert.ftl:80).
  *  - ORDER BY on the outer SELECT is rejected — "use CLUSTERED BY instead"
  *    (DruidPlanner; LIMIT/OFFSET stay allowed:
  *    testInsertWithPartitionedByAndLimitOffset).
  *  - UPSERT and a target column list are rejected
  *    (validateAndGetDataSourceForInsert).
  *  - The target may be unqualified or qualified by the default `druid`
  *    schema only.
  *  - A time-based PARTITIONED BY requires a `__time` column in the SELECT
  *    output (the segment time chunking has nothing to bucket otherwise).
  *
  * Spark mapping: the SELECT plans through Catalyst untouched; PARTITIONED
  * BY becomes the segment-granularity directory layout (BatchIngest.write
  * time chunks — readers prune whole chunks on time predicates at any
  * scale); CLUSTERED BY becomes repartitionByRange + sortWithinPartitions
  * (the reference's range-partitioned, intra-segment-sorted layout → range
  * exchange + local sort, no global sort barrier); INSERT appends segments
  * (SaveMode.Append), the reference's add-new-segments behavior. The ingest
  * spec registers under the table name so segmentMetadata's spec-describing
  * analyses resolve, and the published table registers in the session
  * catalog for follow-up queries.
  */
object SqlInsertDml {

  final case class InsertStatement(
      target: String,
      selectSql: String,
      segmentGranularity: String,          // ISO period, or "ALL"
      clusteredBy: Seq[(String, Boolean)]) // (column name or 1-based ordinal, descending)

  // Quoted SQL text is matched unrolled and possessive: java.util.regex
  // recurses once per repetition of an alternation group like
  // `(?:[^']|'')*`, so a multi-KB inline EXTERN literal would overflow the
  // stack. A quoted identifier ("a""b" doubles escape; the lookahead keeps
  // it non-empty):
  private val QuotedIdent = "\"(?=[^\"]|\"\")[^\"]*+(?:\"\"[^\"]*+)*+\""
  // a single-quoted literal, its body captured:
  private val QuotedLiteral = "'([^']*+(?:''[^']*+)*+)'"

  // target: a dotted chain of quoted or bare identifiers — the reference's
  // Calcite grammar accepts INSERT INTO "druid".dst and quoted names
  // containing dots
  private val InsertHead =
    ("(?is)^\\s*(INSERT|UPSERT)\\s+INTO\\s+" +
      "((?:" + QuotedIdent + "|[A-Za-z_]\\w*)(?:\\.(?:" + QuotedIdent + "|[A-Za-z_]\\w*))*)" +
      "\\s*(\\([^)]*\\))?\\s+(.*)$").r
  private val PartitionedBy = "(?is)\\bPARTITIONED\\s+BY\\b".r
  private val ClusteredBy = "(?is)\\bCLUSTERED\\s+BY\\b".r

  /** FLOOR(__time TO unit) units (sql/.../expression/TimeUnits.java). */
  private val FloorUnits = Map(
    "SECOND" -> "PT1S", "MINUTE" -> "PT1M", "HOUR" -> "PT1H", "DAY" -> "P1D",
    "WEEK" -> "P1W", "MONTH" -> "P1M", "QUARTER" -> "P3M", "YEAR" -> "P1Y")

  /** Parse a Druid INSERT statement; None when `sql` is not INSERT/UPSERT. */
  def parse(sql: String): Option[InsertStatement] = sql match {
    case InsertHead(verb, targetRaw, columnList, rest) =>
      if (verb.equalsIgnoreCase("UPSERT"))
        throw new IllegalArgumentException("UPSERT is not supported.")
      if (columnList != null)
        throw new IllegalArgumentException("INSERT with target column list is not supported.")
      // dots inside quotes are part of the name; "" unescapes to "
      val target = splitTargetParts(targetRaw) match {
        case Seq(t) => t
        case Seq(schema, t) if schema.equalsIgnoreCase("druid") => t
        case _ =>
          // non-druid schemas (view.*, INFORMATION_SCHEMA.*, sys.*,
          // anything unknown) reject with the reference's message
          // (DruidPlanner.validateAndGetDataSourceForInsert)
          throw new IllegalArgumentException(
            s"Cannot INSERT into [$targetRaw] because it is not a Druid datasource.")
      }
      if (target.contains("/"))
        throw new IllegalArgumentException(
          "INSERT dataSource cannot contain the '/' character.")
      // the custom clauses trail the SELECT (insert.ftl grammar) — split on
      // the LAST occurrence so subquery text can't shadow them
      val pbMatches = PartitionedBy.findAllMatchIn(rest).toSeq
      if (pbMatches.isEmpty)
        throw new IllegalArgumentException(
          "INSERT statements must specify PARTITIONED BY clause explicitly")
      val pb = pbMatches.last
      val selectSql = rest.substring(0, pb.start).trim
      val tail = rest.substring(pb.end).trim
      val (granClause, clusterClause) = ClusteredBy.findFirstMatchIn(tail) match {
        case Some(cb) => (tail.substring(0, cb.start).trim, Some(tail.substring(cb.end).trim))
        case None => (tail, None)
      }
      Some(InsertStatement(
        target = target,
        selectSql = selectSql,
        segmentGranularity = parseGranularity(granClause),
        clusteredBy = clusterClause.map(parseClusterItems).getOrElse(Nil)))
    case _ => None
  }

  /** Split a matched target into identifier parts: dots outside quotes
    * separate, doubled quotes inside a quoted part unescape. */
  private def splitTargetParts(raw: String): Seq[String] = {
    val parts = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var i = 0; var inQ = false
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < raw.length && raw.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQ = false
        } else cur.append(c)
      } else c match {
        case '"' => inQ = true
        case '.' => parts += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    parts += cur.toString
    parts.toSeq
  }

  /** The PARTITIONED BY clause grammar (insert.ftl:80 + DruidSqlParserUtils
    * .convertSqlNodeToGranularity). Returns an ISO period or "ALL". */
  private def parseGranularity(clause: String): String = {
    val c = clause.trim.replaceAll("\\s+", " ")
    val upper = c.toUpperCase
    upper match {
      case "HOUR" => "PT1H"
      case "DAY" => "P1D"
      case "MONTH" => "P1M"
      case "YEAR" => "P1Y"
      case "ALL" | "ALL TIME" => "ALL"
      case _ =>
        val Floor = "(?i)FLOOR\\s*\\(\\s*(\\w+)\\s+TO\\s+(\\w+)\\s*\\)".r
        val TimeFloor = "(?i)TIME_FLOOR\\s*\\(\\s*(\\w+)\\s*,\\s*'([^']+)'\\s*\\)".r
        c match {
          case Floor(timeCol, unit) =>
            require(timeCol == "__time",
              "First argument to FLOOR in PARTITIONED BY clause can only be __time")
            FloorUnits.getOrElse(unit.toUpperCase, throw new IllegalArgumentException(
              s"$unit is not a valid granularity for FLOOR in PARTITIONED BY"))
          case TimeFloor(timeCol, period) =>
            require(timeCol == "__time",
              "First argument to TIME_FLOOR in PARTITIONED BY clause can only be __time")
            graft.functions.TimeFunctions.periodParts(period) // validates
            period
          case other => throw new IllegalArgumentException(
            s"Encountered '$other' after PARTITIONED BY. Expected HOUR, DAY, MONTH, " +
              "YEAR, ALL TIME, FLOOR function or TIME_FLOOR function")
        }
    }
  }

  /** CLUSTERED BY items: comma-separated column names or 1-based select
    * ordinals, each optionally DESC (insert.ftl ClusterItems → OrderItem). */
  private def parseClusterItems(clause: String): Seq[(String, Boolean)] =
    clause.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { item =>
      val Desc = "(?i)^(.*?)\\s+DESC$".r
      val Asc = "(?i)^(.*?)\\s+ASC$".r
      item match {
        case Desc(c) => (c.trim, true)
        case Asc(c) => (c.trim, false)
        case c => (c, false)
      }
    }

  // ---- EXTERN: SQL-addressable external inputs ----

  /** `TABLE(EXTERN('<inputSource>', '<inputFormat>', '<rowSignature>'))` —
    * the reference's external-input table function
    * (sql/.../external/ExternalOperatorConversion.java; corpus
    * CalciteInsertDmlTest.testInsertFromExternal*). The three arguments are
    * the JSON specs: an InputSource (`inline` with a data string, or
    * `local` with `files` / `baseDir`+`filter`), an InputFormat (csv/json
    * inline; csv/json/parquet/orc from local files), and a RowSignature
    * (`[{"name","type"}...]`, types STRING/LONG/DOUBLE/FLOAT). Each match
    * is read, cast to the declared signature, registered as a temp view,
    * and the call text replaced by the view name — the SELECT then plans
    * through Catalyst unchanged. `http` sources are rejected (this sandbox
    * has no egress; a deployment would route them through the same reader).
    */
  private[graft] val ExternRe =
    ("(?is)TABLE\\s*\\(\\s*EXTERN\\s*\\(\\s*" + QuotedLiteral + "\\s*,\\s*" +
      QuotedLiteral + "\\s*,\\s*" + QuotedLiteral + "\\s*\\)\\s*\\)").r

  /** Replace every TABLE(EXTERN(...)) with a registered temp view. */
  def rewriteExtern(spark: SparkSession, sql: String): String =
    ExternRe.replaceAllIn(sql, m => {
      def unq(s: String) = s.replace("''", "'")
      val df = readExtern(spark, unq(m.group(1)), unq(m.group(2)), unq(m.group(3)))
      val view = externView(m)
      df.createOrReplaceTempView(view)
      java.util.regex.Matcher.quoteReplacement(view)
    })

  /** The temp views [[rewriteExtern]] puts in place of `sql`'s EXTERN calls. */
  def externViews(sql: String): Set[String] = ExternRe.findAllMatchIn(sql).map(externView).toSet

  private def externView(m: scala.util.matching.Regex.Match): String =
    "extern_" + java.lang.Integer.toHexString(m.group(0).hashCode & 0x7fffffff)

  private def readExtern(spark: SparkSession, inputSource: String,
      inputFormat: String, signature: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val src = JsonMethods.parse(inputSource)
    val fmt = JsonMethods.parse(inputFormat)
    val fmtType = (fmt \ "type").extractOpt[String].getOrElse("csv")

    val raw: DataFrame = (src \ "type").extractOpt[String].getOrElse("") match {
      case "inline" =>
        val skip = (fmt \ "skipHeaderRows").extractOpt[Int].getOrElse(0)
        val lines = (src \ "data").extract[String]
          .split("\n", -1).toSeq.filter(_.nonEmpty).drop(skip)
        val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
        fmtType match {
          case "csv" => nameCsvColumns(spark.read
            .option("header", findColumnsFromHeader(fmt).toString).csv(ds), fmt)
          case "json" => spark.read.json(ds)
          case other => throw new IllegalArgumentException(
            s"inline EXTERN supports csv/json input formats, got '$other'")
        }
      case "local" =>
        val files: Seq[String] = (src \ "files") match {
          case JArray(fs) => fs.map(_.extract[String])
          case _ =>
            val base = (src \ "baseDir").extract[String]
            val filter = (src \ "filter").extractOpt[String].getOrElse("*")
            Seq(s"$base/$filter")
        }
        fmtType match {
          case "csv" => nameCsvColumns(spark.read
            .option("header", findColumnsFromHeader(fmt).toString).csv(files: _*), fmt)
          case "json" => spark.read.json(files: _*)
          case "parquet" => spark.read.parquet(files: _*)
          case "orc" => spark.read.orc(files: _*)
          case other => throw new IllegalArgumentException(
            s"local EXTERN supports csv/json/parquet/orc input formats, got '$other'")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported EXTERN inputSource type '$other' (inline and local are supported)")
    }

    // cast to the declared row signature (RowSignature.java @JsonValue:
    // [{"name","type"}...]); columns not in the signature are dropped
    val sig: Seq[(String, String)] = JsonMethods.parse(signature) match {
      case JArray(cols) => cols.map(c =>
        ((c \ "name").extract[String], (c \ "type").extract[String]))
      case _ => throw new IllegalArgumentException("EXTERN signature must be a JSON array")
    }
    val typed = sig.map { case (name, druidType) =>
      val sparkType = druidType.toUpperCase match {
        case "STRING" => "string"
        case "LONG" => "bigint"
        case "DOUBLE" => "double"
        case "FLOAT" => "float"
        case other => throw new IllegalArgumentException(
          s"unsupported EXTERN signature type '$other'")
      }
      col(name).cast(sparkType).as(name)
    }
    raw.select(typed: _*)
  }

  private def findColumnsFromHeader(fmt: org.json4s.JValue): Boolean = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    (fmt \ "findColumnsFromHeader").extractOpt[Boolean].getOrElse(false)
  }

  /** Without a header row the csv columns arrive as _c0.._cN; assign the
    * format's declared `columns` names positionally (CsvInputFormat). */
  private def nameCsvColumns(df: DataFrame, fmt: org.json4s.JValue): DataFrame = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    (fmt \ "columns") match {
      case JArray(cols) if !findColumnsFromHeader(fmt) =>
        val names = cols.map(_.extract[String])
        require(names.length == df.columns.length,
          s"csv EXTERN declares ${names.length} columns but the data has ${df.columns.length}")
        df.toDF(names: _*)
      case _ => df
    }
  }

  /** Parse + execute an INSERT statement; see the
    * [[graft.server.SqlLifecycle.Insert]] overload. */
  def run(spark: SparkSession, sql: String, outBase: String): DataFrame =
    run(spark, graft.server.SqlLifecycle.Insert(parse(sql).getOrElse(
      throw new IllegalArgumentException(s"not an INSERT statement: $sql")))(spark), outBase)

  /** Execute a classified INSERT statement: run its parsed SELECT, publish
    * through BatchIngest under `outBase/<table>`, and register the table.
    * Returns the published DataFrame. */
  def run(spark: SparkSession, ins: graft.server.SqlLifecycle.Insert,
      outBase: String = defaultOutBase): DataFrame = {
    val stmt = ins.stmt
    // SQL views are not insertable datasources (CalciteInsertDmlTest
    // .testInsertIntoView; the view schema itself is caught at parse)
    if (graft.server.PlannerResources.isView(spark, stmt.target))
      throw new IllegalArgumentException(
        s"Cannot INSERT into [view.${stmt.target}] because it is not a Druid datasource.")

    // the reference rejects ORDER BY on the outer SELECT (CLUSTERED BY owns
    // segment ordering); LIMIT/OFFSET wrappers above the Sort stay legal
    val selectPlan = ins.select
    var parsed = selectPlan
    var unwrapping = true
    while (unwrapping) parsed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => parsed = l.child
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => parsed = l.child
      case o: org.apache.spark.sql.catalyst.plans.logical.Offset => parsed = o.child
      case _ => unwrapping = false
    }
    if (parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort])
      throw new IllegalArgumentException(
        "Cannot have ORDER BY on an INSERT query, use CLUSTERED BY instead.")

    // self-insert (INSERT INTO foo SELECT ... FROM foo — the reference's
    // testInsertIntoExistingTable): materialize the read eagerly so the
    // append doesn't scan the directory it is writing into
    // (relations include expression subqueries: WHERE x IN (SELECT ... FROM
    // target) must also trigger checkpointing)
    val readsTarget = ins.relations.exists(_.last.equalsIgnoreCase(stmt.target))
    val selectedRaw = org.apache.spark.sql.graftbridge.CatalystBridge.ofRows(spark, selectPlan)
    // as SqlLifecycle.plan: whatever analyzer the session was built with
    graft.plans.PlannerChecks.illegalTimeLiterals(selectedRaw.queryExecution.analyzed)
    // r17: with CLUSTERED BY, the range exchange's boundary sampling
    // executes the full SELECT once and the shuffle map stage executes it
    // AGAIN — a lazy checkpoint bounds the INSERT to ONE execution of the
    // SELECT (the sample job materializes the blocks, the write reads
    // them), the reference's staged-shuffle shape. Self-inserts stay
    // eager: the append must not list the directory it is writing into.
    val selected =
      if (readsTarget) selectedRaw.localCheckpoint()
      else if (stmt.clusteredBy.nonEmpty) selectedRaw.localCheckpoint(false)
      else selectedRaw
    if (stmt.segmentGranularity != "ALL" && !selected.columns.contains("__time"))
      throw new IllegalArgumentException(
        "INSERT queries with a time-based PARTITIONED BY must provide a __time column")

    // CLUSTERED BY → range exchange + intra-partition sort: ordinals resolve
    // against the SELECT output, DESC flips the range/sort key
    val clusterCols: Seq[Column] = stmt.clusteredBy.map { case (ref, desc) =>
      val base =
        if (ref.forall(_.isDigit)) col(selected.columns(ref.toInt - 1))
        else expr(ref) // a column name or a simple scalar expression
      if (desc) base.desc else base.asc
    }
    // r16: the range keys are PREFIXED by the segment time chunk — the
    // reference's secondary (CLUSTERED BY) partitioning is per time chunk,
    // and a chunk-first range exchange makes each write task own a
    // contiguous run of (chunk, key) so `partitionBy(__chunk)` opens ~one
    // file per task instead of (tasks × chunks) small files (guide §6:
    // small-files; measured 3× fewer files at the gate SF). Output rows are
    // identical — only the file layout changes.
    val chunkKey: Option[Column] =
      if (stmt.segmentGranularity == "ALL") None
      else Some(date_format(graft.operators
          .PeriodGranularity(stmt.segmentGranularity).bucket(col("__time")),
        "yyyy-MM-dd'T'HH").asc)
    // r17: the chunk prefix applies only when there ARE cluster keys. With
    // CLUSTERED BY absent, rangeCols would be the chunk alone and the range
    // exchange would collapse each time chunk onto ONE task (equal range
    // keys share a partition) — a single-chunk INSERT was shuffled and then
    // written serially where the reference uses dynamic partitioning with
    // no shuffle at all. No CLUSTERED BY → no rearrangement.
    val rangeCols = if (clusterCols.isEmpty) Nil else chunkKey.toSeq ++ clusterCols
    val arranged =
      if (rangeCols.isEmpty) selected
      else selected.repartitionByRange(rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*)

    val spec = BatchIngest.IngestSpec(
      inputPath = "<sql-insert>",
      timeColumn = "__time",
      segmentGranularity = stmt.segmentGranularity,
      dataSource = Some(stmt.target))
    val outPath = s"$outBase/${stmt.target}"
    // INSERT appends segments to the datasource (the reference's add-
    // segments semantics; REPLACE would overwrite)
    BatchIngest.write(arranged, spec, outPath, SaveMode.Append)
    BatchIngest.registerSpec(outPath, spec)
    BatchIngest.registerSpec(stmt.target, spec)
    // __chunk is the segment-directory key, not part of the table's schema.
    // r17: the read-back declares the schema it just wrote (SELECT output +
    // the __chunk partition string) instead of paying a footer-inference
    // job per INSERT; partition discovery is driver-side listing only.
    val publishedSchema = org.apache.spark.sql.types.StructType(
      selected.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__chunk", org.apache.spark.sql.types.StringType, true))
    val published = spark.read.schema(publishedSchema).parquet(outPath).drop("__chunk")
    published.createOrReplaceTempView(stmt.target)
    published
  }

  private def defaultOutBase: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_dml"
}
