package graft.tools

import graft.sql.{ChFormat, ChTranspiler}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Dev-only: sweep the reference's own stateless SQL tests
  * (tests/queries/4_cnch_stateless/NNNN_*.sql + .reference) against the
  * engine — each candidate file's statements are transpiled
  * (ChTranspiler), run through `spark.sql` with the dialect registry
  * injected, formatted as ClickHouse TabSeparated (ChFormat), and the
  * concatenated output diffed against the reference's own golden file.
  * Prints PASS/FAIL per test plus a tally, and writes the passing list
  * to the path in arg 2 (default target/stateless_pass.txt) for
  * freezing into StatelessCorpusSpec's allowlist.
  *
  * Candidate filter mirrors what is meaningful to run in a single
  * embedded session: pure-SELECT files (no DDL/DML/SET/system tables/
  * FORMAT clauses), the same subset `clickhouse-test` runs statelessly.
  * Usage: runMain graft.tools.StatelessSweep [corpusDir] [outList] [maxFail]
  */
object StatelessSweep {

  private val excludeTokens = Seq(
    "ATTACH", "SLEEP", "TOTYPENAME")
  // memory-stress tests whose expected outcome is the reference's
  // MEMORY_LIMIT_EXCEEDED (error 241): we have no deterministic analog
  // — the attempted multi-TB aggregation exhausts the shared JVM heap
  // and poisons every later file in the sweep (observed twice in
  // round 11: INTERNAL_ERROR cascades from this file onward)
  private val excludeFiles = Set(
    "01586_columns_pruning.sql", "01586_columns_pruning_ck233.sql",
    "01784_parallel_formatting_memory.sql",
    "01784_parallel_formatting_memory_ck233.sql",
    // external-aggregation memory-stress pair: 10M-group aggregates
    // whose driver-side materialization ignores job cancellation and
    // burns a core for the rest of the run (same class as 01586)
    "00284_external_aggregation.sql",
    "00284_external_aggregation_ck233.sql")
  // system tables other than the modeled one-row `one` and the numbers
  // stream are out of scope
  private val systemTableRe =
    """(?i)["`]?\bsystem["`]?\s*\.\s*["`]?(?!one\b|numbers\b|numbers_mt\b)\w+""".r
  // output-format clauses are unsupported — but `INSERT … FORMAT Values`
  // is just the VALUES spelling, which ChSession handles
  private val badFormatRe = """(?i)\bFORMAT\s+(?!Values\b)\w+""".r

  def candidates(dir: String): Seq[(String, String, String)] = {
    val d = Paths.get(dir)
    Files.list(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".sql")).toSeq.sorted
      .flatMap { name =>
        val ref = name.dropRight(4) + ".reference"
        val refPath = d.resolve(ref)
        if (!Files.exists(refPath)) None
        else {
          val sqlText = new String(
            Files.readAllBytes(d.resolve(name)), "UTF-8")
          val up = sqlText.toUpperCase
          if (excludeFiles.contains(name) ||
              excludeTokens.exists(up.contains) ||
              badFormatRe.findFirstIn(sqlText).isDefined ||
              systemTableRe.findFirstIn(sqlText).isDefined ||
              sqlText.length > 64000) None
          else Some((name,
            sqlText,
            new String(Files.readAllBytes(refPath), "UTF-8")))
        }
      }
  }

  private val echoDirective = """--\s*\{\s*echo(On|Off)?\s*\}""".r

  /** Run one test file; Left(error) or Right(actual output). Honors the
    * `-- {{ echo }}` / echoOn / echoOff directives the way
    * clickhouse-test does: while active, each statement's raw text
    * (leading comments attached, `;` included) precedes its result.
    */
  private val errMarker = """\{\s*(?:server|client)Error\b""".r
  private val extremesRe = """(?i)\bextremes\s*=\s*1\b""".r

  /** WITH FILL densification over the collected (already sorted) rows —
    * the runner-side mirror of the reference's FillingTransform: missing
    * values of the fill column appear as synthetic rows stepping from
    * FROM (or the first value) to TO (exclusive), other columns at their
    * type defaults. First fill column only (hierarchical multi-column
    * fill is out of scope — those files diff out).
    */
  private def fillRows(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      specs: Seq[ChTranspiler.FillSpec]): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    val spec = specs.head
    val colName = spec.col.replaceAll("`", "").trim
    val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
    if (idx < 0) return rows
    val dt = schema(idx).dataType
    def toD(v: Any): Option[Double] = v match {
      case null => None
      case n: Number => Some(n.doubleValue())
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
      case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
      case t: java.sql.Timestamp => Some(t.toInstant.getEpochSecond.toDouble)
      case _ => None
    }
    def fromD(x: Double): Any = dt match {
      case ByteType => x.toByte
      case ShortType => x.toShort
      case IntegerType => x.toInt
      case LongType => x.toLong
      case FloatType => x.toFloat
      case DoubleType => x
      case d: DecimalType => new java.math.BigDecimal(x)
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.toLong))
      case TimestampType => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(x.toLong))
      case _ => x
    }
    def evalScalar(text: String): Option[Double] = {
      try toD(spark.sql(ChTranspiler.transpile("SELECT " + text))
        .collect()(0).get(0))
      catch { case _: Throwable => text.trim.toDoubleOption }
    }
    def defaultAt(i: Int): Any = schema(i).dataType match {
      case _: NumericType => fromDOf(schema(i).dataType, 0.0)
      case StringType => ""
      case BooleanType => false
      case DateType => java.sql.Date.valueOf("1970-01-01")
      case TimestampType => java.sql.Timestamp.from(java.time.Instant.EPOCH)
      case _: ArrayType => Seq.empty
      case _ => null
    }
    def fromDOf(t: DataType, x: Double): Any = t match {
      case ByteType => x.toByte
      case ShortType => x.toShort
      case IntegerType => x.toInt
      case LongType => x.toLong
      case FloatType => x.toFloat
      case DoubleType => x
      case d: DecimalType => new java.math.BigDecimal(x)
      case _ => x
    }
    def mk(v: Double): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row.fromSeq(schema.indices.map(i =>
        if (i == idx) fromD(v) else defaultAt(i)))
    val stepRaw = spec.step.flatMap(evalScalar).getOrElse(1.0)
    val step = math.abs(stepRaw) * (if (spec.desc) -1 else 1)
    if (step == 0) return rows
    val from = spec.from.flatMap(evalScalar)
    val to = spec.to.flatMap(evalScalar)
    val eps = 1e-9
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    var cur: Option[Double] = from
    def ahead(c: Double, v: Double): Boolean =
      if (spec.desc) c > v + eps else c < v - eps
    rows.foreach { r =>
      toD(r.get(idx)) match {
        case Some(v) =>
          if (cur.isEmpty) cur = Some(v)
          var c = cur.get
          while (ahead(c, v)) { out += mk(c); c += step }
          out += r
          // next expected value after a real row
          cur = Some(v + step)
        case None => out += r
      }
    }
    to.foreach { t =>
      var c = cur.getOrElse(return out.toSeq)
      while (ahead(c, t)) { out += mk(c); c += step }
      cur = Some(c)
    }
    out.toSeq
  }

  /** Totals fallback when the grand-total query dangles its group keys:
    * every top-level select item matching a GROUP BY item (by text or
    * alias) becomes CAST(NULL AS <its main-schema type>); after
    * execution those NULLs print as the column type's DEFAULT — the
    * reference's totals row carries default-valued key columns.
    */
  private def totalsWithKeyDefaults(
      spark: SparkSession, totSql: String, groupItems: Seq[String],
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    val norm = groupItems.map(_.replaceAll("\\s+", "").toLowerCase).toSet
    // locate the top-level select list: SELECT up to its first FROM
    // outside brackets and quotes
    import graft.sql.ChLex
    val selStart = totSql.toUpperCase.indexOf("SELECT")
    require(selStart >= 0, "no SELECT in totals query")
    val list = ChLex.tokenize(totSql.substring(selStart + 6))
    val depth = ChLex.depths(list, brackets = true)
    val from = list.indices.find(k => depth(k) == 0 &&
      list(k).text.equalsIgnoreCase("FROM")).getOrElse(list.length)
    val listEnd = selStart + 6 + ChLex.offsets(list)(from)
    val items = ChLex.splitTop(totSql.substring(selStart + 6, listEnd))
    val keyPos = scala.collection.mutable.ArrayBuffer[Int]()
    val newItems = items.zipWithIndex.map { case (item, k) =>
      val noAlias = item.replaceAll("(?is)\\s+AS\\s+[`\\w]+\\s*$", "")
      val aliasM = """(?is).*\sAS\s+(`[^`]+`|\w+)\s*$""".r
      val names = Seq(noAlias) ++ (item match {
        case aliasM(a) => Seq(a)
        case _ => Nil
      })
      val isKey = names.exists(n =>
        norm.contains(n.replaceAll("\\s+", "").toLowerCase))
      if (isKey && k < schema.length) {
        keyPos += k
        s"CAST(NULL AS ${schema(k).dataType.sql})"
      } else item
    }
    val sql2 = totSql.substring(0, selStart + 6) + " " +
      newItems.mkString(", ") + " " + totSql.substring(listEnd)
    val rows = spark.sql(ChTranspiler.transpile(sql2)).collect().toSeq
    def dflt(dt: DataType): Any = dt match {
      case _: IntegerType | _: ShortType | _: ByteType => 0
      case _: LongType => 0L
      case _: DoubleType => 0.0d
      case _: FloatType => 0.0f
      case d: DecimalType => java.math.BigDecimal.ZERO
      case StringType => ""
      case BooleanType => false
      case DateType => java.sql.Date.valueOf("1970-01-01")
      case TimestampType => java.sql.Timestamp.from(java.time.Instant.EPOCH)
      case _: ArrayType => Seq.empty
      case _ => null
    }
    // SET dialect_type='ANSI': the totals row keeps standard NULL keys
    // (10720_cube_ansi golden) instead of the CH type defaults
    val ansi = spark.conf.getOption("graft.ch.dialect").contains("ANSI")
    rows.map { r =>
      val vals = (0 until r.length).map { k =>
        if (!ansi && keyPos.contains(k) && r.isNullAt(k)) {
          val f = schema(k)
          if (f.metadata.contains("graft.ch.enumDefault"))
            f.metadata.getString("graft.ch.enumDefault")
          else dflt(f.dataType)
        }
        else r.get(k)
      }
      org.apache.spark.sql.Row.fromSeq(vals)
    }
  }

  /** min/max rows per ExtremesTransform: numeric columns compared with
    * NaN last (a NaN extreme only when every value is NaN); other types
    * min/max by natural order when comparable, else first value.
    */
  private def extremesRows(rows: Seq[org.apache.spark.sql.Row])
      : Seq[org.apache.spark.sql.Row] = {
    val n = rows.head.length
    def num(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case x: Number => Some(x.doubleValue())
      case _ => None
    }
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
    for (i <- 0 until n) {
      val vs = rows.map(_.get(i)).filter(_ != null)
      val numeric = vs.flatMap(v => num(v).map(d => (d, v)))
      if (numeric.nonEmpty) {
        val clean = numeric.filterNot(_._1.isNaN)
        val pool = if (clean.nonEmpty) clean else numeric
        mins(i) = pool.minBy(_._1)._2
        maxs(i) = pool.maxBy(_._1)._2
      } else if (vs.nonEmpty) {
        val sorted = vs.map(_.toString).sorted
        mins(i) = vs.find(_.toString == sorted.head).get
        maxs(i) = vs.find(_.toString == sorted.last).get
      }
    }
    Seq(org.apache.spark.sql.Row.fromSeq(mins.toSeq),
      org.apache.spark.sql.Row.fromSeq(maxs.toSeq))
  }

  /** spark.sql with the CH alias-scope fallback: on an unresolved
    * column, retry with top-level select aliases inlined into the
    * later clauses (ChTranspiler.inlineSelectAliases).
    */
  /** DateTime64 render hints hidden behind subquery aliases: walk the
    * ANALYZED plan (ChDispatch nodes survive analysis — they are
    * RuntimeReplaceable, replaced only by the optimizer) and resolve
    * each output attribute to its producing expression. toDateTime64's
    * literal scale/tz, and the DateTime64(3) result type of the
    * addX/subtractX family over String input, become field metadata the
    * formatter understands (ChFormat.colHint).
    */
  private val dateAddNames = Set("addYears", "addMonths", "addQuarters",
    "addWeeks", "addDays", "addHours", "addMinutes", "addSeconds",
    "subtractYears", "subtractMonths", "subtractQuarters",
    "subtractWeeks", "subtractDays", "subtractHours", "subtractMinutes",
    "subtractSeconds")
  private def dt64Schema(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    // phase 1: every Alias in the plan, including inside subquery
    // plans, indexed by exprId
    val aliasChild = scala.collection.mutable.Map[ExprId, Expression]()
    def collect(plan: LogicalPlan): Unit = plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: Alias => aliasChild(a.exprId) = a.child
        case sq: SubqueryExpression => collect(sq.plan)
        case _ => ()
      })
    }
    // phase 2: resolve an expression to its DateTime64 render hint
    def hintOf(e: Expression, depth: Int)
        : Option[(Option[Int], Option[String])] = if (depth > 12) None
    else e match {
      case a: Alias => hintOf(a.child, depth + 1)
      case ar: AttributeReference =>
        if (ar.metadata.contains("graft.ch.dt64") ||
            ar.metadata.contains("graft.ch.tz")) {
          val sc = if (ar.metadata.contains("graft.ch.dt64"))
            Some(ar.metadata.getLong("graft.ch.dt64").toInt) else None
          val tz = if (ar.metadata.contains("graft.ch.tz"))
            Some(ar.metadata.getString("graft.ch.tz")) else None
          Some((sc, tz))
        } else aliasChild.get(ar.exprId).flatMap(hintOf(_, depth + 1))
      case sq: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        sq.plan.output.headOption.flatMap(hintOf(_, depth + 1))
      case d: graft.sql.ChDispatch if d.name == "toDateTime64" =>
        val sc = d.children.lift(1).collect {
          case Literal(v, _) if v != null => v.toString.toInt }
        val tz = d.children.lift(2).collect {
          case Literal(v, _) if v != null => v.toString }
        sc.map(s => (Some(s), tz))
      case d: graft.sql.ChDispatch if d.name == "toDateTime" =>
        d.children.lift(1).collect {
          case Literal(v, _) if v != null => v.toString } match {
          case Some(z) => Some((None, Some(z)))
          // bare toDateTime(x) keeps x's column timezone
          case None => hintOf(d.children.head, depth + 1)
        }
      case d: graft.sql.ChDispatch if dateAddNames.contains(d.name) &&
          d.childrenResolved =>
        // result keeps the input's DateTime64 type; a STRING input
        // parses as DateTime64(3) (reference
        // FunctionDateOrDateTimeAddInterval over String)
        if (d.children.head.dataType ==
            org.apache.spark.sql.types.StringType) Some((Some(3), None))
        else hintOf(d.children.head, depth + 1)
      // a DateTime-typed expression built OVER a tz-typed constructor
      // (timeSlot, toStartOf*, …) keeps the constructor's display zone;
      // only an unambiguous single zone in the subtree counts
      case e2 if e2.resolved && (e2.dataType match {
        case org.apache.spark.sql.types.TimestampType => true
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.TimestampType, _) => true
        case _ => false
      }) =>
        val zones = e2.collect {
          case d: graft.sql.ChDispatch
              if d.name == "toDateTime" || d.name == "toDateTime64" =>
            d.children.drop(if (d.name == "toDateTime") 1 else 2)
              .headOption.collect {
                case Literal(v, _) if v != null => v.toString }
        }.flatten.distinct
        if (zones.size == 1) Some((None, Some(zones.head))) else None
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    collect(plan)
    def resolve(id: ExprId, depth: Int)
        : Option[(Option[Int], Option[String])] =
      aliasChild.get(id).flatMap(hintOf(_, depth))
    val out = plan.output
    org.apache.spark.sql.types.StructType(
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        if (f.metadata.contains("graft.ch.dt64")) f
        else out.lift(i).flatMap(a => resolve(a.exprId, 0)) match {
          case Some((s, tz)) =>
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            s.foreach(v => mb.putLong("graft.ch.dt64", v.toLong))
            tz.foreach(mb.putString("graft.ch.tz", _))
            f.copy(metadata = mb.build())
          case None => f
        }
      })
  }

  private def chSql(spark: SparkSession, stripped: String)
      : org.apache.spark.sql.DataFrame = {
    var sqlText = ChTranspiler.transpile(stripped)
    var triedInline = false
    var attempts = 0
    while (true) {
      try return spark.sql(sqlText)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          val m = String.valueOf(e.getMessage)
          // CH left-table preference for ambiguous unqualified columns:
          // qualify the occurrence the error points at (position-exact,
          // works inside subqueries), else the scope-0 token walk.
          // Bounded — each pass fixes one occurrence.
          val dis =
            if (attempts >= 8) None
            else ChTranspiler.disambiguateAt(sqlText, m).orElse(
              ChTranspiler.disambiguate(sqlText, m)).orElse(
              ChTranspiler.fixUsingAlias(sqlText, m))
          dis match {
            case Some(s) if s != sqlText =>
              sqlText = s; attempts += 1
            case _ if m.contains("UNRESOLVED_COLUMN") && !triedInline =>
              triedInline = true
              // before any disambiguation fix, inline on the RAW text and
              // re-transpile (the arrayJoin-in-WHERE hoist happens at
              // transpile time — 00559); after fixes, inline the CURRENT
              // text so they survive
              sqlText =
                if (attempts == 0)
                  ChTranspiler.transpile(
                    ChTranspiler.inlineSelectAliases(stripped))
                else ChTranspiler.inlineSelectAliases(sqlText)
            case _ => throw e
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def run(spark: SparkSession, sqlText: String): Either[String, String] = {
    // transpiler dialect gates read SQLConf.get = the ACTIVE session's
    // conf; a caller-built child session (StatelessCorpusSpec) is not
    // active on this thread unless pinned
    SparkSession.setActiveSession(spark)
    // DateTime text zone = the session's own timezone (session-scoped,
    // no shared mutable state between parallel suites). A def, not a
    // val: SET session_timezone mid-file re-points it (02737-02739)
    def zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    // one ChSession per file = one scratch database per test, the same
    // isolation clickhouse-test provides server-side
    val session = new graft.sql.ChSession(spark)
    try {
      var echo = false
      // unfiltered split: comment-only segments carry trailing
      // `-- {{ serverError }}` markers for the statement before them
      val stmts = ChTranspiler.statementsRawAll(sqlText)
      val outputs = stmts.zipWithIndex.flatMap {
        case ((raw, clean), k) if clean.nonEmpty =>
          echoDirective.findAllMatchIn(raw).foreach { m =>
            echo = m.group(1) == null || m.group(1) == "On"
          }
          // `-- {{ serverError N }}`: the statement is EXPECTED to fail;
          // a failure contributes no output. (If it unexpectedly
          // succeeds, its output — if any — feeds the diff, which is
          // the observable-behavior check we actually run.) The marker
          // usually trails the `;` on the same line, so it lives at the
          // HEAD of the next statement's raw text. A marker only counts
          // as trailing when nothing but whitespace/comment punctuation
          // precedes it on that line — and a marker CONSUMED from
          // statement k's tail must not double as statement k+1's own
          // (a genuine k+1 failure would be silently swallowed).
          def trailingMarker(head: String): Boolean =
            errMarker.findFirstMatchIn(head).exists(m =>
              head.substring(0, m.start).forall(c =>
                c.isWhitespace || c == '-' || c == '/' || c == '*'))
          val nextHead = if (k + 1 < stmts.length)
            stmts(k + 1)._1.takeWhile(_ != '\n') else ""
          val firstLine = raw.takeWhile(_ != '\n')
          // head-of-raw marker consumed by the PREVIOUS statement
          val headConsumed = k > 0 && trailingMarker(firstLine)
          val ownMarker = errMarker.findAllMatchIn(raw).exists(m =>
            !(headConsumed && m.start < firstLine.length))
          val expectErr = ownMarker || trailingMarker(nextHead)
          // trailing `SETTINGS … session_timezone='z'` scopes the zone
          // to THIS statement (02737); the LAST occurrence is the outer
          // query's (an inner subquery's SETTINGS is ignored, same as
          // the reference)
          val stmtTz = """(?i)\bsession_timezone\s*=\s*'([^']*)'""".r
            .findAllMatchIn(clean).toSeq.lastOption.map(_.group(1))
            .filter(_ => !clean.toUpperCase.startsWith("SET "))
          val tzBefore = spark.conf.get("spark.sql.session.timeZone")
          val result: Option[String] =
            try {
              stmtTz.foreach { z =>
                try java.time.ZoneId.of(z) catch {
                  case _: Exception => throw new IllegalArgumentException(
                    s"Invalid time zone '$z' (BAD_ARGUMENTS)")
                }
                spark.conf.set("spark.sql.session.timeZone", z)
              }
              session.execute(graft.sql.ChSession.stripDbRefs(clean)) match {
                case graft.sql.ChSession.Done => None
                case graft.sql.ChSession.Output(rows) =>
                  Some(ChFormat.formatRows(rows, zone))
                case graft.sql.ChSession.NotHandled =>
                  val stripped = session.expandStar(
                    graft.sql.ChSession.stripDbRefs(clean))
                  ChTranspiler.stripWithFill(stripped) match {
                    case Some((cleaned, specs)) =>
                      // WITH TOTALS composes with WITH FILL (01921):
                      // fill the group rows, then append the totals row
                      val (fillSql, totPart) =
                        ChTranspiler.splitTotals(cleaned) match {
                          case Some((m, t, gi)) => (m, Some((t, gi)))
                          case None => (cleaned, None)
                        }
                      val df = chSql(spark, fillSql)
                      val rows = df.collect().toSeq
                      val filled = fillRows(spark, rows, df.schema, specs)
                      totPart match {
                        case Some((totSql, groupItems)) =>
                          val totRows =
                            try spark.sql(ChTranspiler.transpile(totSql))
                              .collect().toSeq
                            catch {
                              case _: Throwable => totalsWithKeyDefaults(
                                spark, totSql, groupItems, df.schema)
                            }
                          Some(ChFormat.formatRows(filled, zone, dt64Schema(df)) +
                            "\n\n" + ChFormat.formatRows(totRows, zone))
                        case None =>
                          if (filled.nonEmpty)
                            Some(ChFormat.formatRows(filled, zone, dt64Schema(df)))
                          else None
                      }
                    case None =>
                  // joined-subquery totals FIRST: splitTotals' bare
                  // pass-through case would otherwise misclaim
                  // `SELECT * FROM (… WITH TOTALS) l JOIN …` (01107)
                  ChTranspiler.splitJoinTotals(stripped) match {
                    case Some((mSql, tSql)) =>
                      val mainRows =
                        spark.sql(ChTranspiler.transpile(mSql)).collect().toSeq
                      val totRows =
                        spark.sql(ChTranspiler.transpile(tSql)).collect().toSeq
                      // zero group rows print ONE leading blank before
                      // the totals row, not two (01107's empty-table
                      // queries)
                      Some((if (mainRows.isEmpty) "\n"
                        else ChFormat.formatRows(mainRows, zone) + "\n\n") +
                        ChFormat.formatRows(totRows, zone))
                    case None =>
                  ChTranspiler.splitTotals(stripped) match {
                    case Some((mainSql, totSql, groupItems)) =>
                      // WITH TOTALS: group rows, blank line, grand total
                      val mainDf = spark.sql(ChTranspiler.transpile(mainSql))
                      val mainRows = mainDf.collect().toSeq
                      val totRows =
                        try spark.sql(ChTranspiler.transpile(totSql)).collect().toSeq
                        catch {
                          // group keys dangle without the GROUP BY —
                          // substitute them with typed NULLs and print
                          // the type default, as TotalsHavingTransform
                          // does for the totals row's key columns
                          case _: Throwable =>
                            totalsWithKeyDefaults(
                              spark, totSql, groupItems, mainDf.schema)
                        }
                      Some(ChFormat.formatRows(mainRows, zone) + "\n\n" +
                        ChFormat.formatRows(totRows, zone))
                    case None =>
                      // a WITH TOTALS whose stream is consumed by an
                      // aggregating outer query: strip the modifier,
                      // only the group rows are observable
                      val strippedT =
                        if ("""(?i)\bWITH\s+TOTALS\b""".r
                            .findFirstIn(stripped).isDefined)
                          """(?i)\bWITH\s+TOTALS\b""".r
                            .replaceAllIn(stripped, " ")
                        else stripped
                      val gdf = chSql(spark, strippedT)
                      val rows = gdf.collect().toSeq
                      val gsch = dt64Schema(gdf)
                      // SETTINGS extremes=1: rows, blank line, then the
                      // min and max row over numeric columns (NaN and
                      // NULL excluded unless nothing else remains —
                      // reference ExtremesTransform.cpp)
                      if (extremesRe.findFirstIn(stripped).isDefined && rows.nonEmpty)
                        Some(ChFormat.formatRows(rows, zone, gsch) + "\n\n" +
                          ChFormat.formatRows(extremesRows(rows), zone, gsch))
                      // empty-string ROW is an output line; empty ROWSET is not
                      else if (rows.nonEmpty)
                        Some(ChFormat.formatRows(rows, zone, gsch))
                      else None
                  }
                  }
                  }
              }
            } catch {
              // an OutOfMemoryError is NEVER an acceptable "expected
              // error": it poisons the shared JVM, and banking a file
              // whose pass depends on an OOM would be flaky — rethrow
              case e: Throwable if expectErr && {
                var c: Throwable = e; var oom = false
                while (c != null && !oom) {
                  oom = c.isInstanceOf[OutOfMemoryError]
                  c = if (c.getCause eq c) null else c.getCause
                }
                if (oom) throw e
                true
              } => None
            } finally {
              if (stmtTz.isDefined)
                spark.conf.set("spark.sql.session.timeZone", tzBefore)
            }
          (if (echo) Seq(raw) else Nil) ++ result.toSeq
        case ((raw, _), _) =>
          // comment-only segment: may still flip the echo directive
          echoDirective.findAllMatchIn(raw).foreach { m =>
            echo = m.group(1) == null || m.group(1) == "On"
          }
          Nil
      }
      Right(outputs.mkString("\n"))
    } catch {
      case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(2).mkString(" "))
    } finally session.close()
  }

  /** Per-file watchdog, in seconds (`SPARK_GRAFT_SWEEP_TIMEOUT_S`
    * overrides): one pathological test (runaway generate, a planner bug)
    * must cost its own slice, not the rest of the sweep. 240 s: only ONE
    * corpus file is >60 s (10045, ~90 s of unique-key merges) and
    * runaway files are rare — a pathological loop still costs a bounded
    * slice.
    */
  val fileTimeoutS: Long = sys.env.getOrElse("SPARK_GRAFT_SWEEP_TIMEOUT_S", "240").toLong

  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .getOrElse("/root/reference/tests/queries/4_cnch_stateless")
    val outList = if (args.length > 1) args(1) else "target/stateless_pass.txt"
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_SWEEP_TZ", corpusTz))
    var pass = 0; var diff = 0; var err = 0
    val passed = Seq.newBuilder[String]
    // Dev subset filter: regex over file names (unset = all candidates).
    val onlyRe = sys.env.get("SPARK_GRAFT_SWEEP_ONLY").map(_.r)
    val timeoutS = fileTimeoutS
    // daemon threads so an abandoned runner cannot pin the JVM open; a
    // fresh pool replaces a timed-out one — a cancelled task that sits
    // in a hot loop (driver-side array materialization ignores
    // interrupts) would otherwise queue every later file behind it
    val tf = new java.util.concurrent.ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "sweep-runner"); t.setDaemon(true); t
      }
    }
    var pool = java.util.concurrent.Executors.newSingleThreadExecutor(tf)
    def runGuarded(sqlText: String): Either[String, String] = {
      val task = pool.submit(new java.util.concurrent.Callable[Either[String, String]] {
        def call(): Either[String, String] = run(spark, sqlText)
      })
      try task.get(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          task.cancel(true)
          pool.shutdownNow()
          pool = java.util.concurrent.Executors.newSingleThreadExecutor(tf)
          Left(s"timeout after ${timeoutS}s")
        case e: Throwable => Left(Option(e.getMessage).getOrElse(e.toString))
      }
    }
    candidates(dir)
      .filter { case (name, _, _) =>
        onlyRe.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, sqlText, expected) =>
      runGuarded(sqlText) match {
        case Right(actual)
            if actual.replaceAll("\n+$", "") ==
              expected.replaceAll("\n+$", "") =>
          pass += 1; passed += name
          println(s"PASS $name")
        case Right(actual) =>
          diff += 1
          println(s"DIFF $name")
          val e = expected.stripLineEnd.linesIterator.take(3).mkString("|")
          val a = actual.stripLineEnd.linesIterator.take(3).mkString("|")
          println(s"  want: ${e.take(160)}")
          println(s"  got:  ${a.take(160)}")
          // full actual output for offline diffing against .reference
          val dumpDir = Paths.get("target/stateless_diff")
          Files.createDirectories(dumpDir)
          Files.write(dumpDir.resolve(name + ".out"),
            (actual.stripLineEnd + "\n").getBytes("UTF-8"))
        case Left(msg) =>
          err += 1
          println(s"ERR  $name: ${msg.take(160)}")
      }
    }
    println(s"[sweep] pass=$pass diff=$diff err=$err")
    Files.createDirectories(Paths.get(outList).getParent)
    Files.write(Paths.get(outList),
      passed.result().mkString("", "\n", "\n").getBytes("UTF-8"))
    pool.shutdownNow()
    spark.stop()
  }

  /** The corpus's ClickHouse semantics as runtime confs, each a shim a
    * library session must never carry (SessionIsolationSpec).
    */
  val corpusConfs: Seq[(String, String)] = Seq(
    // set-operation row order is partition-order-deterministic, so the
    // banked goldens assume 8 shuffle partitions
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // ClickHouse has NO ordinal GROUP BY / ORDER BY — `GROUP BY 1`
    // groups by the constant 1 (one group), matching these off
    "spark.sql.groupByOrdinal" -> "false",
    "spark.sql.orderByOrdinal" -> "false",
    // CH join padding, ROLLUP keys, IEEE `/` and ALL set operations
    // (every rule the flag's scaladoc lists)
    graft.sql.ChCoercions.CorpusFlag -> "true",
    // CH map columns tolerate duplicate keys (last write wins)
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    // CH double-quoted tokens are IDENTIFIERS ("col" = `col`)
    "spark.sql.ansi.doubleQuotedIdentifiers" -> "true")

  /** Give `spark` the corpus semantics: [[corpusConfs]], session zone
    * `tz` and the strict dialect registry
    * ([[graft.sql.ClickHouseAliases.strictFunctions]]), whose entries
    * replace same-named Spark builtins (e.g. `length` counts bytes).
    */
  def configure(spark: SparkSession, tz: String): SparkSession = {
    corpusConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.conf.set("spark.sql.session.timeZone", tz)
    graft.sql.ClickHouseAliases.injectStrict(spark)
    spark
  }

  /** A session that runs corpus files exactly as the sweep does. */
  def session(tz: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config(graft.Engine.sharedConf)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark, tz)
  }

  /** The reference corpus's golden outputs are generated with the server
    * timezone pinned to Europe/Moscow (clickhouse-test TZ); match it for
    * both computation and DateTime text.
    */
  val corpusTz = "Europe/Moscow"
}
