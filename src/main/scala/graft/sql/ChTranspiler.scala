package graft.sql

import scala.collection.mutable.ArrayBuffer

/** Token-level transpiler for the ClickHouse-specific SYNTAX (not
  * function names — those resolve through the dialect registry injected
  * by GraftExtensions) that appears in the reference's own stateless
  * test corpus (/root/reference/tests/queries/4_cnch_stateless/): the
  * pieces Spark's parser cannot read.
  *
  *  - `[a, b]` array literals → `array(a, b)` (reference parser
  *    ParserArrayOfLiterals, /root/reference/src/Parsers/ExpressionListParsers.cpp);
  *    brackets after a value expression are 1-based element access
  *    instead → `element_at(expr, idx)` (same 1-based convention).
  *  - bare `dummy` (the implicit system.one column) → `0`.
  *  - statement splitting on top-level `;`, `--` and `/* */` comment
  *    stripping — the shape `clickhouse-test` feeds the server.
  *
  * Deliberately conservative: anything the tokenizer does not
  * understand is passed through untouched, so a transpile never turns
  * working SQL into silently different SQL — it can only leave
  * ClickHouse syntax in place for Spark's parser to reject loudly.
  */
object ChTranspiler {

  import ChLex._

  /** Split a test file's text into top-level statements, each paired
    * with its RAW text: (raw, clean). Semicolons inside string literals
    * do not split. The clean text has `--`, `#` and `/* */` comments
    * stripped; the raw text keeps them, with the trailing `;` and the
    * comments since the previous statement — the text `clickhouse-test`
    * echoes verbatim when a `-- {{ echo }}` directive is active
    * (reference tests/clickhouse-test query echo mode). Comment-only
    * segments are KEPT (empty clean text): the corpus's trailing
    * `-- {{ serverError }}` marker after the file's last `;` lives in
    * such a segment, and the sweep's expected-error attribution needs
    * to see it.
    */
  def statementsRawAll(sqlText: String): Seq[(String, String)] = {
    val out = ArrayBuffer[(String, String)]()
    val cur = new StringBuilder
    var segStart = 0
    val n = sqlText.length
    foreachUnit(sqlText) { (a, b, comment) =>
      val c = sqlText.charAt(a)
      if (comment) { if (c == '/') cur.append(' ') }
      else if (c == ';') {
        out += ((sqlText.substring(segStart, b).trim, cur.toString.trim))
        cur.clear(); segStart = b
      } else if (c == '\n' && {
          // the client ends INSERT … VALUES data at the NEWLINE — a
          // following line starting a new statement keyword is a new
          // statement even without `;` (600201_mysql_if)
          val t = cur.toString.trim
          ("""(?is)^INSERT\s.*\bVALUES\b""".r.findFirstIn(t).isDefined ||
            """(?is)^INSERT\s.*\bFORMAT\s+Values\b""".r.findFirstIn(t)
              .isDefined) &&
            t.endsWith(")") && balanced(t) && {
              var k = b
              while (k < n && sqlText.charAt(k).isWhitespace) k += 1
              k < n && sqlText.charAt(k).isLetter
            } }) {
        out += ((sqlText.substring(segStart, a).trim, cur.toString.trim))
        cur.clear(); segStart = b
      } else cur.append(sqlText.substring(a, b))
    }
    out += ((sqlText.substring(segStart, n).trim, cur.toString.trim))
    out.toSeq
  }

  /** True when a `[` following `prev` opens an array LITERAL (otherwise
    * it is element access on the preceding value).
    */
  private def opensLiteral(prev: Option[Tok]): Boolean = prev match {
    case None => true
    case Some(Word(w)) => // keywords continue an expression context
      val kw = w.toUpperCase
      Set("SELECT", "AS", "IN", "AND", "OR", "NOT", "WHERE", "BY", "ON",
        "WHEN", "THEN", "ELSE", "RETURN", "UNION", "ALL", "DISTINCT",
        "HAVING", "LIMIT", "OFFSET", "FROM", "JOIN", "ARRAY", "SETTINGS",
        "INTERVAL", "CASE", "BETWEEN", "LIKE", "IS", "NULL", "ORDER",
        "GROUP").contains(kw)
    case Some(Punct(p)) => p != ")" && p != "]"
    case Some(_: Str) | Some(_: Num) => false
    case Some(_: Ws) | Some(_: Comment) => true // handled by caller (skips ws)
  }

  /** ClickHouse type name → Spark SQL type, for CAST targets. */
  private def chType(w: String): Option[String] = w match {
    case "UInt8" | "UInt16" | "UInt32" | "Int8" | "Int16" | "Int32" => Some("INT")
    case "UInt64" | "Int64" => Some("BIGINT")
    case "Float32" => Some("FLOAT")
    case "Float64" => Some("DOUBLE")
    case "String" => Some("STRING")
    case "Date" | "Date32" => Some("DATE")
    case "DateTime" | "DateTime64" | "DATETIME" | "datetime" =>
      Some("TIMESTAMP")
    case "UUID" => Some("STRING")
    case _ => None
  }

  // ---- the token stream ------------------------------------------------
  //
  // `transpile` lexes its statement once; every rewrite below is a
  // `Vector[Tok] => Vector[Tok]` pass (the ordered list is [[passes]])
  // and the result is rendered once, after the last pass. A pass splices
  // slices of its input; the only text it lexes is a constant SQL
  // fragment or the text inside a literal, through [[frag]]. A pass's
  // output lexes back to itself (adjacent whitespace tokens merged), so
  // handing tokens on equals rendering and lexing again.

  /** The tokens of a compile-time constant SQL fragment, or of the text
    * inside a literal that a rewrite turns into SQL (a type string, a
    * table name): the only text a rewrite pass lexes.
    */
  private def frag(s: String): Vector[Tok] = tokenize(s)

  /** `tk"… $x …"`: a rewrite's output as tokens. The literal parts are
    * constant SQL, lexed by [[frag]]; each argument, a token or a token
    * sequence taken from the statement, is spliced in as it is.
    */
  private implicit class TokInterpolator(sc: StringContext) {
    def tk(args: Any*): Vector[Tok] = {
      val out = Vector.newBuilder[Tok]
      sc.parts.zipAll(args, "", Nil).foreach { case (part, arg) =>
        out ++= frag(part)
        arg match {
          case t: Tok => out += t
          case ts: Seq[_] => ts.foreach { case t: Tok => out += t }
        }
      }
      out.result()
    }
  }

  /** `ts` without the leading and trailing blanks that `String.trim`
    * drops from its text.
    */
  private def trimWs(ts: Seq[Tok]): Vector[Tok] = {
    def blank(t: Tok) = t match {
      case _: Ws => true
      case Punct(p) => p.charAt(0) <= ' '
      case _ => false
    }
    val a = ts.indexWhere(!blank(_))
    if (a < 0) Vector.empty else ts.slice(a, ts.lastIndexWhere(!blank(_)) + 1).toVector
  }

  /** The non-whitespace tokens of `ts`. */
  private def sigToks(ts: Seq[Tok]): Vector[Tok] = ts.filterNot(_.isInstanceOf[Ws]).toVector

  /** Length of the text `ts` renders to. */
  private def textLength(ts: Seq[Tok]): Int = ts.iterator.map(_.text.length).sum

  /** `parts` with `, ` between them. */
  private def commaList(parts: Seq[Seq[Tok]]): Vector[Tok] =
    parts.zipWithIndex.flatMap { case (p, k) =>
      (if (k > 0) Vector(Punct(","), Ws(" ")) else Vector.empty) ++ p
    }.toVector

  /** Indices of the tokens directly inside the `(` at `open`, which the
    * `)` at `close` closes.
    */
  private def inside(ts: Seq[Tok], open: Int, close: Int): IndexedSeq[Int] = {
    val d = depths(ts.slice(open + 1, close))
    (open + 1 until close).filter(k => d(k - open - 1) == 0)
  }

  /** Index of the `)` closing the `(` at `open`, or `ts.length` when it
    * never closes.
    */
  private def closeOrEnd(ts: Seq[Tok], open: Int): Int = {
    val c = balancedClose(ts, open)
    if (c < 0) ts.length else c
  }

  /** `a ++ b`, with a space between where they would otherwise glue. */
  private def join(a: Seq[Tok], b: Seq[Tok]): Vector[Tok] =
    if (a.nonEmpty && b.nonEmpty && runsInto(a.last, b.head)) (a.toVector :+ Ws(" ")) ++ b
    else a.toVector ++ b

  /** `ts` without whitespace, except where two tokens would glue. */
  private def squeeze(ts: Seq[Tok]): Vector[Tok] =
    sigToks(ts).foldLeft(Vector.empty[Tok])((acc, t) => join(acc, Vector(t)))

  /** One named rewrite over the statement's tokens. */
  private[graft] final case class Pass(name: String, run: Vector[Tok] => Vector[Tok])

  /** The rewrites up to and including the main loop. */
  private[graft] val prePasses: Seq[Pass] = Seq(
    Pass("rewriteRemote", rewriteRemote),
    Pass("rewriteTimeType", rewriteTimeType),
    Pass("rewriteCastEnum", rewriteCastEnum),
    Pass("rewriteConvert", rewriteConvert),
    Pass("mysqlPasses", mysqlPasses),
    Pass("rewriteNullableCast", rewriteNullableCast),
    Pass("rewriteTypes", rewriteTypes),
    Pass("rewriteCastDecimal", rewriteCastDecimal),
    Pass("mergePrewhere", mergePrewhere),
    Pass("mainLoop", mainLoop))

  /** The rewrites after the main loop, on a statement whose brackets
    * balance ([[ChLex.bracketsBalance]]).
    */
  private[graft] val postPasses: Seq[Pass] = Seq(
    Pass("rewriteValuesTable", rewriteValuesTable),
    Pass("rewriteDynamicInterval", rewriteDynamicInterval),
    Pass("parenthesizeUsing", parenthesizeUsing),
    Pass("rewriteMapLiterals", rewriteMapLiterals),
    Pass("rewritePositionIn", rewritePositionIn),
    Pass("rewriteTwoArgCast", rewriteTwoArgCast),
    Pass("rewriteCountStar", rewriteCountStar),
    Pass("rewriteLimitOffset", rewriteLimitOffset),
    Pass("rewriteGroupsFrame", rewriteGroupsFrame),
    Pass("stripRankFrames", stripRankFrames),
    Pass("fixOrderlessRange", fixOrderlessRange),
    Pass("wrapWindowSums", wrapWindowSums),
    Pass("rewriteInfixMod", rewriteInfixMod),
    Pass("rewriteScalarWithDeep", rewriteScalarWithDeep),
    Pass("rewriteInlineAliases", rewriteInlineAliases),
    Pass("rewriteWhereAliases", rewriteWhereAliases),
    Pass("rewriteTernary", rewriteTernary),
    Pass("rewriteParenLambda", rewriteParenLambda),
    Pass("rewriteUnionBranches", rewriteUnionBranches),
    Pass("rewriteTupleLiterals", rewriteTupleLiterals),
    Pass("rewriteNestedCols", rewriteNestedCols),
    Pass("rewriteInClauses", rewriteInClauses),
    Pass("rewriteArrayJoin", rewriteArrayJoin),
    Pass("rewriteNestedArrayJoinDeep", rewriteNestedArrayJoinDeep),
    Pass("rewriteCollate", rewriteCollate),
    Pass("rewriteOrderNulls", rewriteOrderNulls),
    Pass("guardSelectStringHead", guardSelectStringHead),
    Pass("rewriteLimitBy", rewriteLimitBy),
    Pass("rewriteAnyJoin", rewriteAnyJoin),
    Pass("rewriteBareSetOps", rewriteBareSetOps))

  /** Every rewrite of [[transpile]], in order. */
  private[graft] def passes: Seq[Pass] = prePasses ++ postPasses

  def transpile(stmt: String): String = transpile(stmt, false)

  /** Transpile one statement's ClickHouse syntax to Spark-parseable SQL:
    * lex once, fold [[passes]], render once. `widenInts` widens integer
    * literals first (INSERT VALUES tuples).
    */
  def transpile(stmt: String, widenInts: Boolean): String = {
    val lexed = tokenize(stripComments(stmt))
    val main = prePasses.foldLeft(if (widenInts) widenIntLiterals(lexed) else lexed)(
      (ts, p) => p.run(ts))
    // a closer that closes nothing of its kind or an opener that never
    // closes: no pass below can make sense of the statement (a `{`
    // becomes `map(`), so Spark's parser gets it as written and reports it
    if (!bracketsBalance(main)) return stmt
    val out = postPasses.foldLeft(main)((ts, p) => p.run(ts))
    // Late-bound combinator chains (sumForEachIf, quantilesTimingState…):
    // register composed builders for any not-yet-registered aggregate
    // name in this statement, so spark.sql resolves them like the
    // reference's AggregateFunctionCombinatorFactory does on demand.
    ChCombinators.registerMissing(out)
    render(out)
  }

  /** `remote('addr', table)` / `remoteSecure(...)` — a distribution
    * wrapper around the named table (reference TableFunctionRemote); a
    * single engine reads the table directly. Handles the two-argument
    * address+table form (the corpus shape); the db-expression form
    * `remote(addr, currentDatabase(), 't')` reduces to the table name.
    */
  private def rewriteRemote(ts: Vector[Tok]): Vector[Tok] = {
    if (!ts.exists(t => isWordI(t, "remote") || isWordI(t, "remoteSecure"))) return ts
    // a run of adjacent tokens spelling `[`\w.]+`, from `a`: its end
    def nameEnd(a: Int): Int = {
      var k = a
      while (k < ts.length && ts(k).text.forall(c =>
          c < 128 && (c.isLetterOrDigit || c == '_' || c == '.' || c == '`')) &&
          !ts(k).isInstanceOf[Ws] && !ts(k).isInstanceOf[Str]) k += 1
      k
    }
    def table(i: Int): Option[(Vector[Tok], Int)] = {
      val open = nextSig(ts, i + 1)
      val addr = nextSig(ts, open + 1)
      val comma = nextSig(ts, addr + 1)
      val a = nextSig(ts, comma + 1)
      val shape = a < ts.length && ts(open) == Punct("(") && ts(comma) == Punct(",") &&
        (ts(addr) match {
          case Str(s) => s.length >= 2 && s.head == '\'' && s.last == '\'' &&
            !s.substring(1, s.length - 1).contains('\'')
          case _ => false
        })
      if (!shape) return None
      val e = nameEnd(a)
      val close = nextSig(ts, e)
      if (e > a && close < ts.length && ts(close) == Punct(")"))
        return Some((ts.slice(a, e), close))
      // remote(addr, currentDatabase(…), 't' | t)
      val dbOpen = nextSig(ts, a + 1)
      if (!isWordI(ts(a), "currentDatabase") || dbOpen >= ts.length ||
          ts(dbOpen) != Punct("(")) return None
      val dbClose = (dbOpen + 1 until ts.length).find(k => ts(k).text.contains(')'))
        .filter(ts(_) == Punct(")")).getOrElse(return None)
      val c2 = nextSig(ts, dbClose + 1)
      val t = nextSig(ts, c2 + 1)
      if (t >= ts.length || ts(c2) != Punct(",")) return None
      val (tableToks, tEnd) = ts(t) match {
        case Str(s) if s.length > 2 && s.head == '\'' && s.last == '\'' &&
            s.substring(1, s.length - 1).forall(c =>
              c < 128 && (c.isLetterOrDigit || c == '_' || c == '.' || c == '`')) =>
          (frag(s.substring(1, s.length - 1)), t + 1)
        case _ => (ts.slice(t, nameEnd(t)), nameEnd(t))
      }
      val close2 = nextSig(ts, tEnd)
      if (tableToks.nonEmpty && close2 < ts.length && ts(close2) == Punct(")"))
        Some((tableToks, close2))
      else None
    }
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < ts.length) {
      (if (isWordI(ts(i), "remote") || isWordI(ts(i), "remoteSecure")) table(i) else None) match {
        case Some((t, close)) =>
          out ++= t
          if (ts.lift(close + 1).exists(runsInto(t.last, _))) out += Ws(" ")
          i = close + 1
        case None => out += ts(i); i += 1
      }
    }
    out.result()
  }

  /** `CAST(expr AS Nullable(T))` → `to<T>OrNull(expr)` for the scalar
    * conversion-family types: the reference's cast to a Nullable target
    * yields NULL on unparseable/out-of-range input
    * (FunctionsConversion.h ConvertThroughParsing with
    * null_presence.has_nullable — 00664 goldens), where an ANSI Cast
    * throws. Runs BEFORE rewriteTypes, which would strip the Nullable
    * marker this pass keys on. Nullable(String) stays a plain cast
    * (string→string never fails).
    */
  private val nullableCastTypes = Set(
    "Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32",
    "UInt64", "Float32", "Float64", "Date", "Date32", "DateTime",
    "DateTime64")

  private def rewriteNullableCast(toks: Vector[Tok]): Vector[Tok] = {
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "CAST") &&
          toks.lift(nextSig(toks, i + 1)).contains(Punct("("))) {
        val open = nextSig(toks, i + 1)
        // the matching close and the last AS directly inside
        val close = balancedClose(toks, open)
        val asIdx = if (close < 0) -1
          else inside(toks, open, close).filter(k => isWordI(toks(k), "AS")).lastOption.getOrElse(-1)
        if (close > 0 && asIdx > 0) {
          val tIdx = nextSig(toks, asIdx + 1)
          val tOpen = nextSig(toks, tIdx + 1)
          (toks.lift(tIdx), toks.lift(tOpen)) match {
            case (Some(Word(nw)), Some(Punct("(")))
                if nw.equalsIgnoreCase("Nullable") =>
              val inIdx = nextSig(toks, tOpen + 1)
              val inClose = nextSig(toks, inIdx + 1)
              (toks.lift(inIdx), toks.lift(inClose)) match {
                case (Some(Word(t)), Some(Punct(")")))
                    if nullableCastTypes.contains(t) &&
                      nextSig(toks, inClose + 1) == close =>
                  val rewritten = toks.take(i) ++
                    Vector(Word(s"to${t}OrNull")) ++
                    toks.slice(open, asIdx) ++
                    Vector(Punct(")")) ++ toks.drop(close + 1)
                  return rewriteNullableCast(rewritten)
                case _ => ()
              }
            case _ => ()
          }
        }
      }
      i += 1
    }
    toks
  }

  /** Token pre-pass over type syntax: strip `Nullable(...)` /
    * `LowCardinality(...)` wrappers (keeping the inner type), map CH
    * scalar type names to Spark's, expand `Decimal32/64/128(s)` to
    * DECIMAL(p,s), and rewrite `Array(T)` type syntax to `ARRAY<T>`.
    */
  private def rewriteTypes(toks: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    // index of a wrapper's ")" → its replacement text
    val closeAs = scala.collection.mutable.Map[Int, String]()
    def wrapper(open: Int, closer: String): Unit = {
      val c = balancedClose(toks, open)
      if (c >= 0) closeAs(c) = closer
    }
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if (w == "Nullable" || w == "LowCardinality") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          wrapper(nextSig(toks, i + 1), "")
          i = nextSig(toks, i + 1) + 1
        case Word("Array") if {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          out += Word("ARRAY"); out += Punct("<")
          wrapper(nextSig(toks, i + 1), ">")
          i = nextSig(toks, i + 1) + 1
        case Word(w) if (w == "Decimal32" || w == "Decimal64" || w == "Decimal128") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          val p = w match {
            case "Decimal32" => "9"; case "Decimal64" => "18"; case _ => "38"
          }
          out += Word("DECIMAL"); out += Punct("("); out += Num(p); out += Punct(",")
          i = nextSig(toks, i + 1) + 1 // its ")" closes normally
        case Word(w) if (w == "Enum8" || w == "Enum16" || w == "Enum" ||
            w == "FixedString") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          // Enum values surface as their names; FixedString as String
          // (no \0 padding — the tests that observe padding are skipped)
          out += Word("STRING")
          i = closeOrEnd(toks, nextSig(toks, i + 1)) + 1
        // MySQL CAST targets: [UN]SIGNED [INTEGER|INT] → BIGINT (only in
        // `CAST(x AS …)` position, so a column named `signed` survives)
        case Word(w) if (w.equalsIgnoreCase("unsigned") ||
            w.equalsIgnoreCase("signed")) && {
            val k = prevSig(toks, i - 1)
            k >= 0 && (toks(k) match {
              case Word(a) => a.equalsIgnoreCase("AS")
              case _ => false
            }) } =>
          out += Word("BIGINT")
          val k = nextSig(toks, i + 1)
          i = if (k < toks.length && (toks(k) match {
            case Word(n) => n.equalsIgnoreCase("integer") ||
              n.equalsIgnoreCase("int")
            case _ => false
          })) k + 1 else i + 1
        case Word(w) if chType(w).isDefined =>
          out += Word(chType(w).get)
          // TIMESTAMP takes no precision in Spark — drop a numeric
          // (n) after DateTime64(6)/DATETIME(4) spellings, but only for
          // n <= 6: Spark's micros cannot hold DateTime64(7+), and the
          // corpus EXPECTS errors there (02010)
          val p1 = nextSig(toks, i + 1)
          i = if (chType(w).contains("TIMESTAMP") && p1 < toks.length &&
              toks(p1) == Punct("(") && {
                val nn = nextSig(toks, p1 + 1)
                val cc = nextSig(toks, nn + 1)
                nn < toks.length && (toks(nn) match {
                  case Num(v) => v.forall(_.isDigit) && v.toInt <= 6
                  case _ => false
                }) && cc < toks.length && toks(cc) == Punct(")")
              }) nextSig(toks, nextSig(toks, p1 + 1) + 1) + 1
            else i + 1
        case p @ Punct(")") =>
          closeAs.get(i) match {
            case Some("") => ()
            case Some(s) => out += Punct(s)
            case None => out += p
          }
          i += 1
        case t => out += t; i += 1
      }
    }
    out.result()
  }

  /** The `CAST(` at `i`: its `(`, its `)` and the first AS directly
    * inside, when all three exist.
    */
  private def castAs(ts: Vector[Tok], i: Int): Option[(Int, Int, Int)] = {
    val open = nextSig(ts, i + 1)
    if (!isWordI(ts(i), "CAST") || open >= ts.length || ts(open) != Punct("(")) return None
    val close = balancedClose(ts, open)
    if (close < 0) None
    else inside(ts, open, close).find(k => isWordI(ts(k), "AS")).map(as => (open, close, as))
  }

  /** `CAST(e AS Enum[8|16]('a' = 1, …))` → `chEnum(e, 'a', 1, …)`: the
    * reference maps the underlying integer to the member NAME
    * (DataTypeEnum::getNameForValue) — the type-level Enum→STRING rewrite
    * below cannot express that, it only renames the type. Runs before
    * rewriteTypes so DDL Enum columns keep their existing mapping.
    */
  private def rewriteCastEnum(toks0: Vector[Tok]): Vector[Tok] = {
    def isEnumWord(t: Tok) = t match {
      case Word(w) => w.equalsIgnoreCase("Enum") ||
        w.equalsIgnoreCase("Enum8") || w.equalsIgnoreCase("Enum16")
      case _ => false
    }
    if (!toks0.exists(isEnumWord)) return toks0
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks0.length) {
      val rewritten = castAs(toks0, i).flatMap { case (open, close, asPos) =>
        val ew = nextSig(toks0, asPos + 1)
        val mOpen = nextSig(toks0, ew + 1)
        val mClose = if (ew < toks0.length && isEnumWord(toks0(ew)) &&
          mOpen < toks0.length && toks0(mOpen) == Punct("(")) balancedClose(toks0, mOpen) else -1
        if (mClose >= 0 && nextSig(toks0, mClose + 1) == close) {
          out += Word("chEnum"); out += Punct("(")
          out ++= rewriteCastEnum(toks0.slice(open + 1, asPos))
          out += Punct(",")
          toks0.slice(mOpen + 1, mClose).foreach {
            case Punct("=") => out += Punct(",")
            case Ws(_) => ()
            case tk => out += tk
          }
          out += Punct(")")
          Some(close + 1)
        } else None
      }
      rewritten match {
        case Some(next) => i = next
        case None => out += toks0(i); i += 1
      }
    }
    out.result()
  }

  /** MySQL CONVERT(expr, type) → CAST(expr AS type) (the reference ships
    * CONVERT for its MySQL dialect; the type arm flows through
    * rewriteTypes like any other type spelling). Token-level: split at
    * the LAST top-level comma inside the call.
    */
  private def rewriteConvert(toks0: Vector[Tok]): Vector[Tok] = {
    if (!toks0.exists(isWordI(_, "convert"))) return toks0
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks0.length) {
      val open = nextSig(toks0, i + 1)
      val close = if (isWordI(toks0(i), "convert") && open < toks0.length &&
        toks0(open) == Punct("(")) balancedClose(toks0, open) else -1
      val lastComma = if (close < 0) -1
        else inside(toks0, open, close).filter(toks0(_) == Punct(",")).lastOption.getOrElse(-1)
      if (lastComma > 0) {
        out += Word("CAST"); out += Punct("(")
        out ++= rewriteConvert(toks0.slice(open + 1, lastComma))
        out += Ws(" "); out += Word("AS"); out += Ws(" ")
        out ++= toks0.slice(lastComma + 1, close)
        out += Punct(")")
        i = close + 1
      } else { out += toks0(i); i += 1 }
    }
    out.result()
  }

  /** `CAST(e AS DECIMAL(p[, s]))` → `chDecimal(e, p, s)`: CH float →
    * Decimal conversion TRUNCATES toward zero (DecimalFunctions.h
    * convertTo — multiply by the scale factor and static_cast) where
    * Spark's Cast rounds HALF_UP. The registry builder keeps Spark's
    * Cast for non-float inputs. Runs after rewriteTypes so DecimalNN
    * spellings are already canonical.
    */
  private def rewriteCastDecimal(toks0: Vector[Tok]): Vector[Tok] = {
    if (!toks0.exists(isWordI(_, "DECIMAL"))) return toks0
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks0.length) {
      val rewritten = castAs(toks0, i).flatMap { case (open, close, asPos) =>
        val dw = nextSig(toks0, asPos + 1)
        if (dw < toks0.length && isWordI(toks0(dw), "DECIMAL")) {
          // collect optional (p[, s]) then expect the CAST's ')'
          var p = "10"; var s = "0"
          var after = dw + 1
          val mOpen = nextSig(toks0, dw + 1)
          if (mOpen < toks0.length && toks0(mOpen) == Punct("(")) {
            val pPos = nextSig(toks0, mOpen + 1)
            (toks0.lift(pPos), toks0.lift(nextSig(toks0, pPos + 1))) match {
              case (Some(Num(pp)), Some(Punct(","))) =>
                val sPos = nextSig(toks0, nextSig(toks0, pPos + 1) + 1)
                (toks0.lift(sPos), toks0.lift(nextSig(toks0, sPos + 1))) match {
                  case (Some(Num(ss)), Some(Punct(")"))) =>
                    p = pp; s = ss; after = nextSig(toks0, sPos + 1) + 1
                  case _ => after = -1
                }
              case (Some(Num(pp)), Some(Punct(")"))) =>
                p = pp; after = nextSig(toks0, pPos + 1) + 1
              case _ => after = -1
            }
          }
          if (after >= 0 && nextSig(toks0, after) == close) {
            out += Word("chDecimal"); out += Punct("(")
            out ++= rewriteCastDecimal(toks0.slice(open + 1, asPos))
            out += Punct(","); out += Num(p)
            out += Punct(","); out += Num(s)
            out += Punct(")")
            Some(close + 1)
          } else None
        } else None
      }
      rewritten match {
        case Some(next) => i = next
        case None => out += toks0(i); i += 1
      }
    }
    out.result()
  }

  /** CH `Time` spellings → the chTime(x, scale) lowering (the engine's
    * Time is a marker struct, see graft.functions.TimeOps):
    * `x::Time[(n)]`, `CAST(x AS Time[(n)])`, `CAST(x, 'Time[(n)]')`,
    * and the `TIME'…'` typed literal.
    */
  private def rewriteTimeType(toks0: Vector[Tok]): Vector[Tok] = {
    def isTimeWord(t: Tok) = isWordI(t, "time")
    if (!toks0.exists {
        case Word(w) => w.equalsIgnoreCase("time")
        case Str(sv) => sv.toUpperCase.contains("TIME")
        case _ => false
      }) return toks0
    // optional (n) after the Time word: returns (scaleText, indexAfter)
    def scaleAfter(ts: Vector[Tok], tw: Int): (String, Int) = {
      val p = nextSig(ts, tw + 1)
      if (p < ts.length && ts(p) == Punct("(")) {
        val num = nextSig(ts, p + 1)
        val close = nextSig(ts, num + 1)
        (ts.lift(num), ts.lift(close)) match {
          case (Some(Num(n)), Some(Punct(")"))) => (n, close + 1)
          case _ => ("3", tw + 1)
        }
      } else ("3", tw + 1)
    }
    // CH's datetime text reader accepts ANY non-digit delimiters
    // ('2021 01-02 …' parses); normalize literals that feed a :: cast
    val dtRe = """^'(\d{4})([^\d'])(\d{2})([^\d'])(\d{2})([ T].*)?'$""".r
    val dated = toks0.indices.map { k =>
      toks0(k) match {
        case Str(sv) if k + 2 < toks0.length && toks0(k + 1) == Punct(":") &&
            toks0(k + 2) == Punct(":") =>
          dtRe.findFirstMatchIn(sv).filter(m => m.group(2) != "-" || m.group(4) != "-")
            .fold(toks0(k))(m => Str(s"'${m.group(1)}-${m.group(3)}-${m.group(5)}" +
              Option(m.group(6)).getOrElse("") + "'"))
        case t => t
      }
    }.toVector
    // TIME'…' typed literal
    val typed = Vector.newBuilder[Tok]
    var i = 0
    while (i < dated.length) {
      if (isTimeWord(dated(i)) && i + 1 < dated.length && dated(i + 1).isInstanceOf[Str]) {
        typed ++= Vector[Tok](Word("chTime"), Punct("("), dated(i + 1), Punct(","),
          Num("3"), Punct(")"))
        i += 2
      } else { typed += dated(i); i += 1 }
    }
    var toks = typed.result()
    def run(step: Vector[Tok] => Option[Vector[Tok]]): Unit = {
      var guard = 0
      var next = step(toks)
      while (next.isDefined && guard < 64) {
        toks = next.get
        guard += 1
        next = step(toks)
      }
    }
    // x :: Time[(n)]  (`::` lexes as two single-char puncts)
    run(ts => {
      val i = ts.indices.find(k => ts(k) == Punct(":") &&
        k + 1 < ts.length && ts(k + 1) == Punct(":") && {
        val w = nextSig(ts, k + 2)
        w < ts.length && isTimeWord(ts(w))
      })
      i.map { k =>
        val w = nextSig(ts, k + 2)
        val (scale, after) = scaleAfter(ts, w)
        // left primary: token or balanced paren group (with optional
        // non-keyword call head)
        var ls = prevSig(ts, k - 1)
        ts(ls) match {
          case Punct(")") =>
            val j = balancedOpen(ts, ls)
            val head = prevSig(ts, j - 1)
            ts.lift(head) match {
              case Some(Word(hw)) if !Set("SELECT", "WHERE", "AND", "OR",
                  "NOT", "WHEN", "THEN", "ELSE", "BY", "AS", "ON", "IN",
                  "FROM", "CASE", "VALUES").contains(hw.toUpperCase) =>
                ls = head
              case _ => ls = j
            }
          case _ => ()
        }
        join(ts.take(ls), tk"chTime(${squeeze(ts.slice(ls, k))},${Num(scale)})") ++
          ts.drop(after)
      }
    })
    // CAST(x AS Time[(n)]) and CAST(x, 'Time[(n)]')
    run(ts => ts.indices.iterator.flatMap { k =>
      val open = nextSig(ts, k + 1)
      val close = if (isWordI(ts(k), "CAST") && open < ts.length && ts(open) == Punct("("))
        balancedClose(ts, open) else -1
      val seps = if (close < 0) Nil
        else inside(ts, open, close).filter(j => isWordI(ts(j), "AS") || ts(j) == Punct(","))
      val hit = seps.exists { j =>
        val w = nextSig(ts, j + 1)
        w < ts.length && (if (ts(j) == Punct(",")) ts(w) match {
          case Str(sv) => sv.length > 2 &&
            sv.substring(1, sv.length - 1).trim.toUpperCase.startsWith("TIME")
          case _ => false
        } else isTimeWord(ts(w)))
      }
      if (!hit) None else {
        val sep = seps.head
        val scale = ts(nextSig(ts, sep + 1)) match {
          case Str(sv) =>
            val inner = sv.substring(1, sv.length - 1).trim
            """\((\d+)\)""".r.findFirstMatchIn(inner)
              .map(_.group(1)).getOrElse("3")
          case _ => scaleAfter(ts, nextSig(ts, sep + 1))._1
        }
        Some(ts.take(k) ++
          (Vector[Tok](Word("chTime"), Punct("(")) ++
            ts.slice(open + 1, sep) ++
            Vector[Tok](Punct(","), Num(scale), Punct(")"))) ++
          ts.drop(close + 1))
      }
    }.nextOption())
    toks
  }

  /** MYSQL-dialect token passes (gated on `SET dialect_type='MYSQL'`):
    *  - `AS 'alias'`: single-quoted aliases become backtick identifiers;
    *  - `^` is bitXor at MySQL's precedence (ABOVE `+` — `1 + 0 ^ 31`
    *    is `1 + bitXor(0, 31)`), rewritten to explicit bitXor calls
    *    binding each `^` to its immediate primary operands.
    */
  private def mysqlPasses(toks0: Vector[Tok]): Vector[Tok] = {
    if (!mysqlDialect) return toks0
    var toks = toks0
    // AS 'alias'
    if (toks.exists { case Str(_) => true; case _ => false }) {
      val out = Vector.newBuilder[Tok]
      var i = 0
      while (i < toks.length) {
        toks(i) match {
          case Word(w) if w.equalsIgnoreCase("AS") &&
              toks.lift(nextSig(toks, i + 1)).exists(_.isInstanceOf[Str]) =>
            var k = nextSig(toks, i + 1)
            def unq(t: String): String =
              t.substring(1, t.length - 1).replace("\\'", "'")
            // `'offset''s'` lexes as two adjacent Str tokens — the
            // doubled quote escapes a literal quote in the name
            var name = unq(toks(k).text)
            while (k + 1 < toks.length && toks(k + 1).isInstanceOf[Str]) {
              k += 1
              name += "'" + unq(toks(k).text)
            }
            out += Word("AS"); out += Ws(" ")
            out += Word("`" + name.replace("`", "``") + "`")
            i = k + 1
          case t => out += t; i += 1
        }
      }
      toks = out.result()
    }
    // ^ → bitXor(l, r), tightest binding, left-associative
    var xorPos = toks.indexWhere(_ == Punct("^"))
    var guard = 0
    while (xorPos >= 0 && guard < 64) {
      guard += 1
      // left primary: [start, xorPos); walks back over `)`-groups with
      // an optional call head, `::` cast chains, and single tokens
      def leftStart(endTok: Int): Int = {
        var s = prevSig(toks, endTok)
        toks(s) match {
          case Punct(")") =>
            val k = balancedOpen(toks, s)
            val head = prevSig(toks, k - 1)
            val kw = Set("SELECT", "WHERE", "AND", "OR", "NOT", "WHEN",
              "THEN", "ELSE", "END", "BY", "AS", "ON", "FROM", "IN",
              "CASE", "HAVING", "LIMIT", "OFFSET", "UNION", "ALL",
              "DISTINCT", "RETURN", "SET", "VALUES", "JOIN")
            toks.lift(head) match {
              case Some(Word(w)) if !kw.contains(w.toUpperCase) => head
              case _ => k
            }
          case _ => s
        }
      }
      var ls = leftStart(xorPos - 1)
      // absorb `::Type` chains to the LEFT of the primary
      var p = prevSig(toks, ls - 1)
      while (p >= 1 && toks(p) == Punct("::")) {
        ls = leftStart(p - 1)
        p = prevSig(toks, ls - 1)
      }
      // right primary from xorPos+1
      var re = nextSig(toks, xorPos + 1)
      toks(re) match {
        case Punct("-") | Punct("+") => re = nextSig(toks, re + 1)
        case _ => ()
      }
      toks(re) match {
        case Word(_) if nextSig(toks, re + 1) < toks.length &&
            toks(nextSig(toks, re + 1)) == Punct("(") =>
          re = closeOrEnd(toks, nextSig(toks, re + 1))
        case Punct("(") => re = closeOrEnd(toks, re)
        case _ => ()
      }
      // absorb `::Type` chains to the RIGHT
      var q = nextSig(toks, re + 1)
      while (q < toks.length && toks(q) == Punct("::")) {
        re = nextSig(toks, q + 1)
        q = nextSig(toks, re + 1)
      }
      toks = join(toks.take(ls), tk"bitXor(${squeeze(toks.slice(ls, xorPos))},${
        squeeze(toks.slice(xorPos + 1, re + 1))})") ++ toks.drop(re + 1)
      xorPos = toks.indexWhere(_ == Punct("^"))
    }
    toks
  }

  /** `PREWHERE a WHERE b` (both clauses in one SELECT) merges into
    * `WHERE (a) AND (b)` — PREWHERE is only a storage-pushdown hint
    * around the same filter semantics (reference
    * MergeTreeWhereOptimizer). A lone PREWHERE is handled by the main
    * loop's token rename.
    */
  private def mergePrewhere(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    val stopKw = Set("GROUP", "ORDER", "LIMIT", "HAVING", "SETTINGS",
      "UNION", "FORMAT", "INTO", "WINDOW", "QUALIFY")
    var guard = 0
    var found = true
    while (found && guard < 16) {
      guard += 1
      found = false
      val depth = depths(toks, brackets = true)
      var pw = -1
      var pwD = 0
      var wh = -1
      var end = toks.length
      var k = 0
      var lastSig: Option[Tok] = None
      while (k < toks.length && (wh < 0 || end == toks.length)) {
        val d = depth(k)
        toks(k) match {
          case Punct(")") | Punct("]") =>
            if (pw >= 0 && wh >= 0 && d < pwD && end == toks.length) end = k
            else if (pw >= 0 && wh < 0 && d < pwD) { pw = -1 } // no pair here
          case Word(w) if pw < 0 && w.equalsIgnoreCase("PREWHERE") &&
              // a TABLE named `prewhere` in FROM position is not the
              // clause (same guard as the main loop's rename)
              !lastSig.exists(t => isWordI(t, "FROM") || isWordI(t, "JOIN") ||
                isWordI(t, "EXISTS") || isWordI(t, "TABLE")) =>
            pw = k; pwD = d
          case Word(w) if pw >= 0 && wh < 0 && d == pwD &&
              w.equalsIgnoreCase("WHERE") => wh = k
          case Word(w) if pw >= 0 && wh < 0 && d == pwD &&
              stopKw.contains(w.toUpperCase) =>
            // same-depth clause boundary (UNION, GROUP BY, …) before a
            // WHERE: this branch has a lone PREWHERE — leave it to the
            // main loop's rename instead of pairing across the boundary
            // with a LATER branch's WHERE
            pw = -1
          case Word(w) if pw >= 0 && wh >= 0 && d == pwD &&
              stopKw.contains(w.toUpperCase) && end == toks.length => end = k
          case _ => ()
        }
        if (!toks(k).isInstanceOf[Ws]) lastSig = Some(toks(k))
        k += 1
      }
      if (pw >= 0 && wh >= 0) {
        found = true
        val condPw = toks.slice(pw + 1, wh)
        val condWh = toks.slice(wh + 1, end)
        toks = toks.take(pw) ++
          Vector[Tok](Word("WHERE"), Ws(" "), Punct("(")) ++ condPw ++
          Vector[Tok](Punct(")"), Ws(" "), Word("AND"), Ws(" "), Punct("(")) ++
          condWh ++ Vector[Tok](Punct(")"), Ws(" ")) ++ toks.drop(end)
      }
    }
    toks
  }
  /** CH resolves an unqualified column that exists on BOTH sides of a
    * join to the LEFT table (reference TranslateQualifiedNamesMatcher /
    * the pre-analyzer's first-match column resolution — the 08000
    * distributed-stages SSB tests rely on it). Spark raises
    * AMBIGUOUS_REFERENCE instead, so as a RETRY transform: qualify each
    * top-scope bare reference to the offending column with the error's
    * FIRST candidate qualifier (Spark lists candidates in plan order,
    * left first). Occurrences inside subqueries keep their own scope —
    * only parens opening a SELECT/WITH count as scope boundaries.
    */
  private def ambiguityTarget(errMsg: String): Option[(String, String)] = {
    val ambRe =
      """Reference `([^`]+)` is ambiguous, could be: \[`([^`]+)`\.`[^`]+`""".r
    val unresRe =
      """name `([^`]+)` cannot be resolved. Did you mean one of the following\? \[(.+)""".r
    ambRe.findFirstMatchIn(errMsg) match {
      case Some(m) => Some((m.group(1), m.group(2)))
      case None => unresRe.findFirstMatchIn(errMsg).flatMap { m =>
        val col = m.group(1)
        """`([^`]+)`\.`([^`]+)`""".r
          .findAllMatchIn(m.group(2))
          .find(c => c.group(2) == col)
          .map(c => (col, c.group(1)))
      }
    }
  }

  /** Position-targeted variant: `errMsg`'s trailing `line N pos M` points
    * at the offending occurrence in `sql` itself (the TRANSPILED text) —
    * qualify exactly that occurrence, scope-agnostic (works inside
    * subqueries, where the scope-0 token walk below cannot reach).
    */
  def disambiguateAt(sql: String, errMsg: String): Option[String] = {
    val target = ambiguityTarget(errMsg).orElse {
      // UNRESOLVED with no qualified candidate (e.g. ORDER BY over a
      // projected-away ambiguous column, suggestions like `(id + 1)`):
      // borrow the qualifier from the statement's own first `q.col`
      // reference — the ON clause / select list already name the left
      // table's copy after earlier disambiguation passes
      """name `([^`]+)` cannot be resolved""".r
        .findFirstMatchIn(errMsg).flatMap { m =>
          val col = m.group(1)
          ("""(\w+)\.""" + java.util.regex.Pattern.quote(col) + """\b""").r
            .findFirstMatchIn(sql).map(q => (col, q.group(1)))
        }
    }
    if (target.isEmpty) return None
    val (col, qual) = target.get
    val posRe = """line (\d+) pos (\d+)""".r
    posRe.findFirstMatchIn(errMsg).flatMap { m =>
      val line = m.group(1).toInt
      val pos = m.group(2).toInt
      val lines = sql.split("\n", -1)
      if (line < 1 || line > lines.length) None
      else {
        val offset = lines.take(line - 1).map(_.length + 1).sum + pos
        // the error may anchor at the enclosing expression — search
        // forward a bounded window for the identifier itself
        val window = sql.substring(offset,
          math.min(sql.length, offset + 256))
        val idRe = (java.util.regex.Pattern.quote(col) + "|`" +
          java.util.regex.Pattern.quote(col) + "`").r
        idRe.findFirstMatchIn(window).flatMap { hit =>
          val s = offset + hit.start
          val e = offset + hit.end
          val prev = sql.take(s).reverse.dropWhile(_.isWhitespace).headOption
          if (prev.contains('.')) None // already qualified
          else if (inOnClause(sql, s)) None // CH errors there too (352)
          else Some(sql.substring(0, s) + qual + "." + col + sql.substring(e))
        }
      }
    }
  }

  /** CH only LEFT-prefers ambiguous names OUTSIDE the join condition —
    * inside ON it raises AMBIGUOUS_COLUMN_NAME (error 352, 00800's
    * `on val + 0 = val * 1`), so the retry must not rescue those.
    */
  private def inOnClause(sql: String, pos: Int): Boolean = {
    val up = sql.substring(0, pos).toUpperCase
    val lastOn = up.lastIndexOf(" ON ")
    if (lastOn < 0) return false
    Seq("SELECT", " WHERE ", " GROUP ", " ORDER ", " HAVING ", " LIMIT ")
      .forall(k => up.lastIndexOf(k) < lastOn)
  }

  /** CH resolves a USING key against the SELECT-list aliases too —
    * `SELECT 1 AS k, s FROM one JOIN (…) USING k` joins on the alias
    * (reference TranslateQualifiedNamesVisitor alias visibility; 00138,
    * 01062 family). Spark needs the key on the join INPUT, so on its
    * UNRESOLVED_USING_COLUMN error, wrap the left relation to add the
    * aliased expression as a real column.
    */
  def fixUsingAlias(sql: String, errMsg: String): Option[String] = {
    val em = """USING column `([^`]+)` cannot be resolved on the left side"""
      .r.findFirstMatchIn(errMsg).getOrElse(return None)
    val col = em.group(1)
    val toks = tokenize(sql)
    val depthAt = depths(toks)
    val joinKws = Set("ANY", "ALL", "GLOBAL", "LEFT", "RIGHT", "INNER",
      "FULL", "CROSS", "SEMI", "ANTI", "ASOF", "JOIN")
    // every USING whose column list contains `col`
    val usingIdxs = toks.indices.filter { u =>
      isWordI(toks(u), "USING") && {
        var k = nextSig(toks, u + 1)
        val paren = k < toks.length && toks(k) == Punct("(")
        if (paren) k = nextSig(toks, k + 1)
        var found = false
        var stop = false
        while (!stop && k < toks.length) {
          toks(k) match {
            case Word(w) if w == col || w == s"`$col`" => found = true; stop = true
            case Word(_) | Punct(",") => k = nextSig(toks, k + 1)
            case _ => stop = true
          }
        }
        found
      }
    }
    usingIdxs.foreach { u =>
      val d = depthAt(u)
      // the scope's SELECT … FROM … <join chain> USING at this depth
      val fromIdx = (0 until u).reverse.find(k =>
        depthAt(k) == d && isWordI(toks(k), "FROM"))
      val selIdx = fromIdx.flatMap(f => (0 until f).reverse.find(k =>
        depthAt(k) == d && isWordI(toks(k), "SELECT")))
      (selIdx, fromIdx) match {
        case (Some(si), Some(fi)) =>
          // find `expr AS col` (or CH implicit `expr col`) in the list
          val items = ArrayBuffer[(Int, Int)]() // token ranges [a, b)
          var a = nextSig(toks, si + 1)
          var k = a
          while (k < fi) {
            toks(k) match {
              case Punct(",") if depthAt(k) == d => items += ((a, k)); a = k + 1
              case _ => ()
            }
            k += 1
          }
          items += ((a, fi))
          val aliasItem = items.find { case (s0, e0) =>
            val sig = (s0 until e0).filterNot(toks(_).isInstanceOf[Ws])
            sig.length >= 2 && (toks(sig.last) match {
              case Word(w) => (w == col || w == s"`$col`") &&
                // exclude a bare qualified ref `t.col`
                toks(sig(sig.length - 2)) != Punct(".")
              case _ => false
            })
          }
          aliasItem.foreach { case (s0, e0) =>
            val sig = (s0 until e0).filterNot(toks(_).isInstanceOf[Ws])
            val cut = // drop trailing [AS] col
              if (sig.length >= 2 && isWordI(toks(sig(sig.length - 2)), "AS"))
                sig(sig.length - 2)
              else sig.last
            val exprText = render(toks.slice(s0, cut)).trim
            if (exprText.nonEmpty && exprText != col) {
              // left relation = FROM+1 .. first join keyword at depth d
              val relStart = nextSig(toks, fi + 1)
              val joinStart = (relStart until u).find(k2 =>
                depthAt(k2) == d && (toks(k2) match {
                  case Word(w) => joinKws.contains(w.toUpperCase)
                  case _ => false
                }))
              joinStart.foreach { js =>
                val relText = render(toks.slice(relStart, js)).trim
                if (relText.nonEmpty) {
                  val pre = render(toks.take(relStart))
                  val post = render(toks.drop(js))
                  return Some(
                    s"$pre(SELECT *, $exprText AS `$col` FROM $relText) $post")
                }
              }
            }
          }
        case _ => ()
      }
    }
    None
  }

  def disambiguate(stmt: String, errMsg: String): Option[String] = {
    val (col, qual) = ambiguityTarget(errMsg) match {
      case Some(t) => t
      case None => return None
    }
    val toks = tokenize(stripComments(stmt))
    // subquery-paren stack: '(' immediately followed by SELECT/WITH
    val out = Vector.newBuilder[Tok]
    var subqDepth = 0
    val stack = scala.collection.mutable.Stack[Boolean]()
    var changed = false
    toks.zipWithIndex.foreach { case (t, i) =>
      t match {
        case Punct("(") =>
          val nxt = nextSig(toks, i + 1)
          val isSubq = nxt < toks.length && (toks(nxt) match {
            case Word(w) => w.equalsIgnoreCase("SELECT") || w.equalsIgnoreCase("WITH")
            case _ => false
          })
          stack.push(isSubq)
          if (isSubq) subqDepth += 1
          out += t
        case Punct(")") =>
          if (stack.nonEmpty && stack.pop()) subqDepth -= 1
          out += t
        case Word(w) if subqDepth == 0 && (w == col || w == s"`$col`") =>
          val prev = prevSig(toks, i - 1)
          val next = nextSig(toks, i + 1)
          val prevDot = prev >= 0 && toks(prev) == Punct(".")
          val prevAs = prev >= 0 && (toks(prev) match {
            case Word(a) => a.equalsIgnoreCase("AS")
            case _ => false
          })
          val nextDotOrCall = next < toks.length &&
            (toks(next) == Punct(".") || toks(next) == Punct("("))
          val offset = toks.take(i).map(_.text.length).sum
          if (!prevDot && !prevAs && !nextDotOrCall &&
              !inOnClause(stmt, math.min(offset, stmt.length))) {
            out += Word(qual); out += Punct("."); out += t
            changed = true
          } else out += t
        case other => out += other
      }
    }
    if (changed) Some(render(out.result())) else None
  }


  /** ClickHouse lets a SELECT-list alias be referenced from WHERE /
    * GROUP BY / HAVING / ORDER BY (aliases resolve query-wide, reference
    * QueryNormalizer). Spark resolves only real columns there, so as a
    * RETRY transform (applied only after an unresolved-column failure)
    * inline each top-level `expr AS alias` into bare `alias` references
    * appearing after the select list. String literals and qualified /
    * call-position names are left alone.
    */
  def inlineSelectAliases(stmt: String): String = {
    val toks = tokenize(stmt)
    // top-level select list boundaries
    val depth = depths(toks, brackets = true)
    val selStart = toks.indices.find(k => depth(k) == 0 && isWordI(toks(k), "SELECT"))
      .getOrElse(return stmt)
    val listEnd = (selStart until toks.length).find(k => depth(k) == 0 && (toks(k) match {
      case Word(w) => Set("FROM", "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER",
        "LIMIT", "SETTINGS", "UNION", "WINDOW").contains(w.toUpperCase)
      case _ => false
    })).getOrElse(toks.length)
    val listText = render(toks.slice(selStart + 1, listEnd))
    val aliasRe = """(?is)^(.*\S)\s+AS\s+(`[^`]+`|[A-Za-z_]\w*)\s*$""".r
    val pairs = ChLex.splitTop(listText).flatMap {
      case aliasRe(expr, alias) =>
        val name = alias.stripPrefix("`").stripSuffix("`")
        // self-aliased columns (`x AS x`) add nothing
        if (expr.trim.equalsIgnoreCase(name)) None else Some(name -> expr.trim)
      case _ => None
    }.toMap
    if (pairs.isEmpty || listEnd == toks.length) return stmt
    val sb = new StringBuilder(render(toks.take(listEnd)))
    var i = listEnd
    var last: Option[Tok] = None
    while (i < toks.length) {
      toks(i) match {
        // backtick-quoted references normalize to the bare alias name
        // the pairs map keys use
        case Word(w0) if {
          val w = w0.stripPrefix("`").stripSuffix("`")
          pairs.contains(w) && w0 != w
        } && !last.exists(_.text == ".") && {
          val k = nextSig(toks, i + 1)
          !(k < toks.length && (toks(k).text == "(" ||
            toks(k).text.equalsIgnoreCase("AS")))
        } =>
          sb.append("(")
            .append(pairs(w0.stripPrefix("`").stripSuffix("`")))
            .append(")")
        case Word(w) if pairs.contains(w) &&
            // not qualified (a.b) and not a call name `w(`
            !last.exists(_.text == ".") && {
              val k = nextSig(toks, i + 1)
              !(k < toks.length && toks(k).text == "(")
            } && {
              val k = nextSig(toks, i + 1)
              // `alias AS x` rebinding spot: leave the definition intact
              !(k < toks.length && toks(k).text.equalsIgnoreCase("AS"))
            } =>
          sb.append("(").append(pairs(w)).append(")")
        case t => sb.append(t.text)
      }
      if (!toks(i).isInstanceOf[Ws]) last = Some(toks(i))
      i += 1
    }
    sb.toString
  }

  /** CH accepts (and ignores) an explicit frame clause on pure window
    * functions — rank()/dense_rank()/row_number()/ntile()/lag()/lead()
    * OVER (… ROWS BETWEEN …) — while Spark rejects any frame that is
    * not the function's required one (33430/33431/34426/34427,
    * 30000_window_navigation_nonstreaming). Drop the frame clause from
    * those OVER specs; semantics are unchanged by construction.
    */
  private val rankLikeFns = Set("rank", "dense_rank", "denserank",
    "row_number", "rownumber", "ntile", "lag", "lead", "leadinframe",
    "laginframe")

  /** The `OVER (` … `)` after the call whose name is at `i`: the
    * indices of its `(` and `)`.
    */
  private def overClause(toks: Vector[Tok], i: Int): Option[(Int, Int)] = {
    val o = nextSig(toks, i + 1)
    if (o >= toks.length || toks(o) != Punct("(")) return None
    val ov = nextSig(toks, matchClose(toks, o) + 1)
    val wo = nextSig(toks, ov + 1)
    if (ov < toks.length && isWordI(toks(ov), "OVER") && wo < toks.length &&
        toks(wo) == Punct("(")) Some((wo, matchClose(toks, wo)))
    else None
  }

  private def stripRankFrames(toks: Vector[Tok]): Vector[Tok] = {
    val drop = scala.collection.mutable.BitSet.empty
    // a ROWS-framed rank() degrades to row_number(): with a ROWS frame
    // each row is its own peer group (34426/34427 golden outputs)
    val swap = scala.collection.mutable.BitSet.empty
    for (i <- toks.indices) toks(i) match {
      case Word(w) if rankLikeFns(w.toLowerCase) =>
        overClause(toks, i).foreach { case (wo, wc) =>
          // frame keyword at the OVER clause's own depth
          inside(toks, wo, wc).find(k => toks(k) match {
            case Word(x) => Seq("ROWS", "RANGE", "GROUPS").contains(x.toUpperCase)
            case _ => false
          }).foreach { frameStart =>
            (frameStart until wc).foreach(drop += _)
            if (isWordI(toks(frameStart), "ROWS") &&
                Set("rank", "dense_rank", "denserank")(w.toLowerCase))
              swap += i
          }
        }
      case _ => ()
    }
    if (drop.isEmpty && swap.isEmpty) toks
    else toks.indices.collect {
      case k if !drop(k) => if (swap(k)) Word("row_number") else toks(k)
    }.toVector
  }

  /** An OVER clause with a RANGE frame but NO ORDER BY: every row is a
    * peer of every other, so CH evaluates the frame over the whole
    * partition; Spark rejects RANGE without ORDER BY outright (33412).
    * Rewrite the frame to ROWS BETWEEN UNBOUNDED PRECEDING AND
    * UNBOUNDED FOLLOWING — the exact peer-set equivalent.
    */
  private def fixOrderlessRange(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "RANGE"))) return toks
    // [start, end) of the frame tokens to replace
    val replaceRanges = toks.indices.flatMap { i =>
      val j = nextSig(toks, i + 1)
      if (isWordI(toks(i), "OVER") && j < toks.length && toks(j) == Punct("(")) {
        val close = matchClose(toks, j)
        val top = inside(toks, j, close)
        val rangeAt = top.find(k => isWordI(toks(k), "RANGE"))
        if (top.exists(k => isWordI(toks(k), "ORDER"))) None else rangeAt.map(r => (r, close))
      } else None
    }
    if (replaceRanges.isEmpty) return toks
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      replaceRanges.find(_._1 == i) match {
        case Some((_, end)) =>
          out ++= tk"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
          i = end
        case None => out += toks(i); i += 1
      }
    }
    out.result()
  }

  /** CH `sum(x) OVER (frame)` on an EMPTY frame yields 0 — sum in CH
    * never returns NULL for an empty set — while Spark's window sum
    * yields NULL (33422-35424 corpus family: RANGE/ROWS/GROUPS frames
    * whose bounds exclude every row). Wrap window sums in
    * coalesce(…, 0); window aggregates cannot be DISTINCT, so the
    * rewrite is always type-sound.
    */
  private def wrapWindowSums(toks: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if w.equalsIgnoreCase("sum") => {
          val o = nextSig(toks, i + 1)
          val isCall = o < toks.length && toks(o) == Punct("(")
          val c = if (isCall) matchClose(toks, o) else -1
          val ov = if (isCall) nextSig(toks, c + 1) else -1
          val isOver = ov > 0 && ov < toks.length && isWordI(toks(ov), "over")
          if (isOver) {
            val wEnd = nextSig(toks, ov + 1)
            val end = toks(wEnd) match {
              case Punct("(") => matchClose(toks, wEnd)
              case Word(_) => wEnd // named window: OVER w
              case _ => -1
            }
            if (end > 0) {
              out ++= tk"coalesce(${toks.slice(i, end + 1)}, 0)"
              i = end + 1
            } else { out += toks(i); i += 1 }
          } else { out += toks(i); i += 1 }
        }
        case t => out += t; i += 1
      }
    }
    out.result()
  }

  /** CH evaluates bare integer literals as UInt64, so VALUES-tuple
    * arithmetic like `1568249940*1000` never overflows there; Spark
    * parses each as INT and the ANSI product overflows before the row
    * is even built. On the VALUES path only, widen an integer literal
    * to a BIGINT literal (`L` suffix) when it exceeds Int range or sits
    * next to an arithmetic operator. Applied only to INSERT VALUES
    * tuples — SELECT-side small-int args (function scales, indexes)
    * keep their INT type.
    */
  private def widenIntLiterals(toks: Vector[Tok]): Vector[Tok] = {
    val arith = Set("*", "+", "-", "/", "%")
    toks.zipWithIndex.map {
      case (Num(t), i) if t.forall(_.isDigit) &&
          scala.util.Try(t.toLong).isSuccess =>
        val big = t.toLong > Int.MaxValue
        val nextOp = toks.lift(nextSig(toks, i + 1)).exists {
          case Punct(p) => arith(p); case _ => false }
        // previous `-`/`+` may be unary sign; widening `-5` to `-5L`
        // is still correct, so no need to disambiguate
        val prevOp = toks.lift(prevSig(toks, i - 1)).exists {
          case Punct(p) => arith(p); case _ => false }
        if (big || nextOp || prevOp) Num(t + "L") else Num(t)
      case (tok, _) => tok
    }
  }

  /** The token-by-token rewrite: array literals and element access,
    * ByteDance map access, the `f(p)(x)` merge, literal spellings,
    * SETTINGS, join qualifiers and the other one-token renames.
    */
  private def mainLoop(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer[Tok]()
    // a rewritten token, spaced off a word it would otherwise run into
    def emit(ts: Seq[Tok]): Unit = {
      if (ts.nonEmpty && out.nonEmpty && runsInto(out.last, ts.head)) out += Ws(" ")
      out ++= ts
    }
    // element access: wrap the primary that ends the output so far
    def elementAccess(): Unit = {
      val start = primaryStart(out)
      val primary = out.drop(start).toVector
      out.remove(start, out.length - start)
      emit(tk"arrayElement($primary, ")
    }
    lazy val parent = parents(toks)
    lazy val depth = depths(toks)
    // Depth-indexed stack entry: true → this bracket became `array(`,
    // false → element access (we rewrote `x[` to `arrayElement(x, `).
    var stack = List[Boolean]()
    var lastSig: Option[Tok] = None
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if depth(i) == 0 && stack.isEmpty &&
            w.equalsIgnoreCase("settings") =>
          // CH query-level SETTINGS clause: session knobs, no Spark
          // equivalent — drop the remainder of the statement.
          i = toks.length - 1
        case Word(w) if depth(i) > 0 && stack.isEmpty &&
            w.equalsIgnoreCase("settings") && {
            // subquery-level `(SELECT … SETTINGS k = v, …)` (00266):
            // confirmed by the `name =` shape so a column named
            // `settings` survives
            val k = nextSig(toks, i + 1)
            val isName = k < toks.length && toks(k).isInstanceOf[Word]
            val k2 = nextSig(toks, k + 1)
            isName && k2 < toks.length && toks(k2) == Punct("=")
          } =>
          // drop the settings list up to (not including) the paren that
          // closes this subquery
          i = (if (parent(i) < 0) toks.length else closeOrEnd(toks, parent(i))) - 1
        case Punct("[") =>
          if (opensLiteral(lastSig)) {
            emit(tk"array("); stack = true :: stack
          } else {
            elementAccess()
            stack = false :: stack
          }
          lastSig = Some(Punct("["))
        case Punct("]") =>
          out += Punct(")")
          stack = stack.drop(1)
          lastSig = Some(Punct("]"))
        case Punct("{") =>
          // `m{'k'}` is the ByteDance Map element access; a brace in
          // LITERAL position opens a map literal `{'k': v}` (reference
          // ParserMapOfLiterals) — the literal's colons are handled by
          // rewriteMapLiterals on the emitted `map{` form
          if (opensLiteral(lastSig)) {
            emit(tk"map{"); lastSig = Some(Punct("{"))
          } else {
            elementAccess()
            stack = false :: stack
            lastSig = Some(Punct("["))
          }
        case Punct("}") if stack.nonEmpty && !stack.head =>
          out += Punct(")")
          stack = stack.drop(1)
          lastSig = Some(Punct("]"))
        case Word(w) if w.equalsIgnoreCase("prewhere") &&
            !lastSig.exists(t => isWordI(t, "FROM") || isWordI(t, "JOIN") ||
              isWordI(t, "EXISTS") || isWordI(t, "TABLE")) =>
          // PREWHERE is a storage-pushdown hint around WHERE semantics
          // (reference MergeTreeWhereOptimizer) — plain WHERE here,
          // Catalyst pushes predicates itself. Guarded so a TABLE named
          // `prewhere` (the corpus has one) survives in FROM position.
          emit(Seq(Word("WHERE"))); lastSig = Some(Word("WHERE"))
        case Word(w) if (w.equalsIgnoreCase("YEAR_MONTH") ||
            w.equalsIgnoreCase("DAY_TIME") ||
            w.equalsIgnoreCase("DAY_SECOND")) &&
            lastSig.exists(_.isInstanceOf[Str]) =>
          // MySQL compound interval units → Spark's ANSI spellings
          emit(if (w.equalsIgnoreCase("YEAR_MONTH")) tk"YEAR TO MONTH"
            else tk"DAY TO SECOND")
          lastSig = Some(Word("MONTH"))
        case Word(w) if w.equalsIgnoreCase("dateDiff") ||
            w.equalsIgnoreCase("date_diff") =>
          // Spark's parser intercepts dateDiff/date_diff with special
          // unit-argument syntax (unquoted units) BEFORE the function
          // registry — CH spells the unit as a string literal, so route
          // to the registry under a name the parser treats normally
          emit(Seq(Word("chDateDiff"))); lastSig = Some(Word("chDateDiff"))
        case Word(w) if w.equalsIgnoreCase("dummy") =>
          // parenthesized so a `GROUP BY dummy` does not become a bare
          // integer literal that Spark's groupByOrdinal reinterprets
          emit(tk"(0)"); lastSig = Some(Num("0"))
        case Word("inf") =>
          emit(tk"CAST('Infinity' AS DOUBLE)"); lastSig = Some(Num("0"))
        case Word("nan") =>
          emit(tk"CAST('NaN' AS DOUBLE)"); lastSig = Some(Num("0"))
        case p @ Punct("(") if lastSig.contains(Punct(")")) =>
          // CH parameterized-aggregate syntax f(params)(args): merge into
          // the registry's single-call convention f(params, args) —
          // ClickHouseAliases expects exactly this shape (e.g.
          // quantileExact(level, x), sequenceMatch(pattern, ts, conds...)).
          val close = out.lastIndexWhere(!_.isInstanceOf[Ws])
          out.remove(close, out.length - close) // drop the ")"
          out ++= tk", "
          lastSig = Some(p)
        case Num(t) if t.startsWith(".") &&
            t.drop(1).split('.').forall(s => s.nonEmpty && s.forall(_.isDigit)) &&
            (lastSig.exists(_.isInstanceOf[Word]) ||
             lastSig.contains(Punct(")")) || lastSig.contains(Punct("]"))) =>
          // CH 1-based tuple element access `t.1` — our tuples are Spark
          // structs built by the `tuple()` registry function (CreateStruct
          // names its fields col1, col2, …), so `.N` maps to `.colN`.
          // A chain `t.1.1` lexes as one ".1.1" number token — every
          // segment maps. lastSig becomes the emitted FIELD WORD so a
          // following separate `.N` keeps rewriting too.
          val segs = t.drop(1).split('.')
          segs.foreach(s => emit(Vector(Punct("."), Word("col" + s))))
          lastSig = Some(Word("col" + segs.last))
        case w0 @ Word(w) if w.equalsIgnoreCase("datetime") &&
            toks.lift(nextSig(toks, i + 1)).exists(_.isInstanceOf[Str]) =>
          // MySQL-dialect typed literal `DATETIME '2020-01-01 00:00:00'`
          // (corpus 015xx/13002): Spark's spelling is TIMESTAMP
          emit(Seq(Word("TIMESTAMP")))
          lastSig = Some(w0)
        case w0 @ Word(w) if (w.equalsIgnoreCase("semi") ||
            w.equalsIgnoreCase("anti")) &&
            toks.lift(nextSig(toks, i + 1)).exists(isWordI(_, "LEFT")) =>
          // CH `SEMI LEFT JOIN` = Spark `LEFT SEMI JOIN` (and ANTI):
          // swap the qualifier order; RIGHT SEMI/ANTI have no Spark
          // equivalent and keep failing loudly
          emit(tk"LEFT ${Word(w.toUpperCase)}")
          i = nextSig(toks, i + 1) // skip the LEFT we just emitted in front
          lastSig = Some(w0)
        case w0 @ Word(w) if (w.equalsIgnoreCase("all") ||
            w.equalsIgnoreCase("any") || w.equalsIgnoreCase("global")) && {
            val k = nextSig(toks, i + 1)
            k < toks.length && (toks(k) match {
              case Word(j) =>
                Seq("INNER", "LEFT", "RIGHT", "FULL", "JOIN", "ANY", "ALL")
                  .contains(j.toUpperCase) ||
                // `x GLOBAL IN (…)` / `GLOBAL NOT IN` — the hint is
                // identity on a single engine there too
                (w.equalsIgnoreCase("global") &&
                  Seq("IN", "NOT").contains(j.toUpperCase))
              case _ => false
            }) } =>
          // CH join qualifiers: `ALL` = standard semantics, `GLOBAL` =
          // a distribution hint (identity on a single engine). `ANY`
          // before LEFT/INNER/JOIN is KEPT — rewriteAnyJoin (the last
          // post-pass) lowers it to a keep-first-per-key dedup of the
          // right side, the reference's at-most-one-match semantics
          // (HashJoin inserts first-wins per key). ANY RIGHT/FULL are
          // still dropped: their dedup side is the whole left join
          // tree / both sides — files whose goldens need it surface as
          // DIFF in the sweep gate, never as silent passes.
          // (ASOF is NOT dropped — different semantics, fails loudly.)
          if (w.equalsIgnoreCase("any") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && (toks(k) match {
              case Word(j) =>
                Seq("INNER", "LEFT", "JOIN").contains(j.toUpperCase)
              case _ => false
            })
          }) { out += w0; lastSig = Some(w0) }
        case n @ Num(t) if t.toLowerCase.startsWith("0x") &&
            t.drop(2).nonEmpty &&
            t.drop(2).forall(c => "0123456789abcdefABCDEF".contains(c)) =>
          // hex literals: Spark's lexer reads `0x…` as an identifier —
          // emit the decimal value (unsigned beyond Long range, the CH
          // UInt64 reading)
          val v = BigInt(t.drop(2), 16)
          emit(Seq(Num(if (v.isValidLong) v.toString else v.toString + "BD")))
          lastSig = Some(n)
        case n @ Num(t) if (t.contains('.') || t.toLowerCase.contains('e')) &&
            !t.toLowerCase.startsWith("0x") && t.count(_ == '.') <= 1 &&
            !t.toLowerCase.endsWith("d") =>
          // CH fractional/exponent literals are Float64; Spark's default
          // is DECIMAL — suffix D so arithmetic and formatting match the
          // reference (0.1 + 0.2 → 0.30000000000000004, 1.0 prints "1").
          val base0 = if (t.endsWith(".")) t + "0" else t
          val base = if (base0.startsWith(".")) "0" + base0 else base0
          emit(Seq(Num(base + "D")))
          lastSig = Some(n)
        case s @ Str(_) =>
          emit(normalizeStringLiteral(s.text)); lastSig = Some(s)
        case t @ Ws(_) => out += t
        case t => emit(Seq(t)); lastSig = Some(t)
      }
      i += 1
    }
    out.toVector
  }

  /** ClickHouse's default INTERSECT/EXCEPT mode is ALL
    * (intersect_default_mode / except_default_mode — the 02004 const
    * column goldens pin 10 rows from a bare INTERSECT); Spark defaults
    * to DISTINCT, so a bare set-op keyword gains an explicit ALL.
    * `SELECT * EXCEPT (cols)` is Spark column-exclusion — only an
    * EXCEPT/INTERSECT introducing a SELECT branch is a set operation.
    */
  private def rewriteBareSetOps(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(t => isWordI(t, "INTERSECT") || isWordI(t, "EXCEPT")))
      return toks
    // ANSI/MySQL dialect: a BARE set op keeps the SQL-standard DISTINCT
    // default (explicit ALL still lowers to the CH filter semantics)
    val chDialect =
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString("graft.ch.dialect", "CLICKHOUSE") == "CLICKHOUSE"
      catch { case _: Throwable => true }
    if (!chDialect) return toks
    // bare-set-op mode follows the SESSION settings, not a hardcoded
    // ALL: SET intersect_default_mode / except_default_mode override it,
    // and the reference ERRORS on an empty mode (ADVICE r13;
    // ExpressionAnalyzer "mode is unspecified")
    def modeOf(conf: String): String = {
      val m = try org.apache.spark.sql.internal.SQLConf.get
        .getConfString(conf, "ALL")
      catch { case _: Throwable => "ALL" }
      if (m.isEmpty) throw new IllegalArgumentException(
        s"set operation mode is unspecified - set $conf (error 36 analog)")
      m.toUpperCase
    }
    val out = Vector.newBuilder[Tok]
    for (i <- toks.indices) {
      out += toks(i)
      if (isWordI(toks(i), "INTERSECT") || isWordI(toks(i), "EXCEPT")) {
        val a = nextSig(toks, i + 1)
        val branchy = toks.lift(a) match {
          case Some(Word(x)) if x.equalsIgnoreCase("SELECT") => true
          case Some(Punct("(")) =>
            val b = nextSig(toks, a + 1)
            toks.lift(b) match {
              case Some(Word(x)) if x.equalsIgnoreCase("SELECT") => true
              case Some(Punct("(")) => true
              case _ => false
            }
          case _ => false
        }
        if (branchy)
          out ++= tk" ${Word(modeOf(
            if (toks(i).text.equalsIgnoreCase("INTERSECT"))
              "graft.ch.intersectMode"
            else "graft.ch.exceptMode"))}"
      }
    }
    out.result()
  }

  /** GROUPS window frames (reference WindowDescription.h FrameType::
    * Groups) — Spark has none, but dense_rank + a RANGE frame over the
    * rank is an exact rewrite: peer-group distance N <=> rank distance
    * N. The source is wrapped one level to precompute the rank.
    */
  private def rewriteGroupsFrame(toks: Vector[Tok]): Vector[Tok] =
    Iterator.iterate(Option(toks))(_.flatMap(rewriteOneGroupsFrame))
      .take(7).takeWhile(_.isDefined).flatten.toSeq.last

  private def rewriteOneGroupsFrame(toks: Vector[Tok]): Option[Vector[Tok]] = {
    val depthAt = depths(toks)
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "GROUPS") && {
        val nx = nextSig(toks, i + 1)
        nx < toks.length && (toks(nx) match {
          case Word(w) => Seq("BETWEEN", "UNBOUNDED", "CURRENT")
            .contains(w.toUpperCase)
          case Num(_) => true
          case _ => false
        })
      }) {
        val lvl = depthAt(i)
        // the enclosing OVER ( … )
        val openIdx = (0 until i).reverse
          .find(k => toks(k) == Punct("(") && depthAt(k) == lvl - 1)
          .getOrElse(return None)
        if (!isWordI(toks(prevSig(toks, openIdx - 1)), "OVER")) return None
        val closeIdx = (i until toks.length)
          .find(k => toks(k) == Punct(")") && depthAt(k) == lvl - 1)
          .getOrElse(return None)
        // ORDER BY inside the OVER
        val orderIdx = (openIdx + 1 until i)
          .find(k => depthAt(k) == lvl && isWordI(toks(k), "ORDER"))
          .getOrElse(return None)
        val byIdx = nextSig(toks, orderIdx + 1)
        val part = trimWs(toks.slice(openIdx + 1, orderIdx)) // PARTITION BY … or empty
        val order = trimWs(toks.slice(byIdx + 1, i))
        val frame = trimWs(toks.slice(nextSig(toks, i + 1), closeIdx))
        val outerLvl = depthAt(openIdx)
        // this level's FROM + source (through WHERE; bail on GROUP BY)
        val fromIdx = (closeIdx until toks.length)
          .find(k => depthAt(k) == outerLvl && isWordI(toks(k), "FROM"))
          .getOrElse(return None)
        val srcEnd = (fromIdx + 1 until toks.length).find(k => depthAt(k) == outerLvl &&
          (toks(k) match {
            case Word(w) => Seq("GROUP", "HAVING", "ORDER", "LIMIT",
              "UNION", "SETTINGS", "WINDOW").contains(w.toUpperCase)
            case Punct(";") => true
            case _ => false
          })).getOrElse(toks.length)
        val src = trimWs(toks.slice(fromIdx + 1, srcEnd))
        val n = textLength(toks)
        val (gdr, gsub) = (Word(s"__gdr$n"), Word(s"__gsub$n"))
        val partBy = if (part.nonEmpty) part :+ Ws(" ") else part
        return Some(toks.take(openIdx + 1) ++ tk"${partBy}ORDER BY $gdr RANGE $frame" ++
          toks.slice(closeIdx, fromIdx) ++
          tk" FROM (SELECT *, dense_rank() OVER (${partBy}ORDER BY $order) AS $gdr FROM $src) $gsub " ++
          toks.drop(srcEnd))
      }
      i += 1
    }
    None
  }

  /** SQL-standard `position(needle IN haystack)` → the CH argument
    * order `position(haystack, needle)` (which the strict session's
    * builder then lowers with byte-offset semantics). Spark's parser
    * would otherwise consume the IN form with its own locate lowering,
    * bypassing the dialect's empty-needle and byte conventions.
    */
  private def rewritePositionIn(toks: Vector[Tok]): Vector[Tok] = {
    def isPos(t: Tok) = t match {
      case Word(w) => w.toLowerCase.startsWith("position")
      case _ => false
    }
    if (!toks.exists(isPos)) return toks
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val p = nextSig(toks, i + 1)
      val close = if (isPos(toks(i)) && p < toks.length && toks(p) == Punct("("))
        balancedClose(toks, p) else -1
      // a top-level IN inside these parens, and no top-level comma
      val top = if (close < 0) Nil else inside(toks, p, close)
      val inIdx = top.filter(k => isWordI(toks(k), "IN")).lastOption
      if (inIdx.isDefined && !top.exists(k => toks(k) == Punct(",") && k > inIdx.get)) {
        val needle = trimWs(toks.slice(p + 1, inIdx.get))
        val hay = trimWs(toks.slice(inIdx.get + 1, close))
        out += toks(i)
        out ++= tk"($hay, $needle)"
        i = close + 1
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** CH map literals `{'a': 1, 'b': 2}` → `map('a', 1, 'b', 2)`. The
    * main loop marks literal-position braces as `map{` (element-access
    * braces are already rewritten there); this pass converts the marked
    * literals, turning the map level's colons into commas.
    */
  private def rewriteMapLiterals(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.contains(Punct("{"))) return toks
    val out = ArrayBuffer[Tok]()
    var stack = List[String]() // "map" | "brace" | "paren"
    var lastSig: Option[Tok] = None
    for (t <- toks) t match {
      case Punct("{") =>
        if (lastSig.exists(s => isWordI(s, "map"))) {
          stack ::= "map"
          // replace the marker word, dropping the whitespace after it
          val word = out.lastIndexWhere(!_.isInstanceOf[Ws])
          out.remove(word, out.length - word)
          out ++= tk"map("
        } else { stack ::= "brace"; out += t }
        lastSig = Some(Punct("("))
      case Punct("}") =>
        out += Punct(if (stack.headOption.contains("map")) ")" else "}")
        stack = stack.drop(1); lastSig = Some(Punct(")"))
      case Punct("(") =>
        stack ::= "paren"; out += t; lastSig = Some(t)
      case Punct(")") =>
        stack = stack.drop(1); out += t; lastSig = Some(t)
      case Punct(":") if stack.headOption.contains("map") =>
        out += Punct(","); lastSig = Some(Punct(","))
      case w: Ws => out += w
      case other => out += other; lastSig = Some(other)
    }
    out.toVector
  }
  /** ClickHouse's scalar WITH items (`WITH expr AS name, … SELECT …`,
    * reference ParserWithElement): each non-CTE item defines a named
    * scalar usable anywhere in the statement. CTE items
    * (`name AS (SELECT …)`) pass through to Spark's WITH.
    */
  /** `GROUP BY … WITH TOTALS` surgery for the corpus runner: when the
    * statement carries a top-level WITH TOTALS (reference
    * TotalsHavingTransform.cpp — group rows, then a blank line, then one
    * grand-total row), return (mainSql, totalsSql): the statement with
    * the modifier removed, and a companion statement computing the
    * grand total (GROUP BY / ORDER BY / LIMIT clauses removed so the
    * aggregates run over the whole input; HAVING kept — it filters the
    * totals row the way totals_mode=after_having does for passing
    * groups), plus the raw GROUP BY item texts so the runner can
    * substitute key references that would otherwise dangle in the
    * grand-total query. Returns None when no top-level WITH TOTALS is
    * present.
    */
  /** WITH TOTALS inside JOINed subqueries (reference
    * TotalsHavingTransform + HashJoin totals propagation: the join's
    * totals row is the LEFT stream's totals row — default-constructed
    * when the left subquery declared none — joined against the right
    * stream's totals row, which is simply absent when the right declared
    * none; 00150/01107 goldens). Returns (mainSql, totalsSql): the
    * statement with every nested TOTALS stripped, and a companion where
    * each join operand collapses to its totals row — group keys become
    * their type default (0), aggregate items aggregate globally and
    * coalesce to 0 (CH's empty-input sum), a totals-less LEFT operand
    * becomes one all-defaults row, a totals-less RIGHT operand becomes
    * empty.
    */
  def splitJoinTotals(stmt: String): Option[(String, String)] = {
    if (!"""(?is)\)\s*(?:AS\s+\w+\s+|\w+\s+)?(?:ANY\s+|ALL\s+|GLOBAL\s+)?(?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+)?(?:OUTER\s+)?JOIN"""
        .r.findFirstIn(stmt).isDefined) return None
    val toks = tokenize(stripComments(stmt))
    val depthAt = depths(toks)
    // top-level WITH TOTALS → the splitTotals path owns the statement
    if (toks.indices.exists(k => depthAt(k) == 0 && isWordI(toks(k), "WITH") &&
        isWordI(toks(nextSig(toks, k + 1)), "TOTALS"))) return None
    // paren-subquery operands of the top-level FROM/JOIN chain
    val fromIdx = toks.indices.find(k =>
      depthAt(k) == 0 && isWordI(toks(k), "FROM")).getOrElse(return None)
    case class Operand(open: Int, close: Int, isLeft: Boolean)
    val ops = ArrayBuffer[Operand]()
    var k = nextSig(toks, fromIdx + 1)
    if (k >= toks.length || toks(k) != Punct("(")) return None
    val c0 = balancedClose(toks, k)
    if (c0 < 0) return None
    ops += Operand(k, c0, isLeft = true)
    var j = c0 + 1
    var expectJoin = true
    while (j < toks.length && expectJoin) {
      toks(j) match {
        case Word(w) if w.equalsIgnoreCase("JOIN") =>
          val o = nextSig(toks, j + 1)
          if (o < toks.length && toks(o) == Punct("(")) {
            val c = balancedClose(toks, o)
            if (c < 0) return None
            ops += Operand(o, c, isLeft = false)
            j = c + 1
          } else return None
        case Word(w) if depthAt(j) == 0 &&
            Set("USING", "ON", "WHERE", "GROUP", "ORDER", "LIMIT",
              "SETTINGS", "HAVING", "FORMAT").contains(w.toUpperCase) =>
          expectJoin = false
        case _ => j += 1
      }
    }
    def hasTotals(o: Operand): Boolean =
      (o.open until o.close).exists(k2 => isWordI(toks(k2), "WITH") &&
        isWordI(toks(nextSig(toks, k2 + 1)), "TOTALS"))
    if (!ops.exists(hasTotals)) return None
    val stripTot = (s: String) =>
      """(?i)\bWITH\s+TOTALS\b""".r.replaceAllIn(s, " ")
    val mainSql = stripTot(render(toks))
    // companion: replace each operand's body
    val aggRe = ("""(?i)\b(count|sum|avg|min|max|any|anyLast|uniq\w*|""" +
      """quantile\w*|median\w*|groupArray\w*|argMin|argMax|topK\w*|""" +
      """corr|covar\w*|stddev\w*|var\w*)\s*\(""").r
    def totalsBody(o: Operand): Option[String] = {
      val inner = toks.slice(o.open + 1, o.close)
      val dep = depths(inner)
      val sel = inner.indices.find(k2 => dep(k2) == 0 &&
        isWordI(inner(k2), "SELECT")).getOrElse(return None)
      val from = inner.indices.find(k2 => dep(k2) == 0 &&
        isWordI(inner(k2), "FROM")).getOrElse(return None)
      // split items
      val items = ArrayBuffer[String]()
      var a = sel + 1
      for (k2 <- (sel + 1) until from)
        if (dep(k2) == 0 && inner(k2) == Punct(",")) {
          items += render(inner.slice(a, k2)); a = k2 + 1
        }
      items += render(inner.slice(a, from))
      if (items.exists(_.trim == "*")) return None
      var sawAgg = false
      val newItems = items.map(_.trim).filter(_.nonEmpty).map { it =>
        val aliasM = """(?is)^(.*?)\s+AS\s+(`[^`]+`|\w+)\s*$""".r
          .findFirstMatchIn(it)
        val (expr, alias) = aliasM match {
          case Some(mm) => (mm.group(1), mm.group(2))
          case None => (it, if (it.matches("""`[^`]+`|\w+""")) it else "")
        }
        if (aggRe.findFirstIn(expr).isDefined) {
          sawAgg = true
          s"coalesce($expr, 0)" + (if (alias.nonEmpty) s" AS $alias" else "")
        }
        // a CONSTANT column keeps its value in the totals row
        // (TotalsHavingTransform keeps const columns const)
        else if (expr.trim.matches("""'[^']*'|\d+(\.\d+)?"""))
          expr.trim + (if (alias.nonEmpty) s" AS $alias" else "")
        else if (alias.nonEmpty) s"0 AS $alias"
        else if (expr.trim.matches("""`[^`]+`|\w+""")) s"0 AS ${expr.trim}"
        else "0"
      }
      // drop GROUP BY / ORDER BY / LIMIT of this level; keep FROM+WHERE
      var tailEnd = inner.length
      var k3 = from
      while (k3 < inner.length && tailEnd == inner.length) {
        if (dep(k3) == 0 && (isWordI(inner(k3), "GROUP") ||
            isWordI(inner(k3), "ORDER") || isWordI(inner(k3), "LIMIT") ||
            (isWordI(inner(k3), "WITH") &&
              isWordI(inner(nextSig(toks, k3 + 1)), "TOTALS"))))
          tailEnd = k3
        k3 += 1
      }
      // the totals row exists even over EMPTY input: a global aggregate
      // guarantees one row; with no aggregates the row is fully constant
      // and needs no source at all
      val src = stripTot(render(inner.slice(from, tailEnd)))
      if (sawAgg) Some(s"SELECT ${newItems.mkString(", ")} $src")
      else Some(s"SELECT ${newItems.mkString(", ")}")
    }
    def defaultsRow(o: Operand): Option[String] = {
      // one all-defaults row with the operand's column names
      val inner = toks.slice(o.open + 1, o.close)
      val dep = depths(inner)
      val sel = inner.indices.find(k2 => dep(k2) == 0 &&
        isWordI(inner(k2), "SELECT")).getOrElse(return None)
      val from = inner.indices.find(k2 => dep(k2) == 0 &&
        isWordI(inner(k2), "FROM")).getOrElse(return None)
      val items = ArrayBuffer[String]()
      var a = sel + 1
      for (k2 <- (sel + 1) until from)
        if (dep(k2) == 0 && inner(k2) == Punct(",")) {
          items += render(inner.slice(a, k2)); a = k2 + 1
        }
      items += render(inner.slice(a, from))
      val cols = items.map(_.trim).filter(_.nonEmpty).map { it =>
        val aliasM = """(?is)^(.*?)\s+AS\s+(`[^`]+`|\w+)\s*$""".r
          .findFirstMatchIn(it)
        aliasM.map(mm => s"0 AS ${mm.group(2)}").getOrElse(
          if (it.matches("""`[^`]+`|\w+""")) s"0 AS $it" else "0")
      }
      Some(s"SELECT ${cols.mkString(", ")}")
    }
    val pieces = ArrayBuffer[String]()
    var pos = 0
    for (o <- ops) {
      pieces += render(toks.slice(pos, o.open + 1))
      // ANY strictness drops the right stream's totals entirely (00150's
      // `0 45 \N`); a plain join default-constructs them (01107's `0 0`)
      val anyJoin = !o.isLeft && toks.slice(pos, o.open).exists(t =>
        isWordI(t, "ANY"))
      val repl =
        if (hasTotals(o)) totalsBody(o)
        else if (o.isLeft || !anyJoin) defaultsRow(o)
        else {
          val body = render(toks.slice(o.open + 1, o.close))
          Some(s"SELECT * FROM ( ${stripTot(body)} ) __tjr WHERE FALSE")
        }
      repl match {
        case Some(r) => pieces += r
        case None => return None
      }
      pos = o.close
    }
    pieces += render(toks.slice(pos, toks.length))
    Some((mainSql, pieces.mkString))
  }

  def splitTotals(stmt: String): Option[(String, String, Seq[String])] = {
    val toks = tokenize(stmt)
    val depthAt = depths(toks)
    // first WITH TOTALS, preferring the top level; a nested one only
    // qualifies when the outer query is a bare pass-through
    // (`SELECT * FROM ( … )`) — anything else consumes the totals
    // stream (reference TotalsHavingTransform: totals propagate through
    // non-aggregating transforms only). Non-qualifying statements
    // return None; the caller strips the modifier and emits group rows.
    var withIdx = -1; var totalsIdx = -1
    for (pass <- Seq(true, false) if withIdx < 0) {
      var k = 0
      while (withIdx < 0 && k < toks.length) {
        if ((if (pass) depthAt(k) == 0 else depthAt(k) > 0) &&
            isWordI(toks(k), "WITH")) {
          val nx = nextSig(toks, k + 1)
          if (nx < toks.length && isWordI(toks(nx), "TOTALS")) {
            withIdx = k; totalsIdx = nx
          }
        }
        k += 1
      }
    }
    if (withIdx < 0) return None
    val td = depthAt(withIdx)
    if (td > 0 &&
        !"""(?is)^\s*SELECT\s+\*\s+FROM\s*\(""".r.findFirstIn(stmt).isDefined)
      return None
    // a top-level JOIN owns nested totals (splitJoinTotals territory) —
    // the bare pass-through claim would mangle the non-first subquery's
    // TOTALS (01107's star-shaped statements)
    if (td > 0 && toks.indices.exists(k =>
        depthAt(k) == 0 && isWordI(toks(k), "JOIN")))
      return None
    // enclosing paren range of the totals clause (whole statement at
    // top level)
    val openIdx = if (td > 0) parents(toks)(withIdx) else -1
    val closeIdx = if (openIdx < 0) toks.length else closeOrEnd(toks, openIdx)
    // the owning GROUP BY (last same-level GROUP before WITH TOTALS)
    var groupIdx = -1
    for (j <- (math.max(openIdx, 0) until withIdx).reverse if groupIdx < 0)
      if (depthAt(j) == td && isWordI(toks(j), "GROUP") &&
          isWordI(toks(nextSig(toks, j + 1)), "BY")) groupIdx = j
    // `SELECT 1 WITH TOTALS` with neither GROUP BY nor aggregation is
    // NOT_IMPLEMENTED in the reference (error 48,
    // 01013_totals_without_aggregation)
    if (groupIdx < 0) {
      val head = render(toks.slice(math.max(openIdx, 0), withIdx))
      val aggRe = ("""(?i)\b(count|sum|avg|min|max|any|anyLast|uniq\w*|""" +
        """quantile\w*|median\w*|groupArray\w*|argMin|argMax|topK\w*|""" +
        """corr|covar\w*|stddev\w*|var\w*|entropy)\s*\(""").r
      if (!aggRe.findFirstIn(head).isDefined)
        throw new IllegalArgumentException(
          "WITH TOTALS without aggregation is not supported (error 48)")
    }
    val boundary = Set("ORDER", "LIMIT", "SETTINGS", "UNION", "FORMAT",
      "INTO", "OFFSET", "HAVING")
    def clauseEnd(from: Int): Int = {
      var j = from
      while (j < closeIdx && !(depthAt(j) == td && (toks(j) match {
        case Word(w) => boundary.contains(w.toUpperCase)
        case Punct(";") => true
        case _ => false
      }))) j += 1
      j
    }
    def drop(ranges: Seq[(Int, Int)]): String = {
      val dead = ranges.flatMap { case (a, b) => a until b }.toSet
      render(toks.indices.filterNot(dead).map(toks))
    }
    val main = drop(Seq((withIdx, totalsIdx + 1)))
    // totals: drop GROUP BY …, WITH TOTALS, and any same-level ORDER BY
    // / LIMIT / OFFSET (a single grand-total row needs none of them)
    var totRanges = Seq((withIdx, totalsIdx + 1)) ++
      (if (groupIdx >= 0) Seq((groupIdx, withIdx)) else Nil)
    var j2 = totalsIdx + 1
    while (j2 < closeIdx) {
      if (depthAt(j2) == td && (isWordI(toks(j2), "ORDER") ||
          isWordI(toks(j2), "LIMIT") || isWordI(toks(j2), "OFFSET"))) {
        val end = clauseEnd(nextSig(toks, j2 + 1))
        totRanges :+= ((j2, end))
        j2 = end
      } else j2 += 1
    }
    // raw GROUP BY items (modifier words WITH ROLLUP/CUBE stripped; a
    // function-style ROLLUP(a, b) / CUBE(a, b) unwraps to its items so
    // the totals query can substitute the dangling key references)
    val groupItems: Seq[String] =
      if (groupIdx < 0) Nil
      else {
        val byIdx = nextSig(toks, groupIdx + 1)
        var itemsText = render(toks.slice(byIdx + 1, withIdx))
          .replaceAll("(?i)\\bWITH\\s+(ROLLUP|CUBE)\\b", "").trim
        val wrap = """(?is)^(?:ROLLUP|CUBE)\s*\((.*)\)\s*$""".r
        itemsText = wrap.findFirstMatchIn(itemsText)
          .map(_.group(1)).getOrElse(itemsText)
        itemsText.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }
    Some((main, drop(totRanges), groupItems))
  }

  /** `ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]` (reference
    * FillingTransform.cpp): strip the modifier and return the fill
    * specs so the corpus runner can densify the collected rows. Only
    * top-level ORDER BY items are considered.
    */
  case class FillSpec(col: String, desc: Boolean, from: Option[String],
      to: Option[String], step: Option[String])

  def stripWithFill(stmt: String): Option[(String, Seq[FillSpec])] = {
    if (!"""(?i)\bWITH\s+FILL\b""".r.findFirstIn(stmt).isDefined) return None
    val toks = tokenize(stmt)
    val depthAt = depths(toks)
    val specs = ArrayBuffer[FillSpec]()
    val drop = ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < toks.length) {
      // (a WITH that ends the statement is no fill; it passes through)
      if (depthAt(i) == 0 && isWordI(toks(i), "WITH") &&
          toks.lift(nextSig(toks, i + 1)).exists(isWordI(_, "FILL"))) {
        // the item start: after the last comma / BY before it, a
        // bracket group skipped whole (an opener it closes none of is
        // no boundary)
        var s = i - 1
        while (s >= 0 && toks(s) != Punct(",") && !isWordI(toks(s), "BY"))
          s = toks(s) match {
            case Punct(")") | Punct("]") => balancedOpen(toks, s, brackets = true) - 1
            case _ => s - 1
          }
        val itemStart = math.max(s + 1, 0)
        var itemText = render(toks.slice(itemStart, i)).trim
        val desc = """(?i)\s+DESC(ENDING)?$""".r.findFirstIn(itemText).isDefined
        itemText = itemText.replaceAll("(?i)\\s+(ASC|DESC)(ENDING)?$", "")
        // consume FROM/TO/STEP operands
        var j = nextSig(toks, nextSig(toks, i + 1) + 1)
        var from: Option[String] = None
        var to: Option[String] = None
        var step: Option[String] = None
        var stop = false
        while (!stop && j < toks.length) {
          toks(j) match {
            case w: Word if isWordI(w, "FROM") || isWordI(w, "TO") ||
                isWordI(w, "STEP") =>
              val kw = w.text.toUpperCase
              val start = nextSig(toks, j + 1)
              // operand: signed literal / function call until next kw
              val e = (start until toks.length).find { e =>
                val d = depthAt(e) - depthAt(start)
                toks(e) match {
                  case Punct(")") => e == start || d < 0
                  case Punct(",") | Punct(";") => d == 0
                  case ww: Word => d == 0 && e != start &&
                    Seq("FROM", "TO", "STEP", "WITH", "LIMIT", "SETTINGS",
                      "FORMAT", "INTERPOLATE", "UNION", "OFFSET")
                      .contains(ww.text.toUpperCase)
                  case _ => false
                }
              }.getOrElse(toks.length)
              val v = render(toks.slice(start, e)).trim
              kw match {
                case "FROM" => from = Some(v)
                case "TO" => to = Some(v)
                case "STEP" => step = Some(v)
              }
              j = e
            case _ => stop = true
          }
        }
        specs += FillSpec(itemText, desc, from, to, step)
        drop += ((i, j))
        i = j
      } else i += 1
    }
    if (specs.isEmpty) None
    else {
      val dead = drop.flatMap { case (a, b) => a until b }.toSet
      Some((render(toks.indices.filterNot(dead).map(toks)),
        specs.toSeq))
    }
  }

  /** Apply the scalar-WITH rewrite to every parenthesized subquery that
    * begins with WITH (`FROM (WITH expr AS name SELECT …)`, reference
    * ParserWithElement applies at any query depth), innermost first,
    * then to the whole statement.
    */
  private def rewriteScalarWithDeep(toks: Vector[Tok]): Vector[Tok] = {
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(") &&
          toks.lift(nextSig(toks, i + 1)).exists(isWordI(_, "WITH"))) {
        val j = balancedClose(toks, i)
        if (j >= 0) {
          val inner = toks.slice(i + 1, j)
          val rewritten = rewriteScalarWith(rewriteScalarWithDeep(inner))
          if (!sameText(rewritten, inner))
            return rewriteScalarWithDeep(toks.take(i + 1) ++ rewritten ++ toks.drop(j))
        }
      }
      i += 1
    }
    rewriteScalarWith(toks)
  }

  /** ClickHouse's scalar WITH items (`WITH expr AS name, … SELECT …`,
    * reference ParserWithElement): each non-CTE item defines a named
    * scalar usable anywhere in the statement. CTE items
    * (`name AS (SELECT …)`) pass through to Spark's WITH.
    */
  private def rewriteScalarWith(toks: Vector[Tok]): Vector[Tok] = {
    val w0 = nextSig(toks, 0)
    if (w0 >= toks.length || !isWordI(toks(w0), "WITH")) return toks
    // items up to the depth-0 SELECT
    val depth = depths(toks.drop(w0 + 1))
    def d(k: Int) = depth(k - w0 - 1)
    val selIdx = (w0 + 1 until toks.length)
      .find(k => d(k) == 0 && isWordI(toks(k), "SELECT")).getOrElse(return toks)
    val cuts = (w0 + 1 until selIdx).filter(k => d(k) == 0 && toks(k) == Punct(","))
    val items = (w0 +: cuts).zip(cuts :+ selIdx).map { case (a, b) => toks.slice(a + 1, b) }
    // classify: CTE = `name AS ( SELECT`, scalar = `expr AS name`
    val ctes = ArrayBuffer[Vector[Tok]]()
    val scalars = ArrayBuffer[(String, Vector[Tok])]()
    for (it <- items) {
      val sig = it.zipWithIndex.filterNot(_._1.isInstanceOf[Ws])
      val isCte = sig.length >= 3 && sig.head._1.isInstanceOf[Word] &&
        isWordI(sig(1)._1, "AS") && sig(2)._1 == Punct("(")
      if (isCte) ctes += trimWs(it)
      else {
        // top-level `AS name` at the END of the item
        val asPos = sig.dropRight(1).lastIndexWhere(p => isWordI(p._1, "AS"))
        if (asPos >= 0 && asPos == sig.length - 2) {
          sig.last._1 match {
            case Word(name) => scalars += name -> trimWs(it.take(sig(asPos)._2))
            case _ => return toks // unsupported shape — leave untouched
          }
        } else return toks
      }
    }
    if (scalars.isEmpty) return toks
    val defs = scalars.toMap
    def resolve(t: Vector[Tok], d: Int): Vector[Tok] =
      if (d > 4) t
      else t.flatMap {
        case Word(w) if defs.contains(w) => Punct("(") +: resolve(defs(w), d + 1) :+ Punct(")")
        case tok => Vector(tok)
      }
    val resolved = defs.map { case (k, v) => k -> resolve(v, 0) }
    val body = substIdents(toks.drop(selIdx), resolved)
    (if (ctes.nonEmpty) tk"WITH ${commaList(ctes.toSeq)} " else Vector.empty) ++ body
  }

  /** ClickHouse's typed VALUES table function
    * (`FROM VALUES('x UInt64, s String[, z ALIAS expr]', (…), (…))`,
    * reference src/TableFunctions/TableFunctionValues.cpp): the first
    * argument is a column-spec string. Lowered onto Spark's inline
    * table: `(SELECT CAST(x AS …) AS x, …[, expr AS z] FROM VALUES
    * (…), (…) AS __chv(x, s))`. ALIAS/MATERIALIZED/DEFAULT columns are
    * computed, not fed by the tuples. The plain Spark `VALUES` form
    * (no spec string) passes through untouched.
    */
  private def rewriteValuesTable(toks: Vector[Tok]): Vector[Tok] = {
    def specAt(i: Int): Int = {
      val op = nextSig(toks, i + 1)
      val firstArg = nextSig(toks, op + 1)
      if (isWordI(toks(i), "VALUES") && firstArg < toks.length &&
        toks(op) == Punct("(") && toks(firstArg).isInstanceOf[Str]) firstArg else -1
    }
    if (!toks.indices.exists(i => specAt(i) >= 0 && toks(specAt(i)).text.startsWith("'")))
      return toks
    var i = 0
    while (i < toks.length) {
      val firstArg = specAt(i)
      if (firstArg >= 0) {
        val op = nextSig(toks, i + 1)
        val j = balancedClose(toks, op) // balanced call range
        if (j >= 0) {
          val spec = unquote(toks(firstArg).text)
          val restArgs = toks.slice(nextSig(toks, firstArg + 1), j)
          val tuples = trimWs(if (restArgs.headOption.contains(Punct(","))) restArgs.tail else restArgs)
          val defs = ChLex.splitTop(spec).map(_.trim).filter(_.nonEmpty)
          val computedRe =
            """(?is)^(`[^`]+`|\w+)\s+(?:ALIAS|MATERIALIZED|DEFAULT)\s+(.*)$""".r
          val plain = ArrayBuffer[(String, String)]() // name -> CH type
          val computed = ArrayBuffer[(String, String)]() // name -> expr
          defs.foreach {
            case computedRe(n, e) =>
              computed += ((n.stripPrefix("`").stripSuffix("`"), e))
            case defText =>
              val sp = defText.indexWhere(_.isWhitespace)
              if (sp > 0)
                plain += ((defText.take(sp).trim
                  .stripPrefix("`").stripSuffix("`"),
                  defText.drop(sp).trim))
          }
          if (plain.nonEmpty) {
            val parsedTypes = plain.map { case (n, t) =>
              (n, try Some(ChTypes.parse(t)._1) catch {
                case _: Exception => None
              })
            }
            // only a spec where EVERY declared type parses is a typed
            // VALUES('x UInt64, …') table function — a plain inline
            // table whose first value happens to contain whitespace
            // must stay untouched (ADVICE r11)
            if (parsedTypes.forall(_._2.isDefined)) {
              // the column list comes from inside the spec literal
              val casts = parsedTypes.map { case (n, dt) =>
                s"CAST($n AS ${dt.get.sql}) AS $n"
              }
              val comps = computed.map { case (n, e) => s"$e AS $n" }
              val inner = frag(s"(SELECT ${(casts ++ comps).mkString(", ")} FROM VALUES ") ++
                tuples ++ frag(s" AS __chv(${plain.map(_._1).mkString(", ")}))")
              return rewriteValuesTable(toks.take(i) ++ inner ++ toks.drop(j + 1))
            }
          }
        }
      }
      i += 1
    }
    toks
  }

  /** ClickHouse `LIMIT n BY expr[, …]` (reference LimitByTransform:
    * first n stream rows per distinct key, keeping stream order) →
    * row_number over a monotonic id. Runs LAST in the pass chain, so
    * the wrapper it emits is plain Spark SQL. An optional trailing
    * `LIMIT m` stays the final limit.
    */
  private def rewriteLimitBy(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "LIMIT"))) return toks
    val depthAt = depths(toks)
    for (i <- toks.indices) {
      if (isWordI(toks(i), "LIMIT")) {
        val td = depthAt(i)
        val nIdx = nextSig(toks, i + 1)
        val byIdx = if (nIdx < toks.length) nextSig(toks, nIdx + 1) else toks.length
        val isLimitBy = nIdx < toks.length && toks(nIdx).isInstanceOf[Num] &&
          byIdx < toks.length && isWordI(toks(byIdx), "BY")
        if (isLimitBy) {
          // enclosing group bounds (whole statement at depth 0)
          val openIdx = if (td > 0) parents(toks)(i) else -1
          // BY items: up to the next same-level clause keyword or the
          // enclosing close paren
          val end = (byIdx + 1 until toks.length).find { j =>
            toks(j) match {
              case Word(w) => depthAt(j) == td && Seq("LIMIT", "UNION",
                "SETTINGS", "FORMAT", "INTO", "OFFSET").contains(w.toUpperCase)
              case Punct(";") => depthAt(j) == td
              case Punct(")") => depthAt(j) < td
              case _ => false
            }
          }.getOrElse(toks.length)
          val items = trimWs(toks.slice(byIdx + 1, end))
          val body = trimWs(toks.slice(openIdx + 1, i))
          // the enclosing close paren
          val postStart = if (openIdx >= 0) balancedClose(toks, openIdx) else toks.length
          val tail = trimWs(toks.slice(end, postStart))
          val rewritten =
            tk"SELECT * EXCEPT (__lby_rn, __lby_id) FROM (" ++
              tk"SELECT *, row_number() OVER (PARTITION BY $items " ++
              tk"ORDER BY __lby_id) AS __lby_rn FROM (" ++
              tk"SELECT *, monotonically_increasing_id() AS __lby_id " ++
              tk"FROM ($body))) " ++
              tk"WHERE __lby_rn <= ${toks(nIdx)} ORDER BY __lby_id" ++
              (if (tail.nonEmpty) Ws(" ") +: tail else Vector.empty)
          return rewriteLimitBy(toks.take(openIdx + 1) ++ rewritten ++ toks.drop(postStart))
        }
      }
    }
    toks
  }

  /** Spark's expression parser reads `(SELECT 'str' …)` as the typed
    * literal `SELECT 'str'` (UNSUPPORTED_TYPED_LITERAL) — an
    * IN/EXISTS/scalar subquery whose select list LEADS with a string
    * literal fails to parse. Spelling the literal as
    * `CAST('str' AS STRING)` sidesteps the grammar without changing
    * value, type, or the subquery's row semantics (an extra paren level
    * would instead turn `IN (subquery)` into a scalar subquery).
    */
  private def guardSelectStringHead(toks: Vector[Tok]): Vector[Tok] = {
    val wrapAt = toks.indices.filter(k => toks(k) == Punct("(")).flatMap { k =>
      val s = nextSig(toks, k + 1)
      val lit = nextSig(toks, s + 1)
      if (s < toks.length && isWordI(toks(s), "SELECT") && lit < toks.length &&
        toks(lit).isInstanceOf[Str]) Some(lit) else None
    }.toSet
    if (wrapAt.isEmpty) toks
    else toks.indices.flatMap(k =>
      if (wrapAt(k)) tk"CAST(${toks(k)} AS STRING)" else Vector(toks(k))).toVector
  }

  /** Strip one level of SQL single-quoting (after the literal
    * normalization pass the body uses `\'` escapes).
    */
  private def unquote(lit: String): String = {
    if (lit.length < 2) return lit
    lit.substring(1, lit.length - 1)
      .replace("\\'", "'").replace("''", "'").replace("\\\\", "\\")
  }

  /** `INTERVAL <expr> UNIT` with a non-literal quantity (ClickHouse
    * allows any expression; Spark's INTERVAL literal is constant-only)
    * → `((expr) * INTERVAL '1' UNIT)`.
    */
  private def rewriteDynamicInterval(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "INTERVAL"))) return toks
    val units = Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
      "QUARTER", "YEAR", "SECONDS", "MINUTES", "HOURS", "DAYS", "WEEKS",
      "MONTHS", "QUARTERS", "YEARS")
    val depthAt = depths(toks)
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "INTERVAL")) {
        // the unit word at this depth, before any clause boundary
        val stop = (i + 1 until toks.length).find { j =>
          val d = depthAt(j) - depthAt(i)
          toks(j) match {
            case Punct(")") => d < 0
            case Punct(",") | Punct(";") => d == 0
            case Word(w) => d == 0 && (units.contains(w.toUpperCase) ||
              Seq("SELECT", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "AND",
                "OR", "AS").contains(w.toUpperCase))
            case _ => false
          }
        }
        val unitAt = stop.filter(j => toks(j) match {
          case Word(w) => units.contains(w.toUpperCase)
          case _ => false
        }).getOrElse(-1)
        if (unitAt > 0) {
          val exprToks = sigToks(toks.slice(i + 1, unitAt))
          val literalForm = exprToks.size == 1 && (exprToks.head match {
            case _: Num | _: Str => true
            case _ => false
          })
          if (!literalForm && exprToks.nonEmpty) {
            val unit = Word(toks(unitAt).text.toUpperCase.stripSuffix("S"))
            return rewriteDynamicInterval(toks.take(i) ++
              tk"((${trimWs(toks.slice(i + 1, unitAt))}) * INTERVAL '1' $unit)" ++
              toks.drop(unitAt + 1))
          }
        }
      }
      i += 1
    }
    toks
  }

  /** `JOIN … USING a, b` (ClickHouse allows the list bare, reference
    * ParserJoin) → `USING (a, b)` — Spark requires the parentheses.
    * Consumes an identifier chain `name (, name)*` after USING; an
    * already-parenthesized list or anything non-identifier passes
    * through untouched.
    */
  private def parenthesizeUsing(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "USING"))) return toks
    val stop = Set("SELECT", "FROM", "WHERE", "GROUP", "ORDER", "HAVING",
      "LIMIT", "SETTINGS", "UNION", "FORMAT", "INTO", "JOIN", "INNER",
      "LEFT", "RIGHT", "FULL", "CROSS", "ANY", "ALL", "ASOF", "SEMI",
      "ANTI", "GLOBAL", "ON", "PREWHERE", "AND", "OR", "NOT", "AS")
    def isIdent(k: Int): Boolean = k < toks.length && (toks(k) match {
      case Word(w) => !stop.contains(w.toUpperCase)
      case _ => false
    })
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      out += t
      i += 1
      if (isWordI(t, "USING")) {
        val first = nextSig(toks, i)
        if (isIdent(first)) {
          // collect name (, name)*
          val names = ArrayBuffer(first)
          var j = first + 1
          var cont = true
          while (cont) {
            val c = nextSig(toks, j)
            if (c < toks.length && toks(c) == Punct(",") &&
                isIdent(nextSig(toks, c + 1))) {
              names += nextSig(toks, c + 1)
              j = nextSig(toks, c + 1) + 1
            } else cont = false
          }
          out ++= tk" (${commaList(names.map(k => Vector(toks(k))).toSeq)})"
          i = j
        }
      }
    }
    out.result()
  }

  /** CH `ANY [LEFT|INNER] JOIN` (also the `LEFT ANY JOIN` spelling) —
    * at-most-one-match semantics: the reference's HashJoin keeps the
    * FIRST right-side row per join key (src/Interpreters/HashJoin.cpp,
    * ASTTableJoin::Strictness::Any). Lowered to a keep-first-per-key
    * dedup of the right relation — row_number over
    * monotonically_increasing_id partitioned by the join keys — so the
    * join itself stays a plain Spark join (broadcast/AQE still apply).
    * Runs LAST in the post-pass chain: input is Spark-ready SQL where
    * the main loop preserved the ANY token before LEFT/INNER/JOIN and
    * USING lists are already parenthesized. Keys come from the USING
    * list or from simple equi-conjuncts of the ON clause (right side
    * identified by the relation's alias / table name). Shapes whose
    * keys cannot be identified fall back to dropping the qualifier —
    * the pre-r12 behavior, guarded by the sweep gate's goldens. */
  private def rewriteAnyJoin(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "any"))) return toks
    def wordAt(k: Int): String = if (k >= 0 && k < toks.length) (toks(k) match {
      case Word(x) => x.toUpperCase
      case _ => ""
    }) else ""
    // the text of a `[`]name[.name][`]` operand, when `ts` is one
    def identText(ts: Seq[Tok]): Option[String] = {
      val t = render(ts) // at most a few tokens, matched but never lexed
      val core = t.stripPrefix("`").stripSuffix("`")
      if (ts.nonEmpty && !ts.exists(_.isInstanceOf[Ws]) && core.nonEmpty &&
          core.forall(c => c < 128 && (c.isLetterOrDigit || c == '_' || c == '.')))
        Some(t) else None
    }
    def keyTok(k: String): Tok = if (k.nonEmpty && k.head.isDigit) Num(k) else Word(k)
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if w.equalsIgnoreCase("any") =>
          val nxt = nextSig(toks, i + 1)
          val nw = wordAt(nxt)
          val pw = wordAt(prevSig(toks, i - 1))
          // shape A: ANY [LEFT|INNER] JOIN; shape B: LEFT|INNER ANY JOIN.
          // RIGHT/FULL ANY (either order): the dedup side is the left
          // join tree / both sides — fall back to dropping the
          // qualifier (-2), the pre-r12 behavior.
          val joinIdx =
            if (pw == "RIGHT" || pw == "FULL") -2
            else if (nw == "JOIN") nxt // bare/any-after-type = dedup right
            else if (nw == "LEFT" || nw == "INNER") {
              val j2 = nextSig(toks, nxt + 1)
              if (wordAt(j2) == "JOIN") j2 else -1
            } else if (nw == "RIGHT" || nw == "FULL") -2
            else -1
          def dropAny(): Vector[Tok] = rewriteAnyJoin(toks.patch(i, Nil, 1))
          if (joinIdx == -2) return dropAny()
          else if (joinIdx < 0) { i += 1 }
          else {
            // relation after JOIN: (subquery) | [db.]table, then alias
            val r0 = nextSig(toks, joinIdx + 1)
            var relEnd = -1
            var isSub = false
            toks.lift(r0) match {
              case Some(Punct("(")) =>
                relEnd = balancedClose(toks, r0); isSub = true
              case Some(Word(_)) =>
                relEnd = r0
                var k = r0 + 1
                while (k + 1 < toks.length && toks(k) == Punct(".") &&
                    toks(k + 1).isInstanceOf[Word]) { relEnd = k + 1; k += 2 }
              case _ => ()
            }
            if (relEnd < 0) return dropAny()
            val stopW = Set("ON", "USING", "WHERE", "GROUP", "ORDER",
              "LIMIT", "HAVING", "UNION", "SETTINGS", "JOIN", "INNER",
              "LEFT", "RIGHT", "FULL", "CROSS", "SEMI", "ANTI", "ASOF",
              "ANY", "GLOBAL", "PREWHERE", "FORMAT")
            var aliasEnd = relEnd
            var alias: Option[Tok] = None
            val a0 = nextSig(toks, relEnd + 1)
            if (wordAt(a0) == "AS") {
              val a1 = nextSig(toks, a0 + 1)
              toks.lift(a1) match {
                case Some(x: Word) => alias = Some(x); aliasEnd = a1
                case _ => ()
              }
            } else toks.lift(a0) match {
              case Some(x @ Word(w)) if !stopW.contains(w.toUpperCase) =>
                alias = Some(x); aliasEnd = a0
              case _ => ()
            }
            val cIdx = nextSig(toks, aliasEnd + 1)
            val relName = if (isSub) None else toks.lift(relEnd).collect { case x: Word => x }
            val qualifier = alias.orElse(relName).fold("")(_.text)
            // join keys
            var keys = Seq.empty[Vector[Tok]]
            if (wordAt(cIdx) == "USING") {
              val p0 = nextSig(toks, cIdx + 1)
              if (toks.lift(p0).contains(Punct("("))) {
                val pc = balancedClose(toks, p0)
                if (pc > p0) {
                  val parts = splitTop(toks.slice(p0 + 1, pc)).map(trimWs).filter(_.nonEmpty)
                  if (parts.forall(identText(_).isDefined)) keys = parts
                }
              }
            } else if (wordAt(cIdx) == "ON") {
              // conjuncts of simple equalities; right-side column =
              // the side qualified by this relation's alias/name
              val termW = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
                "UNION", "SETTINGS", "JOIN", "INNER", "LEFT", "RIGHT",
                "FULL", "CROSS", "SEMI", "ANTI", "ASOF", "ANY", "GLOBAL",
                "PREWHERE", "FORMAT")
              val depthAt = depths(toks)
              val end = (cIdx + 1 until toks.length).find { e =>
                val d = depthAt(e) - depthAt(cIdx)
                toks(e) match {
                  case Punct(")") => d < 0
                  case Punct(",") | Punct(";") => d == 0
                  case Word(x) => d == 0 && termW.contains(x.toUpperCase)
                  case _ => false
                }
              }.getOrElse(toks.length)
              val cond = toks.slice(nextSig(toks, cIdx + 1), end)
              val ands = cond.indices.filter(k => isWordI(cond(k), "AND"))
              val conj = (-1 +: ands).zip(ands :+ cond.length)
                .map { case (a, b) => cond.slice(a + 1, b) }
                .reverse.dropWhile(_.isEmpty).reverse
              val picked = conj.map { c =>
                val eq = c.indexOf(Punct("="))
                if (eq < 0) None
                else (identText(trimWs(c.take(eq))), identText(trimWs(c.drop(eq + 1)))) match {
                  case (Some(l), Some(r)) =>
                    val ls = l.replace("`", ""); val rs = r.replace("`", "")
                    if (qualifier.nonEmpty && rs.startsWith(qualifier + "."))
                      Some(rs.drop(qualifier.length + 1))
                    else if (qualifier.nonEmpty && ls.startsWith(qualifier + "."))
                      Some(ls.drop(qualifier.length + 1))
                    else None
                  case _ => None
                }
              }
              if (picked.forall(_.isDefined) && picked.nonEmpty)
                keys = picked.flatten.map(k => Vector(keyTok(k)))
            }
            if (keys.isEmpty || keys.exists(_.exists(_.text.contains("."))))
              return dropAny()
            val rel = toks.slice(r0, relEnd + 1)
            val aliasOut = alias.orElse(relName).getOrElse(Word("__graft_any_r"))
            val newRel =
              tk"(SELECT * EXCEPT (__graft_any_rid, __graft_any_rn) FROM " ++
              tk"(SELECT *, row_number() OVER (PARTITION BY ${commaList(keys)} " ++
              tk"ORDER BY __graft_any_rid) AS __graft_any_rn FROM " ++
              tk"(SELECT *, monotonically_increasing_id() AS " ++
              tk"__graft_any_rid FROM $rel) __graft_any_s) __graft_any_w " ++
              tk"WHERE __graft_any_rn = 1) $aliasOut"
            return rewriteAnyJoin(toks.take(i) ++ toks.slice(i + 1, r0) ++ newRel ++
              toks.drop(aliasEnd + 1))
          }
        case _ => i += 1
      }
    }
    toks
  }

  /** `expr COLLATE 'locale'` → `chCollateKey(expr, 'locale')`: the sort
    * happens on the locale's collation key (reference Collator.cpp —
    * 01532/01533/01542/01543). The preceding primary is the identifier/
    * call/paren group right before COLLATE. */
  private def rewriteCollate(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "COLLATE"))) return toks
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "COLLATE")) {
        val locIdx = nextSig(toks, i + 1)
        toks.lift(locIdx) match {
          case Some(loc: Str) =>
            // walk back over the primary: ident chains a.b / calls f(…)
            var start = prevSig(toks, i - 1)
            toks.lift(start) match {
              case Some(Punct(")")) =>
                start = balancedOpen(toks, start)
                val fn = prevSig(toks, start - 1)
                if (toks.lift(fn).exists(_.isInstanceOf[Word])) start = fn
              case Some(_: Word) | Some(_: Num) =>
                // dotted chain t.c
                var s2 = start
                var dot = prevSig(toks, s2 - 1)
                while (dot >= 0 && toks(dot) == Punct(".") &&
                    toks.lift(prevSig(toks, dot - 1)).exists(_.isInstanceOf[Word])) {
                  s2 = prevSig(toks, dot - 1)
                  dot = prevSig(toks, s2 - 1)
                }
                start = s2
              case _ => start = -1
            }
            if (start >= 0) {
              val primary = toks.slice(start, prevSig(toks, i - 1) + 1)
              return rewriteCollate(toks.take(start) ++
                tk" chCollateKey($primary, $loc) " ++ toks.drop(locIdx + 1))
            }
          case _ => ()
        }
      }
      i += 1
    }
    toks
  }

  /** ClickHouse applies ORDER BY / LIMIT to each UNION branch
    * separately (SelectWithUnionQuery: modifiers belong to the SELECT
    * they follow); Spark's grammar reads `… LIMIT n UNION ALL …` as a
    * syntax error. Wrap every branch of a union whose region carries a
    * branch-level LIMIT/ORDER in parentheses — same semantics in both
    * readings. */
  private def rewriteUnionBranches(toks: Vector[Tok]): Vector[Tok] =
    if (!toks.exists(isWordI(_, "UNION"))) toks
    else wrapUnionBranches(toks, unionRegions(toks))

  /** One wrap of [[rewriteUnionBranches]]: the first pending region of
    * `regions` (`toks`'s [[unionRegions]]), then the next.
    */
  private def wrapUnionBranches(toks: Vector[Tok],
      regions: (scala.collection.Map[Int, Vector[Int]], Seq[Int])): Vector[Tok] = {
    val (unions, pending) = regions
    pending.headOption match {
      case None => toks
      case Some(r) =>
        val us = unions(r)
        val regionStart = firstBranchStart(toks, r, us)
        val regionEnd = if (r < 0) toks.length else balancedClose(toks, r)
        // branch boundaries: [regionStart, u1), [afterKw(u1), u2), …
        def afterKw(u: Int): Int = {
          val a = nextSig(toks, u + 1)
          toks.lift(a) match {
            case Some(Word(w)) if w.equalsIgnoreCase("ALL") ||
                w.equalsIgnoreCase("DISTINCT") => a + 1
            case _ => u + 1
          }
        }
        val bounds = (regionStart +: us.map(afterKw))
          .zip(us :+ regionEnd)
        val opens = bounds.map(_._1).toSet
        val closes = bounds.map(_._2).toSet
        val out = Vector.newBuilder[Tok]
        for (k <- 0 to toks.length) {
          if (closes.contains(k)) out ++= tk" ) "
          if (k < toks.length) {
            if (opens.contains(k)) out ++= tk" ( "
            out += toks(k)
          }
        }
        val wrapped = out.result()
        val next = unionRegions(wrapped)
        // a re-wrap that leaves as many regions to wrap made no progress
        // (an empty branch, as in `( UNION ALL …`, re-wraps forever):
        // hand the statement on unchanged for Spark's parser to reject
        if (next._2.size < pending.size) wrapUnionBranches(wrapped, next)
        else toks
    }
  }

  /** The UNIONs of each region of `toks` (region id = index of the
    * enclosing '(', -1 = top level) and, in the regions' map order, the
    * regions whose branches [[rewriteUnionBranches]] still wraps in
    * parentheses.
    */
  private def unionRegions(toks: Vector[Tok])
      : (scala.collection.Map[Int, Vector[Int]], Seq[Int]) = {
    val parent = parents(toks)
    val unions = scala.collection.mutable.Map[Int, Vector[Int]]()
    for (k <- toks.indices) toks(k) match {
      case Word(w) if w.equalsIgnoreCase("UNION") =>
        unions(parent(k)) = unions.getOrElse(parent(k), Vector()) :+ k
      case _ => ()
    }
    // every union's branches get parenthesized: ClickHouse binds
    // ORDER BY / LIMIT (before OR after the last UNION — 00098) and
    // arrayJoin scope (00371/00384) to the individual SELECT, where
    // Spark would either reject the syntax or apply them to the whole
    // union; with no modifiers the parens are identity. Skip regions
    // already wrapped (every branch starts with '(').
    val pending = unions.keys.filter { r =>
      val us = unions(r)
      // mixed set operators at the same depth keep left-assoc
      // precedence — wrapping on UNION boundaries alone would regroup
      val mixed = toks.indices.exists(k => parent(k) == r && (toks(k) match {
        case Word(w) => w.equalsIgnoreCase("INTERSECT") ||
          w.equalsIgnoreCase("EXCEPT")
        case _ => false
      }))
      val regionStart0 = firstBranchStart(toks, r, us)
      val starts = regionStart0 +: us.map { u =>
        val a = nextSig(toks, u + 1)
        toks.lift(a) match {
          case Some(Word(w)) if w.equalsIgnoreCase("ALL") ||
              w.equalsIgnoreCase("DISTINCT") => nextSig(toks, a + 1)
          case _ => a
        }
      }
      !mixed && !starts.forall(s0 => toks.lift(s0).contains(Punct("(")))
    }.toSeq
    (unions, pending)
  }

  /** Where the first branch of union region `r` (UNIONs at `us`)
    * starts. A WITH prologue binds CTEs for EVERY branch — it must stay
    * outside the first branch's parens (40054/40089/48016), so branch 1
    * starts at the region-level SELECT after it.
    */
  private def firstBranchStart(toks: Vector[Tok], r: Int, us: Vector[Int]): Int = {
    val s0 = nextSig(toks, if (r < 0) 0 else r + 1)
    if (!toks.lift(s0).exists(isWordI(_, "WITH"))) return s0
    // the branch is the first depth-0 SELECT, or a depth-0 '(' not
    // preceded by AS (CTE bodies are `name AS ( … )`; an already-wrapped
    // branch is a bare '(' — recursion pass 2)
    val d = depths(toks.slice(s0 + 1, us.head))
    (s0 + 1 until us.head).find { k =>
      d(k - s0 - 1) == 0 && (toks(k) match {
        case Punct("(") => !isWordI(toks(prevSig(toks, k - 1)), "AS")
        case Word(w) => w.equalsIgnoreCase("SELECT")
        case _ => false
      })
    }.getOrElse(s0)
  }

  /** `(x) -> body` → `x -> body`: ClickHouse allows a parenthesized
    * single lambda parameter (01246/01273 use `(x) -> length(x)`);
    * Spark's grammar only parses `x ->` or `(x, y) ->`. */
  private def rewriteParenLambda(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.indices.exists(k => toks(k) == Punct("-") &&
        toks.lift(k + 1).contains(Punct(">")))) return toks
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(")) {
        val w = nextSig(toks, i + 1)
        val close = if (w < toks.length && toks(w).isInstanceOf[Word])
          nextSig(toks, w + 1) else -1
        if (close > 0 && close < toks.length && toks(close) == Punct(")")) {
          val dash = nextSig(toks, close + 1)
          if (dash + 1 < toks.length && toks(dash) == Punct("-") &&
              toks(dash + 1) == Punct(">"))
            return rewriteParenLambda(
              join(toks.take(i), Vector(toks(w), Ws(" "))) ++ toks.drop(close + 1))
        }
      }
      i += 1
    }
    toks
  }

  /** Infix `a MOD b` → `a % b` (the function form mod(a, b) is a Spark
    * builtin and passes through).
    */
  private def rewriteInfixMod(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map {
      case (Word(w), k) if w.equalsIgnoreCase("MOD") &&
          (toks.lift(prevSig(toks, k - 1)) match {
        case Some(Word(p)) => !Set("SELECT", "WHERE", "AND", "OR", "NOT",
          "WHEN", "THEN", "ELSE", "BY", "ON", "AS", "IN", "LIKE",
          "HAVING").contains(p.toUpperCase)
        case Some(_: Num) | Some(_: Str) => true
        case Some(Punct(")")) | Some(Punct("]")) => true
        case _ => false
      }) => Punct("%")
      case (t, _) => t
    }

  private val ternaryCondBoundary: Tok => Boolean = {
    case Punct("(") | Punct("[") | Punct(",") | Punct(";") | Punct("?") |
         Punct(":") => true
    case w: Word => Set("SELECT", "WHERE", "HAVING", "WHEN", "THEN", "ELSE",
      "FROM", "BY", "AS", "ON").contains(w.text.toUpperCase)
    case _ => false
  }

  /** C-style ternary `cond ? a : b` → `if(cond, a, b)` (reference
    * ParserTernaryOperatorExpression; lowest precedence bar AS/comma,
    * right-associative). `::` casts are never split. Each round
    * rewrites the first `?`; the branches it wraps hold the rest.
    */
  private def rewriteTernary(toks0: Vector[Tok]): Vector[Tok] = {
    def once(toks: Vector[Tok]): Option[Vector[Tok]] = {
      val q = toks.indexOf(Punct("?"))
      if (q < 0) return None
      def isColonAt(k: Int): Boolean = toks(k) == Punct(":") &&
        !(k + 1 < toks.length && toks(k + 1) == Punct(":")) &&
        !(k > 0 && toks(k - 1) == Punct(":"))
      val depth = depths(toks)
      val dq = depth(q)
      // condition: walk left to a boundary at the same depth; a lambda
      // arrow `x ->` bounds it too (the ternary is the lambda BODY,
      // `arrayMap(x -> c ? a : b, …)`)
      val condStart = (q - 1 to 0 by -1).find { s =>
        toks(s) match {
          case Punct("(") => depth(s) < dq
          case Punct(">") if depth(s) == dq && s > 0 && toks(s - 1) == Punct("-") => true
          case t => depth(s) == dq && ternaryCondBoundary(t)
        }
      }.fold(0)(_ + 1)
      // then-branch: to the matching ':' (skip nested ?:, :: casts)
      var pend = 0
      val colon = (q + 1 until toks.length).find { c =>
        depth(c) == dq && (toks(c) match {
          case Punct("?") => pend += 1; false
          case Punct(":") if isColonAt(c) => if (pend == 0) true else { pend -= 1; false }
          case _ => false
        })
      }.getOrElse(return None)
      // else-branch: to a boundary at the same depth
      val elseEnd = (colon + 1 until toks.length).find { e =>
        toks(e) match {
          case Punct(")") => depth(e) < dq
          case Punct(",") | Punct(";") => depth(e) == dq
          case w: Word => depth(e) == dq && Set("AS", "FROM", "WHERE",
            "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "SETTINGS",
            "THEN", "ELSE", "WHEN", "END", "FORMAT", "INTO")
            .contains(w.text.toUpperCase)
          case _ => false
        }
      }.getOrElse(toks.length)
      val cond = trimWs(toks.slice(condStart, q))
      val thenB = trimWs(toks.slice(q + 1, colon))
      val elseB = trimWs(toks.slice(colon + 1, elseEnd))
      // leading space: condStart can sit right after a keyword whose
      // trailing whitespace lives inside the cond slice (`SELECT
      // number % 2 ? …` would otherwise glue to `SELECTif`)
      if (cond.isEmpty || thenB.isEmpty || elseB.isEmpty) None
      else Some(toks.take(condStart) ++ tk" if($cond, $thenB, $elseB)" ++ toks.drop(elseEnd))
    }
    Iterator.iterate(Option(toks0))(_.flatMap(once))
      .take(31).takeWhile(_.isDefined).flatten.toSeq.last
  }

  /** `CAST(expr, 'Type')` → `CAST(expr AS <mapped>)`, the type string
    * mapped by [[transpileTypeString]]'s rewriter, whatever the first
    * argument; a `Decimal(p, s)` target lowers to `chDecimal(expr, p,
    * s)`, the truncating conversion the AS form gets from
    * rewriteCastDecimal. A cast inside the first argument is rewritten
    * with it, so one left-to-right pass does them all.
    */
  private def rewriteTwoArgCast(toks: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val p = nextSig(toks, i + 1)
      val close = if (isWordI(toks(i), "CAST") && p < toks.length && toks(p) == Punct("("))
        balancedClose(toks, p) else -1
      (if (close < 0) Nil else splitTop(toks.slice(p + 1, close))) match {
        case Seq(arg, second) if (sigToks(second) match {
            case Vector(Str(lit)) => lit.length >= 2
            case _ => false
          }) =>
          val lit = sigToks(second).head.text
          val a = rewriteTwoArgCast(trimWs(arg))
          val mapped = rewriteTypes(frag(lit.substring(1, lit.length - 1)))
          out ++= (sigToks(mapped) match {
            case Vector(Word(d), Punct("("), pp @ Num(ps), Punct(","), ss @ Num(sc), Punct(")"))
                if d.equalsIgnoreCase("DECIMAL") && ps.forall(_.isDigit) && sc.forall(_.isDigit) =>
              tk"chDecimal($a, $pp, $ss)"
            case _ => tk"CAST($a AS $mapped)"
          })
          i = close + 1
        case _ => out += toks(i); i += 1
      }
    }
    out.result()
  }

  /** ClickHouse `arrayJoin(expr)` used INSIDE a larger expression (or in
    * several select items at once) cannot map to Spark's Explode, which
    * must be a top-level generator. Hoist every statement-level call to
    * a LATERAL VIEW (one per distinct argument text, so repeated
    * arrayJoin(x) stays a single flattening like the reference's common
    * subexpression rule — ArrayJoinAction.cpp) and substitute the
    * exploded column. Applied inside every `( SELECT … )` subquery too
    * (innermost first): `(SELECT f(arrayJoin([…])) AS x)` needs its
    * LATERAL VIEW at the subquery level (reference arrayJoin expands
    * rows before the enclosing expression evaluates).
    */
  private def rewriteNestedArrayJoinDeep(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "arrayJoin"))) return toks
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(") && {
        val f = nextSig(toks, i + 1)
        f < toks.length && (isWordI(toks(f), "SELECT") ||
          isWordI(toks(f), "WITH"))
      }) {
        val j = balancedClose(toks, i)
        if (j >= 0) {
          val inner = toks.slice(i + 1, j)
          val rewritten = rewriteNestedArrayJoin(rewriteNestedArrayJoinDeep(inner))
          if (!sameText(rewritten, inner))
            return rewriteNestedArrayJoinDeep(toks.take(i + 1) ++ rewritten ++ toks.drop(j))
        }
      }
      i += 1
    }
    rewriteNestedArrayJoin(toks)
  }

  private def rewriteNestedArrayJoin(toks: Vector[Tok]): Vector[Tok] = {
    // whether a token sits inside a (SELECT …) group
    val parent = parents(toks)
    def isSub(open: Int) = {
      val first = nextSig(toks, open + 1)
      first < toks.length &&
        (isWordI(toks(first), "SELECT") || isWordI(toks(first), "WITH"))
    }
    def inSubquery(k: Int) =
      Iterator.iterate(parent(k))(parent(_)).takeWhile(_ >= 0).exists(isSub)
    // top-scope arrayJoin(...) calls: token range incl ')', argument
    case class Call(start: Int, end: Int, arg: Vector[Tok])
    val calls = ArrayBuffer[Call]()
    var i = 0
    while (i < toks.length) {
      val p = nextSig(toks, i + 1)
      if (isWordI(toks(i), "arrayJoin") && !inSubquery(i) &&
          p < toks.length && toks(p) == Punct("(")) {
        val close = balancedClose(toks, p)
        if (close > 0) {
          calls += Call(i, close, trimWs(toks.slice(p + 1, close)))
          i = close
        }
      }
      i += 1
    }
    if (calls.isEmpty) return toks
    // Leave a LONE top-level call to the plain explode mapping: a single
    // `SELECT arrayJoin(x) [AS a] FROM …` analyzes fine as a generator.
    // Hoist whenever any call is nested or there are several.
    val lone = calls.size == 1 && {
      val c = calls.head
      val before = prevSig(toks, c.start - 1)
      val afterIdx = nextSig(toks, c.end + 1)
      val beforeOk = before < 0 || isWordI(toks(before), "SELECT") ||
        isWordI(toks(before), "DISTINCT") || toks(before) == Punct(",")
      val afterOk = afterIdx >= toks.length || (toks(afterIdx) match {
        case Word(w) => Seq("AS", "FROM").exists(w.equalsIgnoreCase) ||
          arrayJoinBoundary(w.toUpperCase)
        case Punct(",") | Punct(";") => true
        case _ => false
      })
      beforeOk && afterOk
    }
    if (lone) return toks
    // one explode per distinct argument text
    val distinctArgs = calls.map(_.arg).distinctBy(render)
    val n = textLength(toks)
    val varOf = distinctArgs.zipWithIndex
      .map { case (a, k) => render(a) -> Word(s"__ajg${n}_$k") }.toMap
    // rebuild with calls replaced
    val out = Vector.newBuilder[Tok]
    var idx = 0
    for (c <- calls) {
      out ++= toks.slice(idx, c.start)
      out += varOf(render(c.arg))
      idx = c.end + 1
    }
    out ++= toks.drop(idx)
    val toks2 = out.result()
    val laterals = distinctArgs.zipWithIndex.flatMap { case (a, k) =>
      tk" LATERAL VIEW explode($a) ${Word(s"__ajgv${n}_$k")} AS ${varOf(render(a))}"
    }
    // place after the top-level FROM source (or synthesize one)
    val depthAt2 = depths(toks2)
    val fromIdx = toks2.indices.find(k => depthAt2(k) == 0 && isWordI(toks2(k), "FROM"))
    // a clause keyword right after AS is an ALIAS (`… AS rows`), not a
    // boundary — 01700's deltaSumState(arrayJoin(…)) AS rows
    def aliased(k: Int): Boolean =
      toks2.lift(prevSig(toks2, k - 1)).exists(isWordI(_, "AS"))
    def boundaryAfter(start: Int): Int =
      toks2.indices.drop(start).find { k =>
        depthAt2(k) == 0 && (toks2(k) match {
          case Word(w) => (orderBoundary(w.toUpperCase) ||
            w.equalsIgnoreCase("ORDER")) && !aliased(k)
          case Punct(";") => true
          case _ => false
        })
      }.getOrElse(toks2.length)
    val insertAt = fromIdx match {
      // end of the source clause: first depth-0 boundary after FROM
      case Some(f) => boundaryAfter(f + 1)
      case None =>
        // skip the leading SELECT itself — the synthesized FROM goes
        // after the select list (before WHERE/GROUP/ORDER/…)
        boundaryAfter(toks2.indexWhere(!_.isInstanceOf[Ws]) + 1)
    }
    val from = if (fromIdx.isEmpty) tk" FROM (SELECT 1 AS ${Word(s"__ajg_one$n")})" else Vector.empty
    toks2.take(insertAt) ++ from ++ laterals ++ Vector(Ws(" ")) ++ toks2.drop(insertAt)
  }

  /** `count()` → `count(*)`. */
  private def rewriteCountStar(toks: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val close = if (isWordI(toks(i), "count") && toks.lift(i + 1).contains(Punct("(")))
        nextSig(toks, i + 2) else -1
      if (close > 0 && toks.lift(close).contains(Punct(")"))) {
        out ++= tk"count(*)"; i = close + 1
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** MySQL-style `LIMIT offset, count` → `LIMIT count OFFSET offset`. */
  private def rewriteLimitOffset(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "LIMIT"))) return toks
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val a = nextSig(toks, i + 1)
      lazy val comma = nextSig(toks, a + 1)
      lazy val b = nextSig(toks, comma + 1)
      (toks(i), toks.lift(a), toks.lift(comma), toks.lift(b)) match {
        case (w: Word, Some(o @ Num(ot)), Some(Punct(",")), Some(n @ Num(nt)))
            if isWordI(w, "LIMIT") && ot.forall(_.isDigit) && nt.forall(_.isDigit) =>
          out ++= tk"LIMIT $n OFFSET $o"
          i = b + 1
        case _ => out += toks(i); i += 1
      }
    }
    out.result()
  }
  /** Decode a ClickHouse string literal's escapes (notably `\xHH`,
    * which Spark's lexer does not know) and re-encode as a
    * Spark-parseable literal. The decode follows the reference's
    * parseComplexEscapeSequence (src/IO/ReadHelpers.cpp): C escapes,
    * hex pairs, and backslash-anything-else = that char.
    */
  private def normalizeStringLiteral(lit: String): Vector[Tok] = {
    // an unclosed literal passes as written, for Spark to report
    if (!quoteClosed(lit)) return Vector(Str(lit))
    val body = lit.substring(1, lit.length - 1)
    val decoded = new StringBuilder
    var rawHighByte = false // a \xHH escape above 0x7F = raw byte, not a char
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) {
        val e = body.charAt(i + 1)
        e match {
          case 'x' | 'X' if i + 4 <= body.length &&
              body.substring(i + 2, i + 4).forall(ch => Character.digit(ch, 16) >= 0) =>
            val b = Integer.parseInt(body.substring(i + 2, i + 4), 16)
            if (b >= 0x80) rawHighByte = true
            decoded.append(b.toChar)
            i += 4
          case 'n' => decoded.append('\n'); i += 2
          case 't' => decoded.append('\t'); i += 2
          case 'r' => decoded.append('\r'); i += 2
          case '0' => decoded.append('\u0000'); i += 2
          case 'a' => decoded.append('\u0007'); i += 2
          case 'b' => decoded.append('\b'); i += 2
          case 'f' => decoded.append('\f'); i += 2
          case 'v' => decoded.append('\u000B'); i += 2
          case 'N' => i += 2 // \N inside a string parses as empty
          case other =>
            // the reference KEEPS the backslash for unrecognized escapes
            // ('100\%' stays 100\% for LIKE convenience) except quotes,
            // backquote, slash and '=' (ReadHelpers.cpp
            // parseComplexEscapeSequence)
            if (other != '\\' && other != '\'' && other != '"' &&
                other != '`' && other != '/' && other != '=')
              decoded.append('\\')
            decoded.append(other); i += 2
        }
      } else { decoded.append(c); i += 1 }
    }
    // A high \xHH escape is a RAW BYTE in the reference's byte-string
    // model — UTF-8 re-encoding would mangle it (C2AA for AA). Route
    // those literals through unhex: Cast(binary AS STRING) keeps the
    // exact bytes in Spark's UTF8String.
    if (rawHighByte) {
      val bytes = decoded.toString.flatMap { ch =>
        if (ch < 0x100) Seq(ch.toByte)
        else ch.toString.getBytes("UTF-8").toSeq
      }
      val hex = Str("'" + bytes.map(b => f"${b & 0xff}%02X").mkString + "'")
      return tk"CAST(unhex($hex) AS STRING)"
    }
    // Re-encode for Spark's lexer: backslash + quote escaped, control
    // chars as recognized escapes, everything else raw.
    val enc = decoded.toString.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04X"
      case c => c.toString
    }
    Vector(Str("'" + enc + "'"))
  }

  /** Map a bare CH type string (e.g. "Nullable(UInt8)") via the token
    * rewriter used for inline type syntax.
    */
  private[sql] def transpileTypeString(t: String): String = render(rewriteTypes(frag(t)))

  private def isWordI(t: Tok, s: String): Boolean = t match {
    case Word(w) => w.equalsIgnoreCase(s); case _ => false
  }

  private val orderBoundary = Set("LIMIT", "OFFSET", "SETTINGS", "UNION",
    "INTERSECT", "EXCEPT", "FORMAT", "INTO", "WITH", "FROM", "WHERE",
    "GROUP", "HAVING", "WINDOW", "ROWS", "RANGE", "GROUPS", "SELECT",
    "INTERPOLATE")

  /** ClickHouse sorts NULL (and NaN) as GREATEST by default — last on
    * ASC, first on DESC (reference docs/sort order, NULLS LAST
    * semantics); Spark's default is nulls-smallest. Append the explicit
    * NULLS direction to every ORDER BY key that does not already state
    * one, at every nesting depth (window OVER clauses included).
    */
  private def rewriteOrderNulls(toks: Vector[Tok]): Vector[Tok] = {
    lazy val depth = depths(toks)
    val inserts = ArrayBuffer[(Int, Vector[Tok])]() // insert BEFORE token idx
    for (i <- toks.indices) {
      val byIdx = nextSig(toks, i + 1)
      if (isWordI(toks(i), "ORDER") && byIdx < toks.length &&
          isWordI(toks(byIdx), "BY")) {
        val base = depth(byIdx)
        var j = nextSig(toks, byIdx + 1)
        var done = j >= toks.length
        while (!done) {
          var hasNulls = false
          var lastDesc = false
          var lastSigIdx = -1
          // the item ends at a comma at this depth; the clause at a
          // closing paren, a `;` or a clause keyword (a direction after
          // COLLATE 'x' still belongs to the item)
          val itemEnd = (j until toks.length).find { k =>
            val top = depth(k) == base
            toks(k) match {
              case Punct(")") if depth(k) < base => done = true; true
              case Punct(",") if top => true
              case Punct(";") if top => done = true; true
              case Word(w) if top && orderBoundary(w.toUpperCase) => done = true; true
              case Word(w) if top && w.equalsIgnoreCase("NULLS") =>
                hasNulls = true; lastSigIdx = k; false
              case Word(w) if top && (w.equalsIgnoreCase("DESC") ||
                  w.equalsIgnoreCase("DESCENDING")) =>
                lastDesc = true; lastSigIdx = k; false
              case Word(w) if top && (w.equalsIgnoreCase("ASC") ||
                  w.equalsIgnoreCase("ASCENDING")) =>
                lastDesc = false; lastSigIdx = k; false
              case _: Ws => false
              case _ => lastSigIdx = k; false
            }
          }.getOrElse { done = true; toks.length }
          if (lastSigIdx >= 0 && !hasNulls)
            inserts += ((lastSigIdx + 1,
              if (lastDesc) tk" NULLS FIRST" else tk" NULLS LAST"))
          if (!done) {
            j = nextSig(toks, itemEnd + 1) // past the comma
            if (j >= toks.length) done = true
          }
        }
      }
    }
    if (inserts.isEmpty) toks
    else {
      val byPos = inserts.groupBy(_._1)
      (0 to toks.length).foldLeft(Vector.empty[Tok]) { (out, idx) =>
        join(byPos.get(idx).fold(out)(_.foldLeft(out)(_ ++ _._2)), toks.lift(idx).toSeq)
      }
    }
  }

  /** ClickHouse resolves identifiers in WHERE/PREWHERE against the
    * SELECT list's aliases first (reference ActionsVisitor scope map:
    * `SELECT f(x) AS a … WHERE a > 0` filters on f(x), and the alias
    * SHADOWS a real column of the same name). Spark's WHERE only sees
    * input columns — substitute the alias expression, scoped per SELECT
    * block at its own paren depth. */
  private def rewriteWhereAliases(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.exists(isWordI(_, "AS"))) return toks
    val depth = depths(toks)
    val clauseEnd = Set("GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
      "SETTINGS", "FORMAT", "WINDOW", "INTERSECT", "EXCEPT")
    val replacements = scala.collection.mutable.Map[Int, Vector[Tok]]()
    for (s <- toks.indices if isWordI(toks(s), "SELECT")) {
      val dS = depth(s)
      var k = s + 1
      var fromIdx = -1
      var whereStart = -1
      var whereEnd = -1
      var stop = false
      while (k < toks.length && !stop) {
        if (depth(k) < dS) {
          if (whereStart >= 0 && whereEnd < 0) whereEnd = k
          stop = true
        } else if (depth(k) == dS) {
          toks(k) match {
            case Word(w) if w.equalsIgnoreCase("FROM") && fromIdx < 0 =>
              fromIdx = k
            case Word(w) if (w.equalsIgnoreCase("WHERE") ||
                w.equalsIgnoreCase("PREWHERE")) && fromIdx >= 0 &&
                whereStart < 0 =>
              whereStart = k + 1
            case Word(w) if whereStart >= 0 &&
                clauseEnd.contains(w.toUpperCase) =>
              whereEnd = k; stop = true
            case Word(w) if w.equalsIgnoreCase("SELECT") && k > s =>
              // a same-depth later SELECT = another UNION branch
              if (whereStart >= 0 && whereEnd < 0) whereEnd = k
              stop = true
            case Punct(";") =>
              if (whereStart >= 0 && whereEnd < 0) whereEnd = k
              stop = true
            case _ => ()
          }
        }
        k += 1
      }
      if (whereStart >= 0 && whereEnd < 0) whereEnd = k
      if (fromIdx > s) {
        // select-list aliases at this SELECT's own depth:
        // name -> (expr, expr start token, AS token)
        val aliases = scala.collection.mutable.Map[String, (Vector[Tok], Int, Int)]()
        for (a <- s + 1 until fromIdx if isWordI(toks(a), "AS") && depth(a) == dS) {
          toks.lift(nextSig(toks, a + 1)) match {
            case Some(Word(name)) =>
              // the item starts after the last comma / DISTINCT / SELECT
              // at this depth
              val st = (a - 1 until s by -1).find(b => depth(b) == dS && (toks(b) match {
                case Punct(",") => true
                case Word(w) => w.equalsIgnoreCase("DISTINCT") || w.equalsIgnoreCase("SELECT")
                case _ => false
              })).fold(s + 1)(_ + 1)
              val expr = trimWs(toks.slice(st, a))
              if (expr.nonEmpty && !render(expr).equalsIgnoreCase(name) &&
                  name.forall(c => c.isLetterOrDigit || c == '_') &&
                  !aliases.contains(name))
                aliases(name) = (expr, st, a)
            case _ => ()
          }
        }
        if (aliases.nonEmpty) {
          // alias-in-alias references resolve with a seen-set: inside
          // its own expansion a name refers to the SOURCE column
          // (`CAST(x AS BIGINT) AS x` must not recurse)
          def resolve(t: Vector[Tok], seen: Set[String]): Vector[Tok] = t.flatMap {
            case Word(w) if aliases.contains(w) && !seen.contains(w) =>
              Punct("(") +: resolve(aliases(w)._1, seen + w) :+ Punct(")")
            case tok => Vector(tok)
          }
          // substitute in the WHERE range, and FORWARD references in
          // the select list itself (`SELECT a = b, x AS a, y AS b` —
          // Spark's lateral column alias only resolves backward)
          def substRange(from: Int, until: Int, fwdOnly: Boolean): Unit =
            for (w <- from until until) toks(w) match {
              case Word(x) if aliases.contains(x) &&
                  !replacements.contains(w) &&
                  // inside x's own definition the name is the source
                  // column, never the alias
                  !(w >= aliases(x)._2 && w <= aliases(x)._3) &&
                  (!fwdOnly || aliases(x)._3 > w) =>
                val pv = toks.lift(prevSig(toks, w - 1))
                val nx = toks.lift(nextSig(toks, w + 1))
                val qualified = pv.contains(Punct(".")) ||
                  nx.contains(Punct("."))
                val isCall = nx.contains(Punct("("))
                val isDef = pv.exists(isWordI(_, "AS"))
                if (!qualified && !isCall && !isDef)
                  replacements(w) = Punct("(") +: resolve(aliases(x)._1, Set(x)) :+ Punct(")")
              case _ => ()
            }
          if (whereStart >= 0) substRange(whereStart, whereEnd, fwdOnly = false)
          substRange(s + 1, fromIdx, fwdOnly = true)
        }
      }
    }
    if (replacements.isEmpty) toks
    else toks.indices.flatMap(k => replacements.getOrElse(k, Vector(toks(k)))).toVector
  }

  /** ClickHouse lets `expr AS name` appear ANYWHERE inside an
    * expression, defining an alias usable elsewhere in the statement
    * (reference ParserAlias / ActionsVisitor scope map). Spark only
    * accepts AS at select-list top level, so: strip each inline alias
    * (one nested in parens that are not a subquery and not a CAST) and
    * substitute its expression for later bare references.
    */
  private def rewriteInlineAliases(toks: Vector[Tok]): Vector[Tok] = {
    val parent = parents(toks)
    lazy val depth = depths(toks)
    // expression parens (eligible): not a subquery and not a CAST
    def eligible(k: Int): Boolean = {
      val prev = prevSig(toks, k - 1)
      val first = nextSig(toks, k + 1)
      !(prev >= 0 && isWordI(toks(prev), "CAST")) &&
        !(first < toks.length &&
          (isWordI(toks(first), "SELECT") || isWordI(toks(first), "WITH")))
    }
    // inline aliases: Word(AS) whose enclosing paren is eligible
    case class Inline(name: String, asIdx: Int, nameIdx: Int, exprStart: Int)
    val found = toks.indices.flatMap { k =>
      if (isWordI(toks(k), "AS") && parent(k) >= 0 && eligible(parent(k))) {
        val nIdx = nextSig(toks, k + 1)
        toks.lift(nIdx) match {
          case Some(Word(name)) =>
            // expr = tokens since the last same-depth comma (or the paren
            // open) up to the AS
            val start = (k - 1 until parent(k) by -1)
              .find(s => depth(s) == depth(k) && toks(s) == Punct(","))
              .fold(parent(k) + 1)(_ + 1)
            if (trimWs(toks.slice(start, k)).nonEmpty &&
                name.forall(c => c.isLetterOrDigit || c == '_'))
              Some(Inline(name, k, nIdx, start))
            else None
          case _ => None
        }
      } else None
    }
    if (found.isEmpty) return toks
    // drop the whitespace run BEFORE the AS too — `g('x' AS a)` strips
    // to `g('x')`, not `g('x' )`
    val dropIdx = found.flatMap { f =>
      var s = f.asIdx - 1
      while (s > 0 && toks(s).isInstanceOf[Ws]) s -= 1
      (s + 1) to f.nameIdx
    }.toSet
    // an alias expr may CONTAIN other inline aliases (00396:
    // `toFixedString(unhex('…' AS hex) AS bytes, 16)`): substitute the
    // STRIPPED expression, not the raw span — the nested `AS name` would
    // be invalid Spark in expression position
    val defs = found.map(f => f.name ->
      trimWs((f.exprStart until f.asIdx).filterNot(dropIdx).map(toks))).toMap
    // resolve alias-in-alias references (bounded)
    def resolve(t: Vector[Tok], d: Int): Vector[Tok] =
      if (d > 4) t
      else t.flatMap {
        case Word(w) if defs.contains(w) => Punct("(") +: resolve(defs(w), d + 1) :+ Punct(")")
        case tok => Vector(tok)
      }
    val defSites = found.flatMap(f => f.exprStart until f.asIdx).toSet
    toks.indices.flatMap { k =>
      if (dropIdx(k)) Vector.empty
      else toks(k) match {
        case Word(w) if defs.contains(w) && !defSites(k) && {
            val nxt = nextSig(toks, k + 1)
            val nextIsParenOrDot = nxt < toks.length &&
              (toks(nxt) == Punct("(") || toks(nxt) == Punct("."))
            val prv = prevSig(toks, k - 1)
            val prevIsDot = prv >= 0 && toks(prv) == Punct(".")
            val prevIsAs = prv >= 0 && isWordI(toks(prv), "AS")
            !nextIsParenOrDot && !prevIsDot && !prevIsAs } =>
          Punct("(") +: resolve(defs(w), 0) :+ Punct(")")
        case t => Vector(t)
      }
    }.toVector
  }

  /** ClickHouse tuple literals `(a, b)` → Spark `struct(a, b)` (struct
    * fields come out as col1/col2…, matching the `.N` access rewrite).
    * A paren group is a tuple when it holds a top-level comma and is
    * neither a call-argument list nor a subquery nor an IN list.
    */
  private def rewriteTupleLiterals(toks: Vector[Tok]): Vector[Tok] = {
    var stack = List[(Int, Boolean)]() // (openIdx, sawTopComma)
    val tupleAt = scala.collection.mutable.Set[Int]()
    // paren depths currently inside a VALUES row sequence: every
    // `(…), (…), …` row at that depth is a ROW, not a tuple literal
    val valuesDepth = scala.collection.mutable.Set[Int]()
    // parens directly inside GROUPING SETS (…) are SET LISTS, not
    // tuples (01883: `GROUPING SETS (('c'), (a, b))` must keep (a, b)
    // as a grouping list — struct() would group by one column)
    val setsOpens = scala.collection.mutable.Set[Int]()
    val setsDepth = scala.collection.mutable.Set[Int]()
    for (k <- toks.indices) {
      toks(k) match {
        case _: Ws => ()
        case t if !(t == Punct("(") || t == Punct(")") || t == Punct(",")) =>
          // any other token at a VALUES-sequence depth ends the rows
          // (e.g. the `AS alias(cols)` tail)
          valuesDepth -= stack.length
        case _ => ()
      }
      toks(k) match {
        case Punct("(") =>
          val prevTok = toks.lift(prevSig(toks, k - 1))
          val callLike = prevTok.exists {
            case Word(w) => !Set("SELECT", "WHERE", "AND", "OR", "NOT", "IN",
              "BY", "ON", "WHEN", "THEN", "ELSE", "HAVING", "FROM", "AS",
              "ALL", "DISTINCT", "UNION", "JOIN", "USING", "BETWEEN",
              "LIKE", "RLIKE", "ILIKE", "IS", "CASE", "END", "INTERVAL",
              "LIMIT", "OFFSET", "SETTINGS", "VALUES").contains(w.toUpperCase)
            case Punct(")") | Punct("]") => true
            case _ => false
          }
          val afterIn = prevTok.exists(isWordI(_, "IN"))
          // USING (a, b) is a column list, VALUES (…) a row — never
          // tuples; subsequent `, (…)` rows at the same depth too
          val afterListKw = prevTok.exists(t =>
            isWordI(t, "USING") || isWordI(t, "VALUES"))
          val valuesRow = valuesDepth.contains(stack.length) &&
            prevTok.contains(Punct(","))
          if (prevTok.exists(isWordI(_, "VALUES")))
            valuesDepth += stack.length
          if (prevTok.exists(isWordI(_, "SETS"))) {
            setsOpens += k
            setsDepth += stack.length + 1
          }
          val inSetsList = setsDepth.contains(stack.length)
          val first = nextSig(toks, k + 1)
          val isSubquery = first < toks.length &&
            (isWordI(toks(first), "SELECT") || isWordI(toks(first), "WITH"))
          stack = (k, false) :: stack
          if (callLike || afterIn || afterListKw || isSubquery || valuesRow ||
              inSetsList)
            () // never a tuple
          else tupleAt += k
        case Punct(")") =>
          stack.headOption.foreach { case (openIdx, sawComma) =>
            if (setsOpens.contains(openIdx)) setsDepth -= stack.length
            if (!sawComma) tupleAt -= openIdx // plain grouping parens
            else {
              // `(x, y) -> …` is a lambda PARAMETER LIST (arrayMap,
              // arraySplit, …), not a tuple literal; "->" tokenizes as
              // two adjacent single-char puncts
              val nxt = nextSig(toks, k + 1)
              if (nxt + 1 < toks.length && toks(nxt).text == "-" &&
                  toks(nxt + 1).text == ">")
                tupleAt -= openIdx
            }
          }
          stack = stack.drop(1)
        case Punct(",") =>
          stack match {
            case (openIdx, false) :: rest => stack = (openIdx, true) :: rest
            case _ => ()
          }
        case _ => ()
      }
    }
    if (tupleAt.isEmpty) toks
    else toks.indices.foldLeft(Vector.empty[Tok])((out, k) =>
      if (tupleAt(k)) join(out, tk"struct(") else out :+ toks(k))
  }

  /** CH `x IN [a, b]` (array literal list) and `x IN tuple(…)` →
    * standard paren lists. Runs after the array-literal pass, so the
    * forms here are `IN array(…)` / `IN tuple(…)`.
    */
  private def rewriteInClauses(toks: Vector[Tok]): Vector[Tok] = {
    val dropWord = scala.collection.mutable.Set[Int]()
    // `x IN <literal>` (scalar right side = equality in CH,
    // FunctionsComparison in-with-scalar) needs Spark's parens
    val parenAt = scala.collection.mutable.Set[Int]()
    // CH ignores NULL items in an IN list — they can never match
    // (reference Set build skips nulls; 01629's `NOT IN ('…', NULL)` is
    // 1, not SQL's three-valued NULL). Drop bare NULL items from
    // literal IN lists (subqueries untouched); a list of ONLY nulls
    // becomes an empty subquery, which never matches (01457's
    // `IN (NULL)` is 0).
    val dropRange = scala.collection.mutable.Set[Int]()
    val emptyList = scala.collection.mutable.Set[Int]()
    for (k <- toks.indices if isWordI(toks(k), "IN")) {
      val f = nextSig(toks, k + 1)
      if (f < toks.length) toks(f) match {
        case Word(w) if (w == "array" || w == "tuple") &&
            toks.lift(nextSig(toks, f + 1)).contains(Punct("(")) => dropWord += f
        case _: Str | _: Num => parenAt += f
        case Punct("(") if {
            val h = nextSig(toks, f + 1)
            h < toks.length && !isWordI(toks(h), "SELECT") && !isWordI(toks(h), "WITH")
          } =>
          // the items: [start, end) between the commas directly inside
          val close = balancedClose(toks, f)
          val end = if (close < 0) toks.length else close
          val commas = inside(toks, f, end).filter(toks(_) == Punct(","))
          val items = (f +: commas).zip(commas ++ (if (close < 0) Nil else Seq(close)))
          val isNull = items.map { case (a, b) =>
            (toks.slice(a + 1, b).filter(t => !t.isInstanceOf[Ws] && t != Punct(")")) match {
              case Vector(n) => isWordI(n, "NULL")
              case _ => false
            })
          }
          if (close > 0 && isNull.nonEmpty && isNull.forall(identity)) {
            emptyList += f
            dropRange ++= (f + 1 until close)
          } else items.zip(isNull).foreach { case ((a, b), nul) =>
            // a NULL item goes with the comma after it, the last one
            // with the comma before it
            if (nul) dropRange ++= (a + 1 until b) ++
              (if (b < end) Seq(b) else if (a > f) Seq(a) else Nil)
          }
        case _ => ()
      }
    }
    if (dropWord.isEmpty && parenAt.isEmpty && dropRange.isEmpty &&
        emptyList.isEmpty) return toks
    toks.indices.flatMap { k =>
      if (emptyList(k)) tk"(SELECT NULL WHERE FALSE"
      else if (dropWord(k) || dropRange(k)) Vector.empty
      else if (parenAt(k)) Vector(Punct("("), toks(k), Punct(")"))
      else Vector(toks(k))
    }.toVector
  }

  private val arrayJoinBoundary = Set("WHERE", "GROUP", "HAVING", "ORDER",
    "LIMIT", "OFFSET", "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "FORMAT",
    "INTO", "PREWHERE", "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "JOIN",
    "ASOF", "ANY", "GLOBAL", "SEMI", "ANTI", "WINDOW")

  /** The items of the ARRAY JOIN clause whose JOIN is at `jIdx`: the
    * comma-separated token runs after it, up to a closing paren, a `;`
    * or a clause keyword at its depth, and the index where it ends.
    */
  private def arrayJoinItems(toks: Vector[Tok], depth: Array[Int], jIdx: Int)
      : (Seq[Vector[Tok]], Int) = {
    val base = depth(jIdx)
    val end = (jIdx + 1 until toks.length).find { j =>
      toks(j) match {
        case Punct(")") => depth(j) < base
        case Punct(";") => depth(j) == base
        case Word(w) => depth(j) == base && arrayJoinBoundary(w.toUpperCase)
        case _ => false
      }
    }.getOrElse(toks.length)
    val commas = (jIdx + 1 until end).filter(j => depth(j) == base && toks(j) == Punct(","))
    ((jIdx +: commas).zip(commas :+ end).map { case (a, b) => toks.slice(a + 1, b) }, end)
  }

  /** One parsed `ARRAY JOIN` item: expression plus optional alias. */
  private case class AjItem(expr: Vector[Tok], alias: Option[Tok])

  /** Flattened-Nested column support (reference NestedUtils.cpp): a
    * `CREATE TABLE … (nest Nested(x T, y U))` stores parallel arrays
    * named `nest.x`/`nest.y` (ChSession.expandColDef registers the group
    * here). This pass (a) expands a bare group in ARRAY JOIN —
    * `ARRAY JOIN nest [AS n]` → the zipped subcolumn list with `n.x`
    * aliases — and (b) backticks dotted references (`nest.x` → `` `nest.x` ``)
    * so they resolve as the single flattened column instead of a
    * struct-field access (00014, 00138 family).
    */
  private val nestedGroups =
    scala.collection.concurrent.TrieMap[String, Seq[String]]()

  private[graft] def registerNestedGroup(outer: String, subs: Seq[String]): Unit =
    nestedGroups(outer) = subs

  private def rewriteNestedCols(toks0: Vector[Tok]): Vector[Tok] = {
    if (nestedGroups.isEmpty ||
        !toks0.exists(t => nestedGroups.keys.exists(g => t.text.contains(g)))) return toks0
    // ---- (a) ARRAY JOIN bare-group expansion -------------------------
    val aliasMap = scala.collection.mutable.Map[String, String]()
    lazy val depth = depths(toks0)
    val a = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks0.length) {
      val jIdx = nextSig(toks0, i + 1)
      if (isWordI(toks0(i), "ARRAY") && jIdx < toks0.length &&
          isWordI(toks0(jIdx), "JOIN")) {
        a ++= toks0.slice(i, jIdx + 1)
        val (items, end) = arrayJoinItems(toks0, depth, jIdx)
        val expanded = items.map { ts =>
          sigToks(ts) match {
            case Vector(Word(g)) if nestedGroups.contains(g) =>
              Ws(" ") +: commaList(nestedGroups(g).map(s => Vector(Word(s"`$g.$s`"))))
            case Vector(Word(g), as, al @ Word(n))
                if isWordI(as, "AS") && nestedGroups.contains(g) =>
              aliasMap(n) = g
              Ws(" ") +: commaList(nestedGroups(g).map(s =>
                tk"${Word(s"`$g.$s`")} AS ${Word(s"`$n.$s`")}"))
            case _ => ts
          }
        }
        a ++= expanded.reduce((l, r) => (l :+ Punct(",")) ++ r)
        i = end
      } else {
        a += toks0(i)
        i += 1
      }
    }
    // ---- (b) dotted-reference backticking ----------------------------
    val toks = a.result()
    def subsOf(p: String): Option[Seq[String]] =
      nestedGroups.get(p).orElse(aliasMap.get(p).flatMap(nestedGroups.get))
    val out = Vector.newBuilder[Tok]
    i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(p) if subsOf(p).isDefined && {
          // not itself qualified (db.nest.x) and followed by `.sub`
          val prev = toks.lift(prevSig(toks, i - 1))
          !prev.contains(Punct(".")) && i + 2 < toks.length &&
            toks(i + 1) == Punct(".") && (toks(i + 2) match {
              case Word(s) => subsOf(p).get.contains(s)
              case _ => false
            })
        } =>
          out += Word(s"`$p.${toks(i + 2).text}`")
          i += 3
        case t => out += t; i += 1
      }
    }
    out.result()
  }

  /** Rewrite ClickHouse `[LEFT] ARRAY JOIN expr [AS alias], …`
    * (reference src/Interpreters/ArrayJoinAction.cpp semantics) onto
    * Spark `LATERAL VIEW explode[_outer]`:
    *  - `expr AS a`            → LATERAL VIEW explode(expr) v AS a
    *  - bare column `arr`      → the element REPLACES the array column
    *    (CH semantics), so the source is wrapped to rename the array
    *    away and the lateral column takes its name;
    *  - multiple items zip positionally (NOT a cross product) → one
    *    explode over an index sequence with per-item element_at, alias
    *    references rewritten to struct fields.
    * Statements with shapes outside these (Nested `n.x` columns without
    * aliases, unaligned arrays) pass through untouched and fail loudly.
    * Each round rewrites the first clause.
    */
  private def rewriteArrayJoin(toks: Vector[Tok]): Vector[Tok] =
    Iterator.iterate(Option(toks))(_.flatMap(rewriteOneArrayJoin))
      .take(9).takeWhile(_.isDefined).flatten.toSeq.last

  private def rewriteOneArrayJoin(toks: Vector[Tok]): Option[Vector[Tok]] = {
    // depth of every token, for locating the owning FROM
    val depthAt = depths(toks)
    var i = 0
    while (i < toks.length) {
      val jIdx = nextSig(toks, i + 1)
      if (isWordI(toks(i), "ARRAY") && jIdx < toks.length &&
          isWordI(toks(jIdx), "JOIN")) {
        val pIdx = prevSig(toks, i - 1)
        val leftOuter = pIdx >= 0 && isWordI(toks(pIdx), "LEFT")
        val startIdx = if (leftOuter) pIdx else i
        val myDepth = depthAt(i)
        // ---- parse items ----
        val (itemToks, endIdx) = arrayJoinItems(toks, depthAt, jIdx)
        val items = itemToks.map(t => parseAjItem(t).getOrElse(return None))
        val fn = Word(if (leftOuter) "explode_outer" else "explode")
        // CH LEFT ARRAY JOIN pads an EMPTY array with one element of
        // the array's element-type DEFAULT (ArrayJoinAction.cpp with
        // array_join_is_left — 0/''/NULL-for-Nullable), not SQL NULL:
        // pad first, then plain explode (single-item forms only; the
        // positional-zip form pads per element via try_element_at)
        def fnOf(arg: Seq[Tok]): Vector[Tok] =
          if (leftOuter) tk"explode(chLeftArrayPad($arg))" else tk"explode($arg)"
        val n = textLength(toks) // cheap unique suffix within the statement
        def id(prefix: String) = Word(s"$prefix$n")
        // locate this level's FROM (last FROM token before ARRAY at myDepth)
        val fromIdx = (0 until startIdx).reverse
          .find(k => depthAt(k) == myDepth && isWordI(toks(k), "FROM"))
          .getOrElse(-1)
        // LATERAL VIEW appends its generated columns to `SELECT *`,
        // but CH's `*` never includes ARRAY JOIN aliases (nor our
        // internal columns) — rewrite this level's `SELECT *` to
        // `* EXCEPT (…)` when the clause generates hidden names.
        var overrides = Map[Int, Vector[Tok]]()
        def hideFromStar(hidden: Tok): Unit =
          (0 until (if (fromIdx < 0) startIdx else fromIdx)).reverse
            .find(k => depthAt(k) == myDepth && isWordI(toks(k), "SELECT"))
            .foreach { si =>
              var j = nextSig(toks, si + 1)
              if (j < toks.length && isWordI(toks(j), "DISTINCT"))
                j = nextSig(toks, j + 1)
              if (j < toks.length && toks(j) == Punct("*"))
                overrides += j -> tk"* EXCEPT ($hidden)"
            }
        def slice(a: Int, b: Int): Vector[Tok] =
          (a until b).flatMap(k => overrides.getOrElse(k, Vector(toks(k)))).toVector
        def isBareIdent(e: Vector[Tok]): Boolean = e match {
          case Vector(t) => val id = t.text
            id.forall(c => c.isLetterOrDigit || c == '_') ||
              (id.length > 2 && id.head == '`' && id.last == '`' &&
                !id.drop(1).dropRight(1).contains('`'))
          case _ => false
        }
        val (replacement, replaceFrom) = items match {
          case Seq(AjItem(expr, aliasOpt))
              if aliasOpt.forall(al => sameText(Seq(al), expr)) =>
            // bare column (or self-aliased): element replaces the array
            if (!isBareIdent(expr) || fromIdx < 0)
              return None
            val arr = expr.head
            val (in, v) = (id("__aj_in"), id("__aj_v"))
            hideFromStar(in)
            val src = slice(nextSig(toks, fromIdx + 1), startIdx)
            if (arr.text.head == '`') {
              // LATERAL VIEW column aliases keep backticks literally —
              // alias clean and rewrite the references instead
              // (flattened-Nested `nest.x` columns)
              val clean = id("__aj_c")
              val repl = tk" FROM (SELECT * EXCEPT ($arr), $arr AS $in " ++
                tk"FROM $src) LATERAL VIEW ${fnOf(Seq(in))} $v AS $clean "
              val mapped = Map(arr.text -> Vector(clean))
              return Some(substIdents(slice(0, fromIdx), mapped) ++ repl ++
                substIdents(slice(endIdx, toks.length), mapped))
            }
            (tk" FROM (SELECT * EXCEPT ($arr), $arr AS $in FROM $src) " ++
              tk"LATERAL VIEW ${fnOf(Seq(in))} $v AS $arr ", fromIdx)
          case Seq(AjItem(expr, Some(alias))) =>
            hideFromStar(alias)
            val v = id("__aj_v")
            if (fromIdx < 0)
              (tk" FROM (SELECT 1 AS ${id("__aj_one")}) " ++
                tk"LATERAL VIEW ${fnOf(expr)} $v AS $alias ", startIdx)
            else
              (tk" LATERAL VIEW ${fnOf(expr)} $v AS $alias ", startIdx)
          case multi0 if multi0.forall(_.alias.isDefined) ||
              multi0.forall(it => it.alias.isEmpty && isBareIdent(it.expr)) =>
            // all-aliased, or all-bare (flattened Nested subcolumns —
            // each element replaces its own array column, so the bare
            // name doubles as the alias for downstream references)
            val multi = multi0.map(it =>
              if (it.alias.isDefined) it else it.copy(alias = Some(it.expr.head)))
            // positional zip: explode an index range, pull each element.
            // LEFT keeps the all-empty row and pads each slot with the
            // ELEMENT-TYPE default, not NULL (ArrayJoinAction.cpp
            // insertDefault — same contract as the single-item form's
            // chLeftArrayPad).
            def src(e: Vector[Tok]): Vector[Tok] =
              if (leftOuter) tk"chLeftArrayPad($e)" else e
            val (ai, s) = (id("__aj_i"), id("__aj_s"))
            val fields = commaList(multi.zipWithIndex.map { case (it, k) =>
              tk"${Str(s"'c$k'")}, try_element_at(${src(it.expr)}, CAST($ai AS INT))"
            })
            // Guard the empty-array case: Spark's sequence(1, 0) DESCENDS
            // to [1,0] (it never yields an empty range), so build one
            // padded element and slice it away; try_element_at keeps the
            // padding row null-safe under ANSI.
            val sz = tk"size(${src(multi.head.expr)})"
            val keepMin = Num(if (leftOuter) "1" else "0")
            val zip = tk"slice(transform(sequence(1, greatest($sz, 1)), " ++
              tk"$ai -> named_struct($fields)), 1, greatest($sz, $keepMin))"
            val lateral = tk" LATERAL VIEW $fn($zip) ${id("__aj_v")} AS $s "
            val base =
              if (fromIdx < 0) tk" FROM (SELECT 1 AS ${id("__aj_one")})" ++ lateral
              else lateral
            // rewrite alias references outside the clause to struct fields
            val aliasMap = multi.zipWithIndex.map { case (it, k) =>
              it.alias.get.text -> tk"$s.${Word(s"c$k")}"
            }.toMap
            hideFromStar(s)
            val pre = substIdents(slice(0, startIdx), aliasMap)
            val post = substIdents(slice(endIdx, toks.length), aliasMap)
            return Some(pre ++ base ++ post)
          case _ => return None
        }
        return Some(slice(0, replaceFrom) ++ replacement ++ slice(endIdx, toks.length))
      }
      i += 1
    }
    None
  }

  /** Parse `expr [AS alias]` from an item's token run. */
  private def parseAjItem(ts: Vector[Tok]): Option[AjItem] = {
    val sig = ts.zipWithIndex.filterNot(_._1.isInstanceOf[Ws])
    if (sig.isEmpty) return None
    val asPos = sig.dropRight(1).lastIndexWhere(p => isWordI(p._1, "AS"))
    if (asPos >= 0 && asPos == sig.length - 2) {
      sig.last._1 match {
        case a: Word =>
          val expr = trimWs(ts.take(sig(asPos)._2))
          if (expr.isEmpty) None else Some(AjItem(expr, Some(a)))
        case _ => None
      }
    } else Some(AjItem(trimWs(ts), None))
  }

  /** Replace bare identifier tokens per `map` (skipping qualified refs
    * `x.y` on either side of the dot and string literals).
    */
  private def substIdents(toks: Vector[Tok], map: Map[String, Vector[Tok]]): Vector[Tok] =
    toks.indices.flatMap { idx =>
      toks(idx) match {
        case Word(w) if map.contains(w) &&
            !toks.lift(prevSig(toks, idx - 1)).contains(Punct(".")) &&
            !toks.lift(nextSig(toks, idx + 1)).contains(Punct(".")) => map(w)
        case t => Vector(t)
      }
    }.toVector

  /** Index in `ts` where the trailing primary expression starts: an
    * identifier, a string/number literal, or a balanced (...) / array(...)
    * call chain (a matched paren group plus the dotted name before it).
    */
  private def primaryStart(ts: collection.Seq[Tok]): Int = {
    def dotted(t: Tok) = t match {
      case Word(w) => !w.startsWith("`") && !w.startsWith("\"")
      case Num(_) | Punct(".") => true
      case _ => false
    }
    def nameStart(end: Int) = {
      var k = end
      while (k >= 0 && dotted(ts(k))) k -= 1
      k + 1
    }
    val last = prevSig(ts, ts.length - 1)
    if (last < 0) return 0
    ts(last) match {
      case Punct(")") =>
        val open = balancedOpen(ts, last)
        if (open < 0) 0 else nameStart(open - 1)
      case Str(_) | Word(_) if !dotted(ts(last)) => last
      case t if dotted(t) && t != Punct(".") => nameStart(last)
      case _ => last + 1
    }
  }
}
