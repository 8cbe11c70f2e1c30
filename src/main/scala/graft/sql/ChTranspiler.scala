package graft.sql

import scala.collection.mutable.ArrayBuffer

/** Text-level transpiler for the ClickHouse-specific SYNTAX (not
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
        // walk to the matching close, remembering the depth-1 AS
        var d = 0; var j = open; var asIdx = -1; var close = -1
        while (j < toks.length && close < 0) {
          toks(j) match {
            case Punct("(") => d += 1
            case Punct(")") => d -= 1; if (d == 0) close = j
            case Word(w) if d == 1 && w.equalsIgnoreCase("AS") => asIdx = j
            case _ => ()
          }
          j += 1
        }
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
    var depth = 0
    var closeAs = Map[Int, String]() // depth → replacement text for its ")"
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if (w == "Nullable" || w == "LowCardinality") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          depth += 1; closeAs += depth -> ""
          i = nextSig(toks, i + 1) + 1
        case Word("Array") if {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          out += Word("ARRAY"); out += Punct("<")
          depth += 1; closeAs += depth -> ">"
          i = nextSig(toks, i + 1) + 1
        case Word(w) if (w == "Decimal32" || w == "Decimal64" || w == "Decimal128") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          val p = w match {
            case "Decimal32" => "9"; case "Decimal64" => "18"; case _ => "38"
          }
          out += Word("DECIMAL"); out += Punct("("); out += Num(p); out += Punct(",")
          depth += 1 // its ")" closes normally
          i = nextSig(toks, i + 1) + 1
        case Word(w) if (w == "Enum8" || w == "Enum16" || w == "Enum" ||
            w == "FixedString") && {
            val k = nextSig(toks, i + 1)
            k < toks.length && toks(k) == Punct("(") } =>
          // Enum values surface as their names; FixedString as String
          // (no \0 padding — the tests that observe padding are skipped)
          out += Word("STRING")
          var k = nextSig(toks, i + 1) + 1
          var d = 1
          while (k < toks.length && d > 0) {
            toks(k) match {
              case Punct("(") => d += 1
              case Punct(")") => d -= 1
              case _ => ()
            }
            k += 1
          }
          i = k
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
        case p @ Punct("(") => depth += 1; out += p; i += 1
        case p @ Punct(")") =>
          closeAs.get(depth) match {
            case Some("") => ()
            case Some(s) => out += Punct(s)
            case None => out += p
          }
          closeAs -= depth; depth -= 1; i += 1
        case t => out += t; i += 1
      }
    }
    out.result()
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
      val rewritten: Option[Int] = toks0(i) match {
        case Word(w) if w.equalsIgnoreCase("CAST") =>
          val open = nextSig(toks0, i + 1)
          if (open < toks0.length && toks0(open) == Punct("(")) {
            var k = open + 1
            var depth = 1
            var asPos = -1
            while (k < toks0.length && depth > 0 && asPos < 0) {
              toks0(k) match {
                case Punct("(") => depth += 1
                case Punct(")") => depth -= 1
                case Word(a) if depth == 1 && a.equalsIgnoreCase("AS") =>
                  asPos = k
                case _ => ()
              }
              k += 1
            }
            val ew = if (asPos < 0) -1 else nextSig(toks0, asPos + 1)
            if (ew >= 0 && ew < toks0.length && isEnumWord(toks0(ew)) && {
                val p = nextSig(toks0, ew + 1)
                p < toks0.length && toks0(p) == Punct("(") }) {
              val mOpen = nextSig(toks0, ew + 1)
              var m = mOpen + 1
              var d = 1
              val members = Vector.newBuilder[Tok]
              while (m < toks0.length && d > 0) {
                toks0(m) match {
                  case p @ Punct("(") => d += 1; members += p
                  case p @ Punct(")") => d -= 1; if (d > 0) members += p
                  case tk => members += tk
                }
                m += 1
              }
              val castClose = nextSig(toks0, m)
              if (d == 0 && castClose < toks0.length &&
                  toks0(castClose) == Punct(")")) {
                out += Word("chEnum"); out += Punct("(")
                rewriteCastEnum(toks0.slice(open + 1, asPos))
                  .foreach(out += _)
                out += Punct(",")
                members.result().foreach {
                  case Punct("=") => out += Punct(",")
                  case Ws(_) => ()
                  case tk => out += tk
                }
                out += Punct(")")
                Some(castClose + 1)
              } else None
            } else None
          } else None
        case _ => None
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
    if (!toks0.exists {
        case Word(w) => w.equalsIgnoreCase("convert")
        case _ => false }) return toks0
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks0.length) {
      val rewritten: Option[Int] = toks0(i) match {
        case Word(w) if w.equalsIgnoreCase("convert") &&
            nextSig(toks0, i + 1) < toks0.length &&
            toks0(nextSig(toks0, i + 1)) == Punct("(") =>
          val open = nextSig(toks0, i + 1)
          var k = open + 1
          var depth = 1
          var lastComma = -1
          while (k < toks0.length && depth > 0) {
            toks0(k) match {
              case Punct("(") => depth += 1
              case Punct(")") => depth -= 1
              case Punct(",") if depth == 1 => lastComma = k
              case _ => ()
            }
            k += 1
          }
          if (depth == 0 && lastComma > 0) {
            out += Word("CAST"); out += Punct("(")
            rewriteConvert(toks0.slice(open + 1, lastComma)).foreach(out += _)
            out += Ws(" "); out += Word("AS"); out += Ws(" ")
            toks0.slice(lastComma + 1, k - 1).foreach(out += _)
            out += Punct(")")
            Some(k)
          } else None
        case _ => None
      }
      rewritten match {
        case Some(next) => i = next
        case None => out += toks0(i); i += 1
      }
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
    if (!toks0.exists {
        case Word(w) => w.equalsIgnoreCase("DECIMAL")
        case _ => false }) return toks0
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks0.length) {
      val rewritten: Option[Int] = toks0(i) match {
        case Word(w) if w.equalsIgnoreCase("CAST") &&
            nextSig(toks0, i + 1) < toks0.length &&
            toks0(nextSig(toks0, i + 1)) == Punct("(") =>
          val open = nextSig(toks0, i + 1)
          var k = open + 1
          var depth = 1
          var asPos = -1
          while (k < toks0.length && depth > 0 && asPos < 0) {
            toks0(k) match {
              case Punct("(") => depth += 1
              case Punct(")") => depth -= 1
              case Word(a) if depth == 1 && a.equalsIgnoreCase("AS") =>
                asPos = k
              case _ => ()
            }
            k += 1
          }
          val dw = if (asPos < 0) -1 else nextSig(toks0, asPos + 1)
          val isDec = dw >= 0 && dw < toks0.length && (toks0(dw) match {
            case Word(d) => d.equalsIgnoreCase("DECIMAL")
            case _ => false
          })
          if (isDec) {
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
            val castClose = if (after < 0) -1 else nextSig(toks0, after)
            if (castClose >= 0 && castClose < toks0.length &&
                toks0(castClose) == Punct(")")) {
              out += Word("chDecimal"); out += Punct("(")
              rewriteCastDecimal(toks0.slice(open + 1, asPos))
                .foreach(out += _)
              out += Punct(","); out += Num(p)
              out += Punct(","); out += Num(s)
              out += Punct(")")
              Some(castClose + 1)
            } else None
          } else None
        case _ => None
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
    def isTimeWord(t: Tok) = t match {
      case Word(w) => w.equalsIgnoreCase("time")
      case _ => false
    }
    if (!toks0.exists {
        case Word(w) => w.equalsIgnoreCase("time")
        case Str(sv) => sv.toUpperCase.contains("TIME")
        case _ => false
      }) return toks0
    var toks = toks0
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
    def run(step: Vector[Tok] => Option[Vector[Tok]]): Unit = {
      var guard = 0
      var next = step(toks)
      while (next.isDefined && guard < 64) {
        toks = next.get
        guard += 1
        next = step(toks)
      }
    }
    // CH's datetime text reader accepts ANY non-digit delimiters
    // ('2021 01-02 …' parses); normalize literals that feed a :: cast
    run(ts => {
      val dtRe = """^'(\d{4})([^\d'])(\d{2})([^\d'])(\d{2})([ T].*)?'$""".r
      val i = ts.indices.find { k =>
        ts(k) match {
          case Str(sv) => k + 2 < ts.length && ts(k + 1) == Punct(":") &&
            ts(k + 2) == Punct(":") && {
              dtRe.findFirstMatchIn(sv).exists(m =>
                m.group(2) != "-" || m.group(4) != "-")
            }
          case _ => false
        }
      }
      i.map { k =>
        val sv = ts(k).text
        val m = dtRe.findFirstMatchIn(sv).get
        val fixed = s"'${m.group(1)}-${m.group(3)}-${m.group(5)}" +
          Option(m.group(6)).getOrElse("") + "'"
        ts.updated(k, Str(fixed))
      }
    })
    // TIME'…' typed literal
    run(ts => {
      val i = ts.indices.find(k => isTimeWord(ts(k)) &&
        k + 1 < ts.length && ts(k + 1).isInstanceOf[Str])
      i.map { k =>
        ts.take(k) ++
          Vector[Tok](Word("chTime"), Punct("("), ts(k + 1), Punct(","),
            Num("3"), Punct(")")) ++ ts.drop(k + 2)
      }
    })
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
        val left = ts.slice(ls, k).filterNot(_.isInstanceOf[Ws])
        ts.take(ls) ++
          (Vector[Tok](Word("chTime"), Punct("(")) ++ left ++
            Vector[Tok](Punct(","), Num(scale), Punct(")"))) ++
          ts.drop(after)
      }
    })
    // CAST(x AS Time[(n)]) and CAST(x, 'Time[(n)]')
    run(ts => {
      val i = ts.indices.find { k =>
        (ts(k) match {
          case Word(w) => w.equalsIgnoreCase("CAST")
          case _ => false
        }) && {
          val open = nextSig(ts, k + 1)
          open < ts.length && ts(open) == Punct("(") && {
            // scan to AS/, at depth 1, then Time
            var j = open + 1
            var d = 1
            var hit = false
            while (j < ts.length && d > 0 && !hit) {
              ts(j) match {
                case Punct("(") => d += 1
                case Punct(")") => d -= 1
                case Word(a) if d == 1 && a.equalsIgnoreCase("AS") =>
                  val w = nextSig(ts, j + 1)
                  hit = w < ts.length && isTimeWord(ts(w))
                case Punct(",") if d == 1 =>
                  val w = nextSig(ts, j + 1)
                  hit = w < ts.length && (ts(w) match {
                    case Str(sv) => sv.length > 2 &&
                      sv.substring(1, sv.length - 1).trim
                        .toUpperCase.startsWith("TIME")
                    case _ => false
                  })
                case _ => ()
              }
              j += 1
            }
            hit
          }
        }
      }
      i.map { k =>
        val open = nextSig(ts, k + 1)
        var j = open + 1
        var d = 1
        var sep = -1
        while (j < ts.length && d > 0 && sep < 0) {
          ts(j) match {
            case Punct("(") => d += 1
            case Punct(")") => d -= 1
            case Word(a) if d == 1 && a.equalsIgnoreCase("AS") => sep = j
            case Punct(",") if d == 1 => sep = j
            case _ => ()
          }
          j += 1
        }
        // close paren of the CAST
        var close = sep
        d = 1
        while (close < ts.length && d > 0) {
          close += 1
          ts(close) match {
            case Punct("(") => d += 1
            case Punct(")") => d -= 1
            case _ => ()
          }
        }
        val scale = ts(nextSig(ts, sep + 1)) match {
          case Str(sv) =>
            val inner = sv.substring(1, sv.length - 1).trim
            """\((\d+)\)""".r.findFirstMatchIn(inner)
              .map(_.group(1)).getOrElse("3")
          case _ => scaleAfter(ts, nextSig(ts, sep + 1))._1
        }
        ts.take(k) ++
          (Vector[Tok](Word("chTime"), Punct("(")) ++
            ts.slice(open + 1, sep) ++
            Vector[Tok](Punct(","), Num(scale), Punct(")"))) ++
          ts.drop(close + 1)
      }
    })
    toks
  }

  /** MYSQL-dialect token passes (gated on `SET dialect_type='MYSQL'`):
    *  - `AS 'alias'`: single-quoted aliases become backtick identifiers;
    *  - `^` is bitXor at MySQL's precedence (ABOVE `+` — `1 + 0 ^ 31`
    *    is `1 + bitXor(0, 31)`), rewritten to explicit bitXor calls
    *    binding each `^` to its immediate primary operands.
    */
  private def mysqlPasses(toks0: Vector[Tok]): Vector[Tok] = {
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
          var k = nextSig(toks, re + 1) + 1
          var d = 1
          while (k < toks.length && d > 0) {
            toks(k) match {
              case Punct("(") => d += 1
              case Punct(")") => d -= 1
              case _ => ()
            }
            if (d > 0) k += 1
          }
          re = k
        case Punct("(") =>
          var k = re + 1
          var d = 1
          while (k < toks.length && d > 0) {
            toks(k) match {
              case Punct("(") => d += 1
              case Punct(")") => d -= 1
              case _ => ()
            }
            if (d > 0) k += 1
          }
          re = k
        case _ => ()
      }
      // absorb `::Type` chains to the RIGHT
      var q = nextSig(toks, re + 1)
      while (q < toks.length && toks(q) == Punct("::")) {
        re = nextSig(toks, q + 1)
        q = nextSig(toks, re + 1)
      }
      val left = toks.slice(ls, xorPos)
        .filterNot(_.isInstanceOf[Ws])
      val right = toks.slice(xorPos + 1, re + 1)
        .filterNot(_.isInstanceOf[Ws])
      toks = toks.take(ls) ++
        (Vector[Tok](Word("bitXor"), Punct("(")) ++ left ++
          Vector[Tok](Punct(",")) ++ right ++ Vector[Tok](Punct(")"))) ++
        toks.drop(re + 1)
      xorPos = toks.indexWhere(_ == Punct("^"))
    }
    toks
  }

  /** Transpile one statement's ClickHouse syntax to Spark-parseable SQL. */
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
      var d = 0
      var pw = -1
      var pwD = 0
      var wh = -1
      var end = toks.length
      var k = 0
      var lastSig: Option[Tok] = None
      while (k < toks.length && (wh < 0 || end == toks.length)) {
        toks(k) match {
          case Punct("(") | Punct("[") => d += 1
          case Punct(")") | Punct("]") =>
            d -= 1
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
            val exprText = (s0 until cut).map(toks(_).text).mkString.trim
            if (exprText.nonEmpty && exprText != col) {
              // left relation = FROM+1 .. first join keyword at depth d
              val relStart = nextSig(toks, fi + 1)
              val joinStart = (relStart until u).find(k2 =>
                depthAt(k2) == d && (toks(k2) match {
                  case Word(w) => joinKws.contains(w.toUpperCase)
                  case _ => false
                }))
              joinStart.foreach { js =>
                val relText = (relStart until js).map(toks(_).text).mkString.trim
                if (relText.nonEmpty) {
                  val pre = toks.take(relStart).map(_.text).mkString
                  val post = toks.drop(js).map(_.text).mkString
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
    if (changed) Some(out.result().map(_.text).mkString) else None
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
    var d = 0
    var selStart = -1
    var listEnd = toks.length
    for (k <- toks.indices) {
      toks(k) match {
        case Punct("(") | Punct("[") => d += 1
        case Punct(")") | Punct("]") => d -= 1
        case Word(w) if d == 0 && selStart < 0 &&
            w.equalsIgnoreCase("SELECT") => selStart = k
        case Word(w) if d == 0 && selStart >= 0 && listEnd == toks.length &&
            Set("FROM", "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER",
              "LIMIT", "SETTINGS", "UNION", "WINDOW").contains(w.toUpperCase) =>
          listEnd = k
        case _ => ()
      }
    }
    if (selStart < 0) return stmt
    val listText = toks.slice(selStart + 1, listEnd).map(_.text).mkString
    val aliasRe = """(?is)^(.*\S)\s+AS\s+(`[^`]+`|[A-Za-z_]\w*)\s*$""".r
    val pairs = ChLex.splitTop(listText).flatMap {
      case aliasRe(expr, alias) =>
        val name = alias.stripPrefix("`").stripSuffix("`")
        // self-aliased columns (`x AS x`) add nothing
        if (expr.trim.equalsIgnoreCase(name)) None else Some(name -> expr.trim)
      case _ => None
    }.toMap
    if (pairs.isEmpty || listEnd == toks.length) return stmt
    val sb = new StringBuilder(toks.take(listEnd).map(_.text).mkString)
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

  private def stripRankFrames(sql: String): String = {
    val toks = tokenize(sql)
    val drop = scala.collection.mutable.BitSet.empty
    // index → replacement text (a ROWS-framed rank() degrades to
    // row_number(): with a ROWS frame each row is its own peer group,
    // 34426/34427 golden outputs)
    val swap = scala.collection.mutable.HashMap.empty[Int, String]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if rankLikeFns(w.toLowerCase) =>
          val o = nextSig(toks, i + 1)
          if (o < toks.length && toks(o) == Punct("(")) {
            val c = matchClose(toks, o)
            val ov = nextSig(toks, c + 1)
            val isOver = ov < toks.length && isWordI(toks(ov), "OVER")
            val wo = if (isOver) nextSig(toks, ov + 1) else toks.length
            if (isOver && wo < toks.length && toks(wo) == Punct("(")) {
              val wc = matchClose(toks, wo)
              // frame keyword at the OVER clause's own depth
              var d = 0
              var k = wo + 1
              var frameStart = -1
              var frameKw = ""
              while (k < wc && frameStart < 0) {
                toks(k) match {
                  case Punct("(") => d += 1
                  case Punct(")") => d -= 1
                  case Word(x) if d == 0 &&
                      Seq("ROWS", "RANGE", "GROUPS")
                        .contains(x.toUpperCase) =>
                    frameStart = k; frameKw = x.toUpperCase
                  case _ => ()
                }
                k += 1
              }
              if (frameStart >= 0) {
                (frameStart until wc).foreach(drop += _)
                if (frameKw == "ROWS" &&
                    Set("rank", "dense_rank", "denserank")(w.toLowerCase))
                  swap(i) = "row_number"
              }
            }
          }
          i += 1
        case _ => i += 1
      }
    }
    if (drop.isEmpty && swap.isEmpty) sql
    else toks.zipWithIndex.collect {
      case (t, k) if !drop(k) => swap.getOrElse(k, t.text)
    }.mkString
  }

  /** An OVER clause with a RANGE frame but NO ORDER BY: every row is a
    * peer of every other, so CH evaluates the frame over the whole
    * partition; Spark rejects RANGE without ORDER BY outright (33412).
    * Rewrite the frame to ROWS BETWEEN UNBOUNDED PRECEDING AND
    * UNBOUNDED FOLLOWING — the exact peer-set equivalent.
    */
  private def fixOrderlessRange(sql: String): String = {
    if (!sql.toUpperCase.contains("RANGE")) return sql
    val toks = tokenize(sql)
    var i = 0
    // locate OVER ( … ) clauses
    val replaceRanges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int)] // [start, end) of frame tokens to replace
    i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "OVER")) {
        val j = nextSig(toks, i + 1)
        if (j < toks.length && toks(j) == Punct("(")) {
          val close = matchClose(toks, j)
          var d = 0
          var hasOrder = false
          var rangeAt = -1
          var k = j + 1
          while (k < close) {
            toks(k) match {
              case Punct("(") => d += 1
              case Punct(")") => d -= 1
              case Word(x) if d == 0 && x.equalsIgnoreCase("ORDER") =>
                hasOrder = true
              case Word(x) if d == 0 && x.equalsIgnoreCase("RANGE") &&
                  rangeAt < 0 => rangeAt = k
              case _ => ()
            }
            k += 1
          }
          if (rangeAt >= 0 && !hasOrder) replaceRanges += ((rangeAt, close))
        }
      }
      i += 1
    }
    if (replaceRanges.isEmpty) return sql
    val sb = new StringBuilder
    i = 0
    while (i < toks.length) {
      replaceRanges.find(_._1 == i) match {
        case Some((_, end)) =>
          sb.append("ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING")
          i = end
        case None =>
          sb.append(toks(i).text)
          i += 1
      }
    }
    sb.toString
  }

  /** CH `sum(x) OVER (frame)` on an EMPTY frame yields 0 — sum in CH
    * never returns NULL for an empty set — while Spark's window sum
    * yields NULL (33422-35424 corpus family: RANGE/ROWS/GROUPS frames
    * whose bounds exclude every row). Wrap window sums in
    * coalesce(…, 0); window aggregates cannot be DISTINCT, so the
    * rewrite is always type-sound.
    */
  private def wrapWindowSums(sql: String): String = {
    val toks = tokenize(sql)
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if w.equalsIgnoreCase("sum") => {
          val o = nextSig(toks, i + 1)
          val isCall = o < toks.length && toks(o) == Punct("(")
          val c = if (isCall) matchClose(toks, o) else -1
          val ov = if (isCall) nextSig(toks, c + 1) else -1
          val isOver = ov > 0 && ov < toks.length && (toks(ov) match {
            case Word(x) => x.equalsIgnoreCase("over")
            case _ => false
          })
          if (isOver) {
            val wEnd = nextSig(toks, ov + 1)
            val end = toks(wEnd) match {
              case Punct("(") => matchClose(toks, wEnd)
              case Word(_) => wEnd // named window: OVER w
              case _ => -1
            }
            if (end > 0) {
              out += Word("coalesce")
              out += Punct("(")
              var k = i
              while (k <= end) { out += toks(k); k += 1 }
              out += Punct(",")
              out += Ws(" ")
              out += Num("0")
              out += Punct(")")
              i = end + 1
            } else { out += toks(i); i += 1 }
          } else { out += toks(i); i += 1 }
        }
        case t => out += t; i += 1
      }
    }
    out.result().map(_.text).mkString
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

  def transpile(stmt: String): String = transpile(stmt, false)

  def transpile(stmt: String, widenInts: Boolean): String = {
    val toks0raw = tokenize(stripComments(rewriteRemote(stmt)))
    val toks0 = if (widenInts) widenIntLiterals(toks0raw) else toks0raw
    // Type-level pre-pass: strip Nullable(...) / LowCardinality(...)
    // wrappers (keep the inner type), map scalar type names, expand
    // DecimalNN(s), and rewrite Array(T) type syntax to ARRAY<T>.
    val preTime = rewriteTimeType(toks0)
    val preMy =
      if (mysqlDialect) mysqlPasses(rewriteConvert(rewriteCastEnum(preTime)))
      else rewriteConvert(rewriteCastEnum(preTime))
    val toks = mergePrewhere(rewriteCastDecimal(rewriteTypes(
      rewriteNullableCast(preMy))))
    val out = new StringBuilder
    // Depth-indexed stack entry: true → this bracket became `array(`,
    // false → element access (we rewrote `x[` to `element_at(x, `).
    var stack = List[Boolean]()
    var lastSig: Option[Tok] = None
    var parens = 0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Word(w) if parens == 0 && stack.isEmpty &&
            w.equalsIgnoreCase("settings") =>
          // CH query-level SETTINGS clause: session knobs, no Spark
          // equivalent — drop the remainder of the statement.
          i = toks.length - 1
        case Word(w) if parens > 0 && stack.isEmpty &&
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
          var j = i + 1
          var d = 0
          var stop = false
          while (j < toks.length && !stop) {
            toks(j) match {
              case Punct("(") => d += 1
              case Punct(")") if d == 0 => stop = true
              case Punct(")") => d -= 1
              case _ => ()
            }
            if (!stop) j += 1
          }
          i = j - 1
        case Punct("[") =>
          if (opensLiteral(lastSig)) {
            out.append("array("); stack = true :: stack
          } else {
            // element access: wrap the preceding primary in element_at.
            // Find the start of the preceding primary expression in the
            // OUTPUT: walk back over balanced parens/identifier chars.
            val prefix = out.toString
            val start = primaryStart(prefix)
            val primary = prefix.substring(start)
            out.setLength(start)
            out.append("arrayElement(").append(primary).append(", ")
            stack = false :: stack
          }
          lastSig = Some(Punct("["))
        case Punct("]") =>
          out.append(")")
          stack = stack.drop(1)
          lastSig = Some(Punct("]"))
        case Punct("{") =>
          // `m{'k'}` is the ByteDance Map element access; a brace in
          // LITERAL position opens a map literal `{'k': v}` (reference
          // ParserMapOfLiterals) — the literal's colons are handled by
          // rewriteMapLiterals on the emitted `map(` form
          if (opensLiteral(lastSig)) {
            out.append("map{"); lastSig = Some(Punct("{"))
          } else {
            val prefix = out.toString
            val start = primaryStart(prefix)
            val primary = prefix.substring(start)
            out.setLength(start)
            out.append("arrayElement(").append(primary).append(", ")
            stack = false :: stack
            lastSig = Some(Punct("["))
          }
        case Punct("}") if stack.nonEmpty && !stack.head =>
          out.append(")")
          stack = stack.drop(1)
          lastSig = Some(Punct("]"))
        case Word(w) if w.equalsIgnoreCase("prewhere") &&
            !lastSig.exists(t => isWordI(t, "FROM") || isWordI(t, "JOIN") ||
              isWordI(t, "EXISTS") || isWordI(t, "TABLE")) =>
          // PREWHERE is a storage-pushdown hint around WHERE semantics
          // (reference MergeTreeWhereOptimizer) — plain WHERE here,
          // Catalyst pushes predicates itself. Guarded so a TABLE named
          // `prewhere` (the corpus has one) survives in FROM position.
          out.append("WHERE"); lastSig = Some(Word("WHERE"))
        case Word(w) if (w.equalsIgnoreCase("YEAR_MONTH") ||
            w.equalsIgnoreCase("DAY_TIME") ||
            w.equalsIgnoreCase("DAY_SECOND")) &&
            lastSig.exists(_.isInstanceOf[Str]) =>
          // MySQL compound interval units → Spark's ANSI spellings
          out.append(if (w.equalsIgnoreCase("YEAR_MONTH")) "YEAR TO MONTH"
            else "DAY TO SECOND")
          lastSig = Some(Word("MONTH"))
        case Word(w) if w.equalsIgnoreCase("dateDiff") ||
            w.equalsIgnoreCase("date_diff") =>
          // Spark's parser intercepts dateDiff/date_diff with special
          // unit-argument syntax (unquoted units) BEFORE the function
          // registry — CH spells the unit as a string literal, so route
          // to the registry under a name the parser treats normally
          out.append("chDateDiff"); lastSig = Some(Word("chDateDiff"))
        case Word(w) if w.equalsIgnoreCase("dummy") =>
          // parenthesized so a `GROUP BY dummy` does not become a bare
          // integer literal that Spark's groupByOrdinal reinterprets
          out.append("(0)"); lastSig = Some(Num("0"))
        case Word("inf") =>
          out.append("CAST('Infinity' AS DOUBLE)"); lastSig = Some(Num("0"))
        case Word("nan") =>
          out.append("CAST('NaN' AS DOUBLE)"); lastSig = Some(Num("0"))
        case p @ Punct("(") if lastSig.contains(Punct(")")) =>
          // CH parameterized-aggregate syntax f(params)(args): merge into
          // the registry's single-call convention f(params, args) —
          // ClickHouseAliases expects exactly this shape (e.g.
          // quantileExact(level, x), sequenceMatch(pattern, ts, conds...)).
          var j = out.length - 1
          while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
          out.setLength(j) // drop the ")"
          out.append(", ")
          parens += 1 // the dropped ")" had decremented the counter
          lastSig = Some(p)
        case n @ Num(t) if t.startsWith(".") &&
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
          segs.foreach(s => out.append(".col").append(s))
          lastSig = Some(Word("col" + segs.last))
        case w0 @ Word(w) if w.equalsIgnoreCase("datetime") &&
            toks.lift(nextSig(toks, i + 1)).exists(_.isInstanceOf[Str]) =>
          // MySQL-dialect typed literal `DATETIME '2020-01-01 00:00:00'`
          // (corpus 015xx/13002): Spark's spelling is TIMESTAMP
          out.append("TIMESTAMP")
          lastSig = Some(w0)
        case w0 @ Word(w) if (w.equalsIgnoreCase("semi") ||
            w.equalsIgnoreCase("anti")) &&
            toks.lift(nextSig(toks, i + 1)).exists(isWordI(_, "LEFT")) =>
          // CH `SEMI LEFT JOIN` = Spark `LEFT SEMI JOIN` (and ANTI):
          // swap the qualifier order; RIGHT SEMI/ANTI have no Spark
          // equivalent and keep failing loudly
          out.append("LEFT ").append(w.toUpperCase)
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
          }) { out.append(w); lastSig = Some(w0) }
        case n @ Num(t) if t.toLowerCase.startsWith("0x") &&
            t.drop(2).nonEmpty &&
            t.drop(2).forall(c => "0123456789abcdefABCDEF".contains(c)) =>
          // hex literals: Spark's lexer reads `0x…` as an identifier —
          // emit the decimal value (unsigned beyond Long range, the CH
          // UInt64 reading)
          val v = BigInt(t.drop(2), 16)
          if (v.isValidLong) out.append(v.toString)
          else out.append(v.toString).append("BD")
          lastSig = Some(n)
        case n @ Num(t) if (t.contains('.') || t.toLowerCase.contains('e')) &&
            !t.toLowerCase.startsWith("0x") && t.count(_ == '.') <= 1 &&
            !t.toLowerCase.endsWith("d") =>
          // CH fractional/exponent literals are Float64; Spark's default
          // is DECIMAL — suffix D so arithmetic and formatting match the
          // reference (0.1 + 0.2 → 0.30000000000000004, 1.0 prints "1").
          val base0 = if (t.endsWith(".")) t + "0" else t
          val base = if (base0.startsWith(".")) "0" + base0 else base0
          out.append(base).append("D")
          lastSig = Some(n)
        case s @ Str(_) =>
          out.append(normalizeStringLiteral(s.text)); lastSig = Some(s)
        case t @ Ws(_) => out.append(t.text)
        case t =>
          if (t == Punct("(")) parens += 1
          else if (t == Punct(")")) parens -= 1
          out.append(t.text); lastSig = Some(t)
      }
      i += 1
    }
    // a `)` that closes nothing: no pass below can make sense of the
    // statement, so Spark's parser gets it as written and reports it
    if (hasStrayClose(tokenize(out.toString))) return stmt
    val sqlOut = rewriteBareSetOps(rewriteAnyJoin(rewriteLimitBy(guardSelectStringHead(
    rewriteOrderNulls(rewriteCollate(rewriteNestedArrayJoinDeep(rewriteArrayJoin(rewriteInClauses(
      rewriteNestedCols(rewriteTupleLiterals(rewriteUnionBranches(rewriteParenLambda(rewriteTernary(rewriteWhereAliases(rewriteInlineAliases(
        rewriteScalarWithDeep(rewriteInfixMod(rewriteTwoArgCast(wrapWindowSums(
          fixOrderlessRange(stripRankFrames(rewriteGroupsFrame(
            postPass(rewritePositionIn(rewriteMapLiterals(
              parenthesizeUsing(addImplicitFromOne(
                rewriteDynamicInterval(
                  rewriteValuesTable(out.toString))))))))))))))))))))))))))))))
    // Late-bound combinator chains (sumForEachIf, quantilesTimingState…):
    // register composed builders for any not-yet-registered aggregate
    // name in this statement, so spark.sql resolves them like the
    // reference's AggregateFunctionCombinatorFactory does on demand.
    ChCombinators.registerMissing(sqlOut)
    sqlOut
  }

  /** ClickHouse's default INTERSECT/EXCEPT mode is ALL
    * (intersect_default_mode / except_default_mode — the 02004 const
    * column goldens pin 10 rows from a bare INTERSECT); Spark defaults
    * to DISTINCT, so a bare set-op keyword gains an explicit ALL.
    * `SELECT * EXCEPT (cols)` is Spark column-exclusion — only an
    * EXCEPT/INTERSECT introducing a SELECT branch is a set operation.
    */
  private def rewriteBareSetOps(sql: String): String = {
    if (!"""(?i)\b(intersect|except)\b""".r.findFirstIn(sql).isDefined)
      return sql
    // ANSI/MySQL dialect: a BARE set op keeps the SQL-standard DISTINCT
    // default (explicit ALL still lowers to the CH filter semantics)
    val chDialect =
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString("graft.ch.dialect", "CLICKHOUSE") == "CLICKHOUSE"
      catch { case _: Throwable => true }
    if (!chDialect) return sql
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

    val toks = tokenize(sql)
    val out = new StringBuilder
    var i = 0
    var depth = 0
    var sawSetOp = false
    // a depth-0 ORDER BY / LIMIT / FORMAT tail means the query already
    // pins its own order
    var hasTail = false
    while (i < toks.length) {
      out.append(toks(i).text)
      toks(i) match {
        case Punct("(") => depth += 1
        case Punct(")") => depth -= 1
        case Word(w) if depth == 0 && (w.equalsIgnoreCase("ORDER") ||
            w.equalsIgnoreCase("LIMIT")) => hasTail = true
        case Word(w) if w.equalsIgnoreCase("INTERSECT") ||
            w.equalsIgnoreCase("EXCEPT") =>
          val a = nextSig(toks, i + 1)
          val branchy = toks.lift(a) match {
            case Some(Word(x)) if x.equalsIgnoreCase("ALL") ||
                x.equalsIgnoreCase("DISTINCT") =>
              if (depth == 0) sawSetOp = true // explicit mode
              false
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
          if (branchy) {
            out.append(" " + modeOf(
              if (toks(i).text.equalsIgnoreCase("INTERSECT"))
                "graft.ch.intersectMode"
              else "graft.ch.exceptMode"))
            if (depth == 0) sawSetOp = true
          }
        case _ => ()
      }
      i += 1
    }
    // left-stream order is preserved by the semi/anti lowering
    // (under ChCoercions.CorpusFlag), no explicit sort needed
    val _ = (sawSetOp, hasTail)
    out.toString
  }

  /** GROUPS window frames (reference WindowDescription.h FrameType::
    * Groups) — Spark has none, but dense_rank + a RANGE frame over the
    * rank is an exact rewrite: peer-group distance N <=> rank distance
    * N. The source is wrapped one level to precompute the rank.
    */
  private def rewriteGroupsFrame(sql: String): String = {
    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 6) {
      changed = false
      guard += 1
      rewriteOneGroupsFrame(out) match {
        case Some(next) => out = next; changed = true
        case None => ()
      }
    }
    out
  }

  private def rewriteOneGroupsFrame(sql: String): Option[String] = {
    val toks = tokenize(sql)
    val depthAt = depths(toks)
    def text(a: Int, b: Int): String = toks.slice(a, b).map(_.text).mkString
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
        var closeIdx = i
        while (closeIdx < toks.length &&
          !(toks(closeIdx) == Punct(")") && depthAt(closeIdx) == lvl - 1))
          closeIdx += 1
        if (closeIdx >= toks.length) return None
        // ORDER BY inside the OVER
        val orderIdx = (openIdx + 1 until i)
          .find(k => depthAt(k) == lvl && isWordI(toks(k), "ORDER"))
          .getOrElse(return None)
        val byIdx = nextSig(toks, orderIdx + 1)
        val partText = text(openIdx + 1, orderIdx).trim // PARTITION BY … or ""
        val orderText = text(byIdx + 1, i).trim
        val frameText = text(nextSig(toks, i + 1), closeIdx).trim
        val outerLvl = depthAt(openIdx)
        // this level's FROM + source (through WHERE; bail on GROUP BY)
        val fromIdx = (closeIdx until toks.length)
          .find(k => depthAt(k) == outerLvl && isWordI(toks(k), "FROM"))
          .getOrElse(return None)
        var srcEnd = fromIdx + 1
        while (srcEnd < toks.length && !(depthAt(srcEnd) == outerLvl &&
          (toks(srcEnd) match {
            case Word(w) => Seq("GROUP", "HAVING", "ORDER", "LIMIT",
              "UNION", "SETTINGS", "WINDOW").contains(w.toUpperCase)
            case Punct(";") => true
            case _ => false
          }))) srcEnd += 1
        val srcText = text(fromIdx + 1, srcEnd).trim
        val n = sql.length
        val inner = (if (partText.nonEmpty) partText + " " else "") +
          s"ORDER BY __gdr$n RANGE $frameText"
        val newFrom = s" FROM (SELECT *, dense_rank() OVER (" +
          (if (partText.nonEmpty) partText + " " else "") +
          s"ORDER BY $orderText) AS __gdr$n FROM $srcText) __gsub$n "
        return Some(text(0, openIdx + 1) + inner +
          text(closeIdx, fromIdx) + newFrom + text(srcEnd, toks.length))
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
  private def rewritePositionIn(sql: String): String = {
    if (!sql.toLowerCase.contains("position")) return sql
    val toks = tokenize(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val isPos = toks(i) match {
        case Word(w) => w.toLowerCase.startsWith("position")
        case _ => false
      }
      val p = nextSig(toks, i + 1)
      if (isPos && p < toks.length && toks(p) == Punct("(")) {
        // scan for a top-level IN inside these parens
        var depth = 1
        var j = p + 1
        var inIdx = -1
        var close = -1
        while (close < 0 && j < toks.length) {
          toks(j) match {
            case Punct("(") | Punct("[") => depth += 1
            case Punct(")") | Punct("]") =>
              depth -= 1; if (depth == 0) close = j
            case w: Word if depth == 1 && isWordI(w, "IN") => inIdx = j
            case Punct(",") if depth == 1 => inIdx = -2 // already 2-arg
            case _ => ()
          }
          j += 1
        }
        if (inIdx >= 0 && close > 0) {
          val needle = toks.slice(p + 1, inIdx).map(_.text).mkString.trim
          val hay = toks.slice(inIdx + 1, close).map(_.text).mkString.trim
          sb.append(toks(i).text).append("(").append(hay).append(", ")
            .append(needle).append(")")
          i = close + 1
        } else { sb.append(toks(i).text); i += 1 }
      } else { sb.append(toks(i).text); i += 1 }
    }
    sb.toString
  }

  /** CH map literals `{'a': 1, 'b': 2}` → `map('a', 1, 'b', 2)`. The
    * main loop marks literal-position braces as `map{` (element-access
    * braces are already rewritten there); this pass converts the marked
    * literals, turning the map level's colons into commas.
    */
  private def rewriteMapLiterals(sql: String): String = {
    if (!sql.contains('{')) return sql
    val toks = tokenize(sql)
    val sb = new StringBuilder
    var stack = List[String]() // "map" | "brace" | "paren"
    var lastSig: Option[Tok] = None
    for (t <- toks) t match {
      case Punct("{") =>
        if (lastSig.exists(s => isWordI(s, "map"))) {
          stack ::= "map"
          // drop the just-emitted marker word (+ trailing whitespace)
          while (sb.nonEmpty && sb.last.isWhitespace) sb.setLength(sb.length - 1)
          sb.setLength(sb.length - 3)
          sb.append("map(")
        } else { stack ::= "brace"; sb.append("{") }
        lastSig = Some(Punct("("))
      case Punct("}") =>
        sb.append(if (stack.headOption.contains("map")) ")" else "}")
        stack = stack.drop(1); lastSig = Some(Punct(")"))
      case Punct("(") =>
        stack ::= "paren"; sb.append("("); lastSig = Some(t)
      case Punct(")") =>
        stack = stack.drop(1); sb.append(")"); lastSig = Some(t)
      case Punct(":") if stack.headOption.contains("map") =>
        sb.append(","); lastSig = Some(Punct(","))
      case Ws(w) => sb.append(w)
      case other => sb.append(other.text); lastSig = Some(other)
    }
    sb.toString
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
    val mainSql = stripTot(toks.map(_.text).mkString)
    // companion: replace each operand's body
    val aggRe = ("""(?i)\b(count|sum|avg|min|max|any|anyLast|uniq\w*|""" +
      """quantile\w*|median\w*|groupArray\w*|argMin|argMax|topK\w*|""" +
      """corr|covar\w*|stddev\w*|var\w*)\s*\(""").r
    def totalsBody(o: Operand): Option[String] = {
      val body = toks.slice(o.open + 1, o.close).map(_.text).mkString
      val inner = tokenize(body)
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
          items += inner.slice(a, k2).map(_.text).mkString; a = k2 + 1
        }
      items += inner.slice(a, from).map(_.text).mkString
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
      val src = stripTot(inner.slice(from, tailEnd).map(_.text).mkString)
      if (sawAgg) Some(s"SELECT ${newItems.mkString(", ")} $src")
      else Some(s"SELECT ${newItems.mkString(", ")}")
    }
    def defaultsRow(o: Operand): Option[String] = {
      // one all-defaults row with the operand's column names
      val body = toks.slice(o.open + 1, o.close).map(_.text).mkString
      val inner = tokenize(body)
      val dep = depths(inner)
      val sel = inner.indices.find(k2 => dep(k2) == 0 &&
        isWordI(inner(k2), "SELECT")).getOrElse(return None)
      val from = inner.indices.find(k2 => dep(k2) == 0 &&
        isWordI(inner(k2), "FROM")).getOrElse(return None)
      val items = ArrayBuffer[String]()
      var a = sel + 1
      for (k2 <- (sel + 1) until from)
        if (dep(k2) == 0 && inner(k2) == Punct(",")) {
          items += inner.slice(a, k2).map(_.text).mkString; a = k2 + 1
        }
      items += inner.slice(a, from).map(_.text).mkString
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
      pieces += toks.slice(pos, o.open + 1).map(_.text).mkString
      // ANY strictness drops the right stream's totals entirely (00150's
      // `0 45 \N`); a plain join default-constructs them (01107's `0 0`)
      val anyJoin = !o.isLeft && toks.slice(pos, o.open).exists(t =>
        isWordI(t, "ANY"))
      val repl =
        if (hasTotals(o)) totalsBody(o)
        else if (o.isLeft || !anyJoin) defaultsRow(o)
        else {
          val body = toks.slice(o.open + 1, o.close).map(_.text).mkString
          Some(s"SELECT * FROM ( ${stripTot(body)} ) __tjr WHERE FALSE")
        }
      repl match {
        case Some(r) => pieces += r
        case None => return None
      }
      pos = o.close
    }
    pieces += toks.slice(pos, toks.length).map(_.text).mkString
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
    var openIdx = -1; var closeIdx = toks.length
    if (td > 0) {
      var bal = 0
      var k = withIdx - 1
      while (openIdx < 0 && k >= 0) {
        toks(k) match {
          case Punct(")") => bal += 1
          case Punct("(") => if (bal > 0) bal -= 1 else openIdx = k
          case _ => ()
        }
        k -= 1
      }
      bal = 0
      k = withIdx + 1
      var cl = -1
      while (cl < 0 && k < toks.length) {
        toks(k) match {
          case Punct("(") => bal += 1
          case Punct(")") => if (bal > 0) bal -= 1 else cl = k
          case _ => ()
        }
        k += 1
      }
      closeIdx = if (cl < 0) toks.length else cl
    }
    // the owning GROUP BY (last same-level GROUP before WITH TOTALS)
    var groupIdx = -1
    for (j <- (math.max(openIdx, 0) until withIdx).reverse if groupIdx < 0)
      if (depthAt(j) == td && isWordI(toks(j), "GROUP") &&
          isWordI(toks(nextSig(toks, j + 1)), "BY")) groupIdx = j
    // `SELECT 1 WITH TOTALS` with neither GROUP BY nor aggregation is
    // NOT_IMPLEMENTED in the reference (error 48,
    // 01013_totals_without_aggregation)
    if (groupIdx < 0) {
      val head = toks.slice(math.max(openIdx, 0), withIdx)
        .map(_.text).mkString
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
      toks.indices.filterNot(dead).map(toks(_).text).mkString
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
        var itemsText = toks.slice(byIdx + 1, withIdx).map(_.text).mkString
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
        // walk back to the item start (comma / BY at depth 0)
        var s = i - 1
        var itemStart = 0
        var dd = 0
        var found = false
        while (!found && s >= 0) {
          toks(s) match {
            case Punct(")") | Punct("]") => dd += 1
            case Punct("(") | Punct("[") if dd > 0 => dd -= 1
            case Punct(",") if dd == 0 => itemStart = s + 1; found = true
            case Word(w) if dd == 0 && w.equalsIgnoreCase("BY") =>
              itemStart = s + 1; found = true
            case _ => ()
          }
          if (!found) s -= 1
        }
        var itemText = toks.slice(itemStart, i).map(_.text).mkString.trim
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
              var e = nextSig(toks, j + 1)
              val start = e
              // operand: signed literal / function call until next kw
              var dd2 = 0
              var done = false
              while (!done && e < toks.length) {
                toks(e) match {
                  case Punct("(") => dd2 += 1
                  case Punct(")") if dd2 > 0 => dd2 -= 1
                  case Punct(")") | Punct(",") | Punct(";") if dd2 == 0 => done = true
                  case ww: Word if dd2 == 0 &&
                      Seq("FROM", "TO", "STEP", "WITH", "LIMIT", "SETTINGS",
                        "FORMAT", "INTERPOLATE", "UNION", "OFFSET")
                        .contains(ww.text.toUpperCase) &&
                      e != start => done = true
                  case _ => ()
                }
                if (!done) e += 1
              }
              val v = toks.slice(nextSig(toks, j + 1), e).map(_.text).mkString.trim
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
      Some((toks.indices.filterNot(dead).map(toks(_).text).mkString,
        specs.toSeq))
    }
  }

  /** Apply the scalar-WITH rewrite to every parenthesized subquery that
    * begins with WITH (`FROM (WITH expr AS name SELECT …)`, reference
    * ParserWithElement applies at any query depth), innermost first,
    * then to the whole statement.
    */
  private def rewriteScalarWithDeep(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(") &&
          toks.lift(nextSig(toks, i + 1)).exists(isWordI(_, "WITH"))) {
        val j = balancedClose(toks, i)
        if (j >= 0) {
          val inner = toks.slice(i + 1, j).map(_.text).mkString
          val rewritten = rewriteScalarWith(rewriteScalarWithDeep(inner))
          if (rewritten != inner) {
            val pre = toks.take(i + 1).map(_.text).mkString
            val post = toks.drop(j).map(_.text).mkString
            return rewriteScalarWithDeep(pre + rewritten + post)
          }
        }
      }
      i += 1
    }
    rewriteScalarWith(sql)
  }

  private def rewriteScalarWith(sql: String): String = {
    val toks = tokenize(sql)
    val w0 = nextSig(toks, 0)
    if (w0 >= toks.length || !isWordI(toks(w0), "WITH")) return sql
    // parse items up to the depth-0 SELECT
    case class Item(tokens: Vector[Tok])
    val items = ArrayBuffer[Item]()
    var cur = ArrayBuffer[Tok]()
    var depth = 0
    var i = w0 + 1
    var selIdx = -1
    while (selIdx < 0 && i < toks.length) {
      toks(i) match {
        case Punct("(") | Punct("[") => depth += 1; cur += toks(i)
        case Punct(")") | Punct("]") => depth -= 1; cur += toks(i)
        case Punct(",") if depth == 0 =>
          items += Item(cur.toVector); cur = ArrayBuffer[Tok]()
        case Word(w) if depth == 0 && w.equalsIgnoreCase("SELECT") => selIdx = i
        case t => cur += t
      }
      if (selIdx < 0) i += 1
    }
    if (selIdx < 0) return sql
    items += Item(cur.toVector)
    // classify: CTE = `name AS ( SELECT`, scalar = `expr AS name`
    val ctes = ArrayBuffer[String]()
    val scalars = ArrayBuffer[(String, String)]()
    for (it <- items) {
      val sig = it.tokens.zipWithIndex.filterNot(_._1.isInstanceOf[Ws])
      val isCte = sig.length >= 3 && sig.head._1.isInstanceOf[Word] &&
        isWordI(sig(1)._1, "AS") && sig(2)._1 == Punct("(")
      if (isCte) ctes += it.tokens.map(_.text).mkString.trim
      else {
        // top-level `AS name` at the END of the item
        val asPos = sig.dropRight(1).lastIndexWhere(p => isWordI(p._1, "AS"))
        if (asPos >= 0 && asPos == sig.length - 2) {
          (sig.last._1: @unchecked) match {
            case Word(name) =>
              val expr = it.tokens.take(sig(asPos)._2).map(_.text).mkString.trim
              scalars += name -> expr
            case _ => return sql // unsupported shape — leave untouched
          }
        } else return sql
      }
    }
    if (scalars.isEmpty) return sql
    val defs = scalars.toMap
    def resolve(t: String, d: Int): String =
      if (d > 4) t
      else tokenize(t).map {
        case Word(w) if defs.contains(w) => "(" + resolve(defs(w), d + 1) + ")"
        case tok => tok.text
      }.mkString
    val resolved = defs.map { case (k, v) => k -> resolve(v, 0) }
    val body = substIdents(toks.drop(selIdx).map(_.text).mkString, resolved)
    (if (ctes.nonEmpty) "WITH " + ctes.mkString(", ") + " " else "") + body
  }

  /** Infix `a MOD b` → `a % b` (the function form mod(a, b) is a Spark
    * builtin and passes through).
    */
  /** A FROM-less ClickHouse SELECT reads the one-row `system.one`
    * table, so `SELECT dummy, sum(dummy) GROUP BY dummy` is valid
    * (reference InterpreterSelectQuery: missing FROM = system.one).
    * Spark's OneRowRelation has no `dummy` column — insert `FROM one`
    * (the registered one-row view) into any SELECT block that
    * references `dummy` at its own level and has no FROM.
    */
  private def addImplicitFromOne(sql: String): String = {
    if (!"""(?i)\bdummy\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    val depthAt = depths(toks)
    val clauseKw = Set("WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER",
      "LIMIT", "OFFSET", "SETTINGS", "UNION", "INTERSECT", "EXCEPT",
      "FORMAT", "INTO")
    // one insertion per transpile call is enough for the corpus shapes;
    // recurse for multiples
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "SELECT")) {
        val ds = depthAt(i)
        var j = i + 1
        var hasFrom = false
        var hasDummy = false
        var insertAt = -1 // first same-level clause keyword
        var blockEnd = -1
        while (blockEnd < 0 && j < toks.length) {
          val t = toks(j)
          if (depthAt(j) < ds || (depthAt(j) == ds && (t == Punct(";") ||
              (t match {
                case Word(w) => Seq("UNION", "INTERSECT", "EXCEPT")
                  .contains(w.toUpperCase)
                case _ => false
              })))) blockEnd = j
          else {
            if (depthAt(j) == ds) t match {
              case Word(w) if w.equalsIgnoreCase("FROM") => hasFrom = true
              case Word(w) if clauseKw.contains(w.toUpperCase) &&
                  insertAt < 0 => insertAt = j
              case _ => ()
            }
            // a nested `( SELECT …` resolves its own dummy — skip it
            if (t == Punct("(") && isWordI(toks(nextSig(toks, j + 1)), "SELECT")) {
              var bal = 1
              j += 1
              while (bal > 0 && j < toks.length) {
                toks(j) match {
                  case Punct("(") => bal += 1
                  case Punct(")") => bal -= 1
                  case _ => ()
                }
                if (bal > 0) j += 1
              }
            } else if (!hasFrom && isWordI(t, "dummy")) hasDummy = true
            j += 1
          }
        }
        if (blockEnd < 0) blockEnd = toks.length
        if (!hasFrom && hasDummy) {
          val at = if (insertAt >= 0) insertAt else blockEnd
          val pre = toks.take(at).map(_.text).mkString
          val post = toks.drop(at).map(_.text).mkString
          return addImplicitFromOne(pre + " FROM one " + post)
        }
        i = if (blockEnd > i) blockEnd else i + 1
      } else i += 1
    }
    sql
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
  private def rewriteValuesTable(sql: String): String = {
    if (!"""(?i)\bvalues\s*\(\s*'""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      val op = nextSig(toks, i + 1)
      lazy val firstArg = nextSig(toks, op + 1)
      if (isWordI(toks(i), "VALUES") && op < toks.length &&
          toks(op) == Punct("(") && firstArg < toks.length &&
          toks(firstArg).isInstanceOf[Str]) {
        val j = balancedClose(toks, op) // balanced call range
        if (j >= 0) {
          val specLit = toks(firstArg).text
          val spec = unquote(specLit)
          val restArgs = toks.slice(nextSig(toks, firstArg + 1), j)
          val tuples = restArgs.map(_.text).mkString
            .replaceAll("^\\s*,", "").trim
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
              val casts = parsedTypes.map { case (n, dt) =>
                s"CAST($n AS ${dt.get.sql}) AS $n"
              }
              val comps = computed.map { case (n, e) => s"$e AS $n" }
              val inner = s"(SELECT ${(casts ++ comps).mkString(", ")} " +
                s"FROM VALUES $tuples AS __chv(${plain.map(_._1).mkString(", ")}))"
              val pre = toks.take(i).map(_.text).mkString
              val post = toks.drop(j + 1).map(_.text).mkString
              return rewriteValuesTable(pre + inner + post)
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** ClickHouse `LIMIT n BY expr[, …]` (reference LimitByTransform:
    * first n stream rows per distinct key, keeping stream order) →
    * row_number over a monotonic id. Runs LAST in the pass chain, so
    * the wrapper it emits is plain Spark SQL. An optional trailing
    * `LIMIT m` stays the final limit.
    */
  private def rewriteLimitBy(sql: String): String = {
    if (!"""(?i)\blimit\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    val depthAt = depths(toks)
    for (i <- toks.indices) {
      if (isWordI(toks(i), "LIMIT")) {
        val td = depthAt(i)
        val nIdx = nextSig(toks, i + 1)
        val byIdx = if (nIdx < toks.length) nextSig(toks, nIdx + 1) else toks.length
        val isLimitBy = nIdx < toks.length && toks(nIdx).isInstanceOf[Num] &&
          byIdx < toks.length && isWordI(toks(byIdx), "BY")
        if (isLimitBy) {
          val n = toks(nIdx).text
          // enclosing group bounds (whole statement at depth 0)
          var openIdx = -1
          if (td > 0) {
            var bal = 0
            var k = i - 1
            while (openIdx < 0 && k >= 0) {
              toks(k) match {
                case Punct(")") => bal += 1
                case Punct("(") => if (bal > 0) bal -= 1 else openIdx = k
                case _ => ()
              }
              k -= 1
            }
          }
          // BY items: up to the next same-level clause keyword or the
          // enclosing close paren
          var j = byIdx + 1
          var end = -1
          while (end < 0 && j < toks.length) {
            toks(j) match {
              case Word(w) if depthAt(j) == td && Seq("LIMIT", "UNION",
                "SETTINGS", "FORMAT", "INTO", "OFFSET")
                .contains(w.toUpperCase) => end = j
              case Punct(";") if depthAt(j) == td => end = j
              case Punct(")") if depthAt(j) < td => end = j
              case _ => j += 1
            }
          }
          if (end < 0) end = toks.length
          val items = toks.slice(byIdx + 1, end).map(_.text).mkString.trim
          val body = toks.slice(openIdx + 1, i).map(_.text).mkString.trim
          val postStart = if (td > 0) { // the enclosing close paren
            var bal = 0; var k = end
            while (k < toks.length && (toks(k) match {
              case Punct("(") => bal += 1; true
              case Punct(")") => bal -= 1; bal >= 0
              case _ => true
            })) k += 1
            k
          } else toks.length
          val tail = toks.slice(end, postStart).map(_.text).mkString.trim
          val pre = toks.take(openIdx + 1).map(_.text).mkString
          val post = toks.drop(postStart).map(_.text).mkString
          val rewritten =
            s"SELECT * EXCEPT (__lby_rn, __lby_id) FROM (" +
              s"SELECT *, row_number() OVER (PARTITION BY $items " +
              s"ORDER BY __lby_id) AS __lby_rn FROM (" +
              s"SELECT *, monotonically_increasing_id() AS __lby_id " +
              s"FROM ($body))) " +
              s"WHERE __lby_rn <= $n ORDER BY __lby_id" +
              (if (tail.nonEmpty) " " + tail else "")
          return rewriteLimitBy(pre + rewritten + post)
        }
      }
    }
    sql
  }

  /** Spark's expression parser reads `(SELECT 'str' …)` as the typed
    * literal `SELECT 'str'` (UNSUPPORTED_TYPED_LITERAL) — an
    * IN/EXISTS/scalar subquery whose select list LEADS with a string
    * literal fails to parse. Spelling the literal as
    * `CAST('str' AS STRING)` sidesteps the grammar without changing
    * value, type, or the subquery's row semantics (an extra paren level
    * would instead turn `IN (subquery)` into a scalar subquery).
    */
  private def guardSelectStringHead(sql: String): String = {
    val toks = tokenize(sql)
    val wrapAt = scala.collection.mutable.Set[Int]()
    for (k <- toks.indices if toks(k) == Punct("(")) {
      val s = nextSig(toks, k + 1)
      if (s < toks.length && isWordI(toks(s), "SELECT")) {
        val lit = nextSig(toks, s + 1)
        if (lit < toks.length && toks(lit).isInstanceOf[Str]) wrapAt += lit
      }
    }
    if (wrapAt.isEmpty) sql
    else toks.zipWithIndex.map { case (t, k) =>
      if (wrapAt(k)) "CAST(" + t.text + " AS STRING)" else t.text
    }.mkString
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
  private def rewriteDynamicInterval(sql: String): String = {
    if (!"""(?i)\binterval\b""".r.findFirstIn(sql).isDefined) return sql
    val units = Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
      "QUARTER", "YEAR", "SECONDS", "MINUTES", "HOURS", "DAYS", "WEEKS",
      "MONTHS", "QUARTERS", "YEARS")
    val toks = tokenize(sql)
    def sigs(from: Int, to: Int): Seq[Tok] =
      toks.slice(from, to).filterNot(_.isInstanceOf[Ws])
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "INTERVAL")) {
        // scan forward for the unit word at depth 0 relative to here
        var d = 0
        var j = i + 1
        var unitAt = -1
        var stop = false
        while (unitAt < 0 && !stop && j < toks.length) {
          toks(j) match {
            case Punct("(") | Punct("[") => d += 1
            case Punct(")") | Punct("]") =>
              if (d == 0) stop = true else d -= 1
            case Punct(",") | Punct(";") if d == 0 => stop = true
            case Word(w) if d == 0 && units.contains(w.toUpperCase) =>
              unitAt = j
            case Word(w) if d == 0 && Seq("SELECT", "FROM", "WHERE",
              "GROUP", "ORDER", "LIMIT", "AND", "OR", "AS")
              .contains(w.toUpperCase) => stop = true
            case _ => ()
          }
          if (unitAt < 0 && !stop) j += 1
        }
        if (unitAt > 0) {
          val exprToks = sigs(i + 1, unitAt)
          val literalForm = exprToks.size == 1 && (exprToks.head match {
            case _: Num | _: Str => true
            case Punct("-") => false
            case _ => false
          })
          if (!literalForm && exprToks.nonEmpty) {
            val exprText = toks.slice(i + 1, unitAt).map(_.text).mkString.trim
            val unit = toks(unitAt).text.toUpperCase.stripSuffix("S") match {
              case u @ ("SECOND" | "MINUTE" | "HOUR" | "DAY" | "WEEK" |
                        "MONTH" | "QUARTER" | "YEAR") => u
              case u => u
            }
            val pre = toks.take(i).map(_.text).mkString
            val post = toks.drop(unitAt + 1).map(_.text).mkString
            return rewriteDynamicInterval(
              pre + s"(($exprText) * INTERVAL '1' $unit)" + post)
          }
        }
      }
      i += 1
    }
    sql
  }

  /** `JOIN … USING a, b` (ClickHouse allows the list bare, reference
    * ParserJoin) → `USING (a, b)` — Spark requires the parentheses.
    * Consumes an identifier chain `name (, name)*` after USING; an
    * already-parenthesized list or anything non-identifier passes
    * through untouched.
    */
  private def parenthesizeUsing(sql: String): String = {
    if (!"""(?i)\busing\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    val stop = Set("SELECT", "FROM", "WHERE", "GROUP", "ORDER", "HAVING",
      "LIMIT", "SETTINGS", "UNION", "FORMAT", "INTO", "JOIN", "INNER",
      "LEFT", "RIGHT", "FULL", "CROSS", "ANY", "ALL", "ASOF", "SEMI",
      "ANTI", "GLOBAL", "ON", "PREWHERE", "AND", "OR", "NOT", "AS")
    def isIdent(k: Int): Boolean = k < toks.length && (toks(k) match {
      case Word(w) => !stop.contains(w.toUpperCase)
      case _ => false
    })
    val out = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      out.append(t.text)
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
          out.append(" (")
          out.append(names.map(toks(_).text).mkString(", "))
          out.append(")")
          i = j
        }
      }
    }
    out.toString
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
  private def rewriteAnyJoin(sql: String): String = {
    if (!"""(?i)\bany\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    def wordAt(k: Int): String = if (k >= 0 && k < toks.length) (toks(k) match {
      case Word(x) => x.toUpperCase
      case _ => ""
    }) else ""
    def text(a: Int, b: Int): String =
      toks.slice(a, b + 1).map(_.text).mkString
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
          def dropAny(): String = {
            val rest = toks.patch(i, Nil, 1).map(_.text).mkString
            rewriteAnyJoin(rest)
          }
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
            var alias = ""
            val a0 = nextSig(toks, relEnd + 1)
            if (wordAt(a0) == "AS") {
              val a1 = nextSig(toks, a0 + 1)
              toks.lift(a1) match {
                case Some(Word(x)) => alias = x; aliasEnd = a1
                case _ => ()
              }
            } else toks.lift(a0) match {
              case Some(Word(x)) if !stopW.contains(x.toUpperCase) =>
                alias = x; aliasEnd = a0
              case _ => ()
            }
            val cIdx = nextSig(toks, aliasEnd + 1)
            val relName = if (isSub) "" else (toks(relEnd) match {
              case Word(x) => x
              case _ => ""
            })
            val qualifier = if (alias.nonEmpty) alias else relName
            // join keys
            var keys = Seq.empty[String]
            if (wordAt(cIdx) == "USING") {
              val p0 = nextSig(toks, cIdx + 1)
              if (toks.lift(p0).contains(Punct("("))) {
                val pc = balancedClose(toks, p0)
                if (pc > p0) {
                  val parts = ChLex.splitTop(text(p0 + 1, pc - 1))
                    .map(_.trim).filter(_.nonEmpty)
                  val ident = """^`?[\w.]+`?$""".r
                  if (parts.forall(p => ident.findFirstIn(p).isDefined))
                    keys = parts
                }
              }
            } else if (wordAt(cIdx) == "ON") {
              // conjuncts of simple equalities; right-side column =
              // the side qualified by this relation's alias/name
              var e = cIdx + 1
              var d = 0
              val termW = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
                "UNION", "SETTINGS", "JOIN", "INNER", "LEFT", "RIGHT",
                "FULL", "CROSS", "SEMI", "ANTI", "ASOF", "ANY", "GLOBAL",
                "PREWHERE", "FORMAT")
              var end = toks.length - 1
              var done = false
              while (e < toks.length && !done) {
                toks(e) match {
                  case Punct("(") => d += 1
                  case Punct(")") if d == 0 => end = e - 1; done = true
                  case Punct(")") => d -= 1
                  case Punct(",") | Punct(";") if d == 0 =>
                    end = e - 1; done = true
                  case Word(x) if d == 0 && termW.contains(x.toUpperCase) =>
                    end = e - 1; done = true
                  case _ => ()
                }
                if (!done) e += 1
              }
              val condTxt = text(nextSig(toks, cIdx + 1), end)
              val eqRe = """^\s*(`?[\w.]+`?)\s*=\s*(`?[\w.]+`?)\s*$""".r
              val conj = condTxt.split("""(?i)\bAND\b""").map(_.trim)
              val picked = conj.map {
                case eqRe(l, r) =>
                  def strip(x: String) = x.replaceAll("`", "")
                  val ls = strip(l); val rs = strip(r)
                  if (qualifier.nonEmpty &&
                      rs.startsWith(qualifier + "."))
                    Some(rs.drop(qualifier.length + 1))
                  else if (qualifier.nonEmpty &&
                      ls.startsWith(qualifier + "."))
                    Some(ls.drop(qualifier.length + 1))
                  else None
                case _ => None
              }
              if (picked.forall(_.isDefined) && picked.nonEmpty)
                keys = picked.flatten.toSeq
            }
            if (keys.isEmpty || keys.exists(_.contains(".")))
              return dropAny()
            val relTxt = text(r0, relEnd)
            val aliasOut =
              if (alias.nonEmpty) alias
              else if (relName.nonEmpty) relName
              else "__graft_any_r"
            val keysTxt = keys.mkString(", ")
            val newRel =
              s"(SELECT * EXCEPT (__graft_any_rid, __graft_any_rn) FROM " +
              s"(SELECT *, row_number() OVER (PARTITION BY $keysTxt " +
              s"ORDER BY __graft_any_rid) AS __graft_any_rn FROM " +
              s"(SELECT *, monotonically_increasing_id() AS " +
              s"__graft_any_rid FROM $relTxt) __graft_any_s) __graft_any_w " +
              s"WHERE __graft_any_rn = 1) $aliasOut"
            val pre = toks.take(i).map(_.text).mkString
            val mid = toks.slice(i + 1, r0).map(_.text).mkString
            val post = toks.drop(aliasEnd + 1).map(_.text).mkString
            return rewriteAnyJoin(pre + mid + newRel + post)
          }
        case _ => i += 1
      }
    }
    sql
  }

  /** `remote('addr', table)` / `remoteSecure(...)` — a distribution
    * wrapper around the named table (reference TableFunctionRemote); a
    * single engine reads the table directly. Handles the two-argument
    * address+table form (the corpus shape); the db-expression form
    * `remote(addr, currentDatabase(), 't')` reduces to the table name.
    */
  private def rewriteRemote(sql: String): String = {
    if (!"""(?i)\bremote(secure)?\s*\(""".r.findFirstIn(sql).isDefined)
      return sql
    val two =
      """(?is)\bremote(?:Secure)?\s*\(\s*'[^']*'\s*,\s*([`\w.]+)\s*\)""".r
    val three =
      """(?is)\bremote(?:Secure)?\s*\(\s*'[^']*'\s*,\s*currentDatabase\s*\([^)]*\)\s*,\s*'?([`\w.]+?)'?\s*\)""".r
    three.replaceAllIn(two.replaceAllIn(sql,
        m => java.util.regex.Matcher.quoteReplacement(m.group(1))),
      m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
  }

  /** `expr COLLATE 'locale'` → `chCollateKey(expr, 'locale')`: the sort
    * happens on the locale's collation key (reference Collator.cpp —
    * 01532/01533/01542/01543). The preceding primary is the identifier/
    * call/paren group right before COLLATE. */
  private def rewriteCollate(sql: String): String = {
    if (!"""(?i)\bcollate\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (isWordI(toks(i), "COLLATE")) {
        val locIdx = nextSig(toks, i + 1)
        toks.lift(locIdx) match {
          case Some(Str(loc)) =>
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
              val pre = toks.take(start).map(_.text).mkString
              val primary = toks.slice(start, prevSig(toks, i - 1) + 1)
                .map(_.text).mkString
              val post = toks.drop(locIdx + 1).map(_.text).mkString
              return rewriteCollate(
                s"$pre chCollateKey($primary, $loc) $post")
            }
          case _ => ()
        }
      }
      i += 1
    }
    sql
  }

  /** ClickHouse applies ORDER BY / LIMIT to each UNION branch
    * separately (SelectWithUnionQuery: modifiers belong to the SELECT
    * they follow); Spark's grammar reads `… LIMIT n UNION ALL …` as a
    * syntax error. Wrap every branch of a union whose region carries a
    * branch-level LIMIT/ORDER in parentheses — same semantics in both
    * readings. */
  private def rewriteUnionBranches(sql: String): String =
    if (!"""(?i)\bunion\b""".r.findFirstIn(sql).isDefined) sql
    else wrapUnionBranches(sql, unionRegions(sql))

  /** One wrap of [[rewriteUnionBranches]]: the first pending region of
    * `regions` (`sql`'s [[unionRegions]]), then the next.
    */
  private def wrapUnionBranches(sql: String,
      regions: (Vector[Tok], scala.collection.Map[Int, Vector[Int]], Seq[Int])): String = {
    val (toks, unions, pending) = regions
    pending.headOption match {
      case None => sql
      case Some(r) =>
        val us = unions(r)
        val regionStart = firstBranchStart(toks, r, us)
        val regionEnd = if (r < 0) toks.length else {
          // matching close of r
          var d = 0; var j = r; var e = toks.length
          while (j < toks.length && e == toks.length) {
            toks(j) match {
              case Punct("(") => d += 1
              case Punct(")") => d -= 1; if (d == 0) e = j
              case _ => ()
            }
            j += 1
          }
          e
        }
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
        val sb = new StringBuilder
        for (k <- 0 to toks.length) {
          if (closes.contains(k)) sb.append(" ) ")
          if (k < toks.length) {
            if (opens.contains(k)) sb.append(" ( ")
            sb.append(toks(k).text)
          }
        }
        val wrapped = sb.toString
        val next = unionRegions(wrapped)
        // a re-wrap that leaves as many regions to wrap made no progress
        // (an empty branch, as in `( UNION ALL …`, re-wraps forever):
        // hand the statement on unchanged for Spark's parser to reject
        if (next._3.size < pending.size) wrapUnionBranches(wrapped, next)
        else sql
    }
  }

  /** The tokens of `sql`, the UNIONs of each region (region id = index
    * of the enclosing '(', -1 = top level) and, in the regions' map
    * order, the regions whose branches [[rewriteUnionBranches]] still
    * wraps in parentheses.
    */
  private def unionRegions(sql: String)
      : (Vector[Tok], scala.collection.Map[Int, Vector[Int]], Seq[Int]) = {
    val toks = tokenize(sql)
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
    (toks, unions, pending)
  }

  /** Where the first branch of union region `r` (UNIONs at `us`)
    * starts. A WITH prologue binds CTEs for EVERY branch — it must stay
    * outside the first branch's parens (40054/40089/48016), so branch 1
    * starts at the region-level SELECT after it.
    */
  private def firstBranchStart(toks: Vector[Tok], r: Int, us: Vector[Int]): Int = {
    val s0 = nextSig(toks, if (r < 0) 0 else r + 1)
    if (toks.lift(s0).exists(isWordI(_, "WITH"))) {
      // the branch is the first depth-0 SELECT, or a depth-0 '('
      // not preceded by AS (CTE bodies are `name AS ( … )`; an
      // already-wrapped branch is a bare '(' — recursion pass 2)
      var k = s0 + 1
      var d = 0
      var sel = -1
      var lastSig: Tok = Word("WITH")
      while (k < us.head && sel < 0) {
        toks(k) match {
          case Punct("(") =>
            if (d == 0 && !isWordI(lastSig, "AS")) sel = k
            d += 1; lastSig = Punct("(")
          case Punct(")") => d -= 1; lastSig = Punct(")")
          case Word(w) if d == 0 && w.equalsIgnoreCase("SELECT") =>
            sel = k
          case _: Ws => ()
          case t => lastSig = t
        }
        k += 1
      }
      if (sel >= 0) sel else s0
    } else s0
  }

  /** `(x) -> body` → `x -> body`: ClickHouse allows a parenthesized
    * single lambda parameter (01246/01273 use `(x) -> length(x)`);
    * Spark's grammar only parses `x ->` or `(x, y) ->`. */
  private def rewriteParenLambda(sql: String): String = {
    if (!sql.contains("->")) return sql
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(")) {
        val w = nextSig(toks, i + 1)
        val close = if (w < toks.length && toks(w).isInstanceOf[Word])
          nextSig(toks, w + 1) else -1
        if (close > 0 && close < toks.length && toks(close) == Punct(")")) {
          val dash = nextSig(toks, close + 1)
          if (dash + 1 < toks.length && toks(dash) == Punct("-") &&
              toks(dash + 1) == Punct(">")) {
            val rewritten =
              toks.take(i) ++ Vector(toks(w), Ws(" ")) ++ toks.drop(close + 1)
            return rewriteParenLambda(rewritten.map(_.text).mkString)
          }
        }
      }
      i += 1
    }
    sql
  }

  private def rewriteInfixMod(sql: String): String = {
    val toks = tokenize(sql)
    toks.zipWithIndex.map {
      case (Word(w), k) if w.equalsIgnoreCase("MOD") &&
          (toks.lift(prevSig(toks, k - 1)) match {
        case Some(Word(p)) => !Set("SELECT", "WHERE", "AND", "OR", "NOT",
          "WHEN", "THEN", "ELSE", "BY", "ON", "AS", "IN", "LIKE",
          "HAVING").contains(p.toUpperCase)
        case Some(_: Num) | Some(_: Str) => true
        case Some(Punct(")")) | Some(Punct("]")) => true
        case _ => false
      }) => "%"
      case (t, _) => t.text
    }.mkString
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
    * right-associative). `::` casts are never split.
    */
  private def rewriteTernary(sql: String): String = {
    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 30) {
      changed = false
      guard += 1
      val toks = tokenize(out)
      def isColonAt(k: Int): Boolean = toks(k) == Punct(":") &&
        !(k + 1 < toks.length && toks(k + 1) == Punct(":")) &&
        !(k > 0 && toks(k - 1) == Punct(":"))
      var q = -1
      var k = 0
      while (q < 0 && k < toks.length) {
        if (toks(k) == Punct("?")) q = k
        k += 1
      }
      if (q >= 0) {
        // condition: walk left to a boundary at the same depth
        var depth = 0
        var s = q - 1
        var condStart = -1
        while (condStart < 0 && s >= 0) {
          toks(s) match {
            case Punct(")") | Punct("]") => depth += 1
            case Punct("(") | Punct("[") if depth > 0 => depth -= 1
            // a lambda arrow `x ->` bounds the condition: the ternary
            // is the lambda BODY (`arrayMap(x -> c ? a : b, …)`)
            case Punct(">") if depth == 0 && s > 0 &&
                toks(s - 1) == Punct("-") => condStart = s + 1
            case t if depth == 0 && ternaryCondBoundary(t) => condStart = s + 1
            case _ => ()
          }
          if (condStart < 0) s -= 1
        }
        if (condStart < 0) condStart = 0
        // then-branch: to the matching ':' (skip nested ?:, :: casts)
        depth = 0
        var pend = 0
        var c = q + 1
        var colon = -1
        while (colon < 0 && c < toks.length) {
          toks(c) match {
            case Punct("(") | Punct("[") => depth += 1
            case Punct(")") | Punct("]") => depth -= 1
            case Punct("?") if depth == 0 => pend += 1
            case Punct(":") if depth == 0 && isColonAt(c) =>
              if (pend == 0) colon = c else pend -= 1
            case _ => ()
          }
          if (colon < 0) c += 1
        }
        if (colon > 0) {
          // else-branch: to a boundary at the same depth
          depth = 0
          var e = colon + 1
          var elseEnd = -1
          while (elseEnd < 0 && e < toks.length) {
            toks(e) match {
              case Punct("(") | Punct("[") => depth += 1
              case Punct(")") | Punct("]") if depth == 0 => elseEnd = e
              case Punct(")") | Punct("]") => depth -= 1
              case Punct(",") | Punct(";") if depth == 0 => elseEnd = e
              case w: Word if depth == 0 && Set("AS", "FROM", "WHERE",
                  "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "SETTINGS",
                  "THEN", "ELSE", "WHEN", "END", "FORMAT", "INTO")
                  .contains(w.text.toUpperCase) => elseEnd = e
              case _ => ()
            }
            if (elseEnd < 0) e += 1
          }
          if (elseEnd < 0) elseEnd = toks.length
          val cond = toks.slice(condStart, q).map(_.text).mkString.trim
          val thenB = toks.slice(q + 1, colon).map(_.text).mkString.trim
          val elseB = toks.slice(colon + 1, elseEnd).map(_.text).mkString.trim
          if (cond.nonEmpty && thenB.nonEmpty && elseB.nonEmpty) {
            // leading space: condStart can sit right after a keyword
            // whose trailing whitespace lives inside the cond slice
            // (`SELECT number % 2 ? …` would otherwise glue to `SELECTif`)
            out = toks.take(condStart).map(_.text).mkString +
              s" if($cond, $thenB, $elseB)" +
              toks.drop(elseEnd).map(_.text).mkString
            changed = true
          }
        }
      }
    }
    out
  }

  /** `CAST(expr, 'Type')` with an arbitrarily nested first argument →
    * `CAST(expr AS <mapped>)` (the postPass regex only handles simple
    * exprs; this token pass balances parens).
    */
  private def rewriteTwoArgCast(sql: String): String = {
    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 20) {
      changed = false
      guard += 1
      val toks = tokenize(out)
      var i = 0
      while (i < toks.length && !changed) {
        val p = nextSig(toks, i + 1)
        if (isWordI(toks(i), "CAST") && p < toks.length && toks(p) == Punct("(")) {
          // split the argument list at top level
          var depth = 0
          var k = p + 1
          var comma = -1
          var close = -1
          while (close < 0 && k < toks.length) {
            toks(k) match {
              case Punct("(") | Punct("[") => depth += 1
              case Punct(")") if depth == 0 => close = k
              case Punct(")") | Punct("]") => depth -= 1
              case Punct(",") if depth == 0 && comma < 0 => comma = k
              case _ => ()
            }
            k += 1
          }
          if (close > 0 && comma > 0) {
            val second = toks.slice(comma + 1, close).filterNot(_.isInstanceOf[Ws])
            second match {
              case Vector(Str(lit)) =>
                val argText = toks.slice(p + 1, comma).map(_.text).mkString.trim
                val mapped = transpileTypeString(lit.substring(1, lit.length - 1))
                out = toks.take(i).map(_.text).mkString +
                  s"CAST($argText AS $mapped)" +
                  toks.drop(close + 1).map(_.text).mkString
                changed = true
              case _ => ()
            }
          }
        }
        i += 1
      }
    }
    out
  }

  /** ClickHouse `arrayJoin(expr)` used INSIDE a larger expression (or in
    * several select items at once) cannot map to Spark's Explode, which
    * must be a top-level generator. Hoist every statement-level call to
    * a LATERAL VIEW (one per distinct argument text, so repeated
    * arrayJoin(x) stays a single flattening like the reference's common
    * subexpression rule — ArrayJoinAction.cpp) and substitute the
    * exploded column. Calls inside subqueries are left for the explode
    * mapping or a later statement-level pass over that subquery.
    */
  /** Apply the nested-arrayJoin hoist inside every `( SELECT … )`
    * subquery too (innermost first): `(SELECT f(arrayJoin([…])) AS x)`
    * needs its LATERAL VIEW at the subquery level (reference arrayJoin
    * expands rows before the enclosing expression evaluates).
    */
  private def rewriteNestedArrayJoinDeep(sql: String): String = {
    if (!"""(?i)\barrayJoin\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(") && {
        val f = nextSig(toks, i + 1)
        f < toks.length && (isWordI(toks(f), "SELECT") ||
          isWordI(toks(f), "WITH"))
      }) {
        val j = balancedClose(toks, i)
        if (j >= 0) {
          val inner = toks.slice(i + 1, j).map(_.text).mkString
          val rewritten = rewriteNestedArrayJoin(rewriteNestedArrayJoinDeep(inner))
          if (rewritten != inner) {
            val pre = toks.take(i + 1).map(_.text).mkString
            val post = toks.drop(j).map(_.text).mkString
            return rewriteNestedArrayJoinDeep(pre + rewritten + post)
          }
        }
      }
      i += 1
    }
    rewriteNestedArrayJoin(sql)
  }

  private def rewriteNestedArrayJoin(sql: String): String = {
    val toks = tokenize(sql)
    // whether a token sits inside a (SELECT …) group
    val parent = parents(toks)
    def isSub(open: Int) = {
      val first = nextSig(toks, open + 1)
      first < toks.length &&
        (isWordI(toks(first), "SELECT") || isWordI(toks(first), "WITH"))
    }
    def inSubquery(k: Int) =
      Iterator.iterate(parent(k))(parent(_)).takeWhile(_ >= 0).exists(isSub)
    // collect top-scope arrayJoin(...) calls
    case class Call(start: Int, end: Int, argText: String) // token range incl ')'
    val calls = ArrayBuffer[Call]()
    var i = 0
    while (i < toks.length) {
      val p = nextSig(toks, i + 1)
      if (isWordI(toks(i), "arrayJoin") && !inSubquery(i) &&
          p < toks.length && toks(p) == Punct("(")) {
        var depth = 0
        var k = p + 1
        var close = -1
        while (close < 0 && k < toks.length) {
          toks(k) match {
            case Punct("(") | Punct("[") => depth += 1
            case Punct(")") if depth == 0 => close = k
            case Punct(")") | Punct("]") => depth -= 1
            case _ => ()
          }
          k += 1
        }
        if (close > 0) {
          calls += Call(i, close, toks.slice(p + 1, close).map(_.text).mkString.trim)
          i = close
        }
      }
      i += 1
    }
    if (calls.isEmpty) return sql
    // Leave a LONE top-level call to the plain explode mapping: a single
    // `SELECT arrayJoin(x) [AS a] FROM …` analyzes fine as a generator.
    // Hoist whenever any call is nested or there are several.
    val lone = calls.size == 1 && {
      val c = calls.head
      val before = toks.take(c.start).filterNot(_.isInstanceOf[Ws])
      val afterIdx = nextSig(toks, c.end + 1)
      val beforeOk = before.lastOption.forall(t =>
        isWordI(t, "SELECT") || isWordI(t, "DISTINCT") || t == Punct(","))
      val afterOk = afterIdx >= toks.length || (toks(afterIdx) match {
        case Word(w) => Seq("AS", "FROM").exists(w.equalsIgnoreCase) ||
          arrayJoinBoundary(w.toUpperCase)
        case Punct(",") | Punct(";") => true
        case _ => false
      })
      beforeOk && afterOk
    }
    if (lone) return sql
    val distinctArgs = calls.map(_.argText).distinct
    val n = sql.length
    val varOf = distinctArgs.zipWithIndex.map { case (a, k) => a -> s"__ajg${n}_$k" }.toMap
    // rebuild with calls replaced
    val sb = new StringBuilder
    var idx = 0
    for (c <- calls) {
      sb.append(toks.slice(idx, c.start).map(_.text).mkString)
      sb.append(varOf(c.argText))
      idx = c.end + 1
    }
    sb.append(toks.slice(idx, toks.length).map(_.text).mkString)
    val laterals = distinctArgs.zipWithIndex.map { case (a, k) =>
      s" LATERAL VIEW explode($a) __ajgv${n}_$k AS __ajg${n}_$k"
    }.mkString
    // place after the top-level FROM source (or synthesize one)
    val toks2 = tokenize(sb.toString)
    var depth2 = 0
    val depthAt2 = toks2.map { t =>
      val d = depth2
      t match {
        case Punct("(") => depth2 += 1
        case Punct(")") => depth2 -= 1
        case _ => ()
      }
      d
    }
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
        val first = toks2.indexWhere(!_.isInstanceOf[Ws])
        boundaryAfter(first + 1)
    }
    val insertText =
      (if (fromIdx.isEmpty) s" FROM (SELECT 1 AS __ajg_one$n)" else "") + laterals + " "
    toks2.take(insertAt).map(_.text).mkString + insertText +
      toks2.drop(insertAt).map(_.text).mkString
  }

  private val twoArgCast =
    """(?i)(?<![A-Za-z0-9_])CAST\(([^,()']+|'[^']*'),\s*'([A-Za-z0-9(), ]+)'\)""".r
  private val countEmpty = """(?i)\bcount\(\s*\)""".r

  /** String-level cleanups after the token pass. String literals are
    * opaque: a regex applied to the raw SQL would rewrite
    * `'select count()'` (a LITERAL) to `'select count(*)'` — observed on
    * the corpus's echo-style tests — so every regex here runs through
    * [[ChLex.mapOutsideStrings]].
    */
  private def postPass(sql: String): String = {
    // CAST(x, 'Type') two-arg form → CAST(x AS <mapped>); the type string
    // goes back through the token-level type rewriter.
    // twoArgCast's pattern itself spans a quoted type ('UInt8'), so it
    // runs on the raw text; only count() needs literal protection
    val decTarget = """(?i)^\s*DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*$""".r
    val c = twoArgCast.replaceAllIn(sql, m => {
      val mapped = transpileTypeString(m.group(2))
      java.util.regex.Matcher.quoteReplacement(mapped match {
        // decimal targets keep CH truncation semantics (the AS-form's
        // rewriteCastDecimal ran before this pass — route the two-arg
        // spelling through the same chDecimal lowering)
        case decTarget(p, s) => s"chDecimal(${m.group(1)}, $p, $s)"
        case _ => s"CAST(${m.group(1)} AS $mapped)"
      })
    })
    rewriteLimitOffset(
      mapOutsideStrings(c)(countEmpty.replaceAllIn(_, "count(*)")))
  }

  /** MySQL-style `LIMIT offset, count` → `LIMIT count OFFSET offset` —
    * token-based so string literals stay untouched.
    */
  private def rewriteLimitOffset(sql: String): String = {
    if (!sql.toUpperCase.contains("LIMIT")) return sql
    val toks = tokenize(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val a = nextSig(toks, i + 1)
      lazy val comma = nextSig(toks, a + 1)
      lazy val b = nextSig(toks, comma + 1)
      (toks(i), if (a < toks.length) toks(a) else Ws(""),
        if (comma < toks.length) toks(comma) else Ws(""),
        if (b < toks.length) toks(b) else Ws("")) match {
        case (w: Word, Num(o), Punct(","), Num(n))
            if isWordI(w, "LIMIT") && o.forall(_.isDigit) && n.forall(_.isDigit) =>
          sb.append(s"LIMIT $n OFFSET $o")
          i = b + 1
        case _ =>
          sb.append(toks(i).text); i += 1
      }
    }
    sb.toString
  }

  /** Map a bare CH type string (e.g. "Nullable(UInt8)") via the token
    * rewriter used for inline type syntax.
    */
  private[sql] def transpileTypeString(t: String): String =
    rewriteTypes(tokenize(t)).map(_.text).mkString

  /** Decode a ClickHouse string literal's escapes (notably `\xHH`,
    * which Spark's lexer does not know) and re-encode as a
    * Spark-parseable literal. The decode follows the reference's
    * parseComplexEscapeSequence (src/IO/ReadHelpers.cpp): C escapes,
    * hex pairs, and backslash-anything-else = that char.
    */
  private def normalizeStringLiteral(lit: String): String = {
    if (lit.length < 2) return lit
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
      return "CAST(unhex('" +
        bytes.map(b => f"${b & 0xff}%02X").mkString + "') AS STRING)"
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
    "'" + enc + "'"
  }

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
  private def rewriteOrderNulls(sql: String): String = {
    val toks = tokenize(sql)
    val inserts = ArrayBuffer[(Int, String)]() // insert text BEFORE token idx
    var i = 0
    while (i < toks.length) {
      val byIdx = nextSig(toks, i + 1)
      if (isWordI(toks(i), "ORDER") && byIdx < toks.length &&
          isWordI(toks(byIdx), "BY")) {
        var j = nextSig(toks, byIdx + 1)
        var done = j >= toks.length
        while (!done) {
          var depth = 0
          var hasNulls = false
          var lastDesc = false
          var lastSigIdx = -1
          var itemEnd = -1
          var k = j
          while (itemEnd < 0 && k < toks.length) {
            toks(k) match {
              case Punct("(") | Punct("[") => depth += 1; lastSigIdx = k
              case Punct(")") | Punct("]") =>
                if (depth == 0) { itemEnd = k; done = true }
                else { depth -= 1; lastSigIdx = k }
              case Punct(",") if depth == 0 => itemEnd = k
              case Punct(";") if depth == 0 => itemEnd = k; done = true
              case Word(w) if depth == 0 && orderBoundary(w.toUpperCase) =>
                itemEnd = k; done = true
              case Word(w) if depth == 0 && w.equalsIgnoreCase("NULLS") =>
                hasNulls = true; lastSigIdx = k
              case Word(w) if depth == 0 && w.equalsIgnoreCase("COLLATE") =>
                // direction keywords may follow COLLATE 'x'; keep scanning
                lastSigIdx = k
              case Word(w) if depth == 0 &&
                  (w.equalsIgnoreCase("DESC") || w.equalsIgnoreCase("DESCENDING")) =>
                lastDesc = true; lastSigIdx = k
              case Word(w) if depth == 0 &&
                  (w.equalsIgnoreCase("ASC") || w.equalsIgnoreCase("ASCENDING")) =>
                lastDesc = false; lastSigIdx = k
              case _: Ws => ()
              case _ => lastSigIdx = k
            }
            if (itemEnd < 0) k += 1
          }
          if (itemEnd < 0) { itemEnd = toks.length; done = true }
          if (lastSigIdx >= 0 && !hasNulls)
            inserts += ((lastSigIdx + 1,
              if (lastDesc) " NULLS FIRST" else " NULLS LAST"))
          if (!done) {
            j = nextSig(toks, itemEnd + 1) // past the comma
            if (j >= toks.length) done = true
          }
        }
      }
      i += 1
    }
    if (inserts.isEmpty) sql
    else {
      val byPos = inserts.groupBy(_._1)
      val sb = new StringBuilder
      var idx = 0
      while (idx <= toks.length) {
        byPos.get(idx).foreach(_.foreach(p => sb.append(p._2)))
        if (idx < toks.length) sb.append(toks(idx).text)
        idx += 1
      }
      sb.toString
    }
  }

  /** ClickHouse resolves identifiers in WHERE/PREWHERE against the
    * SELECT list's aliases first (reference ActionsVisitor scope map:
    * `SELECT f(x) AS a … WHERE a > 0` filters on f(x), and the alias
    * SHADOWS a real column of the same name). Spark's WHERE only sees
    * input columns — substitute the alias expression textually, scoped
    * per SELECT block at its own paren depth. */
  private def rewriteWhereAliases(sql: String): String = {
    if (!"""(?i)\bas\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    val depth = depths(toks)
    val clauseEnd = Set("GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
      "SETTINGS", "FORMAT", "WINDOW", "INTERSECT", "EXCEPT")
    val replacements = scala.collection.mutable.Map[Int, String]()
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
        // name -> (expr text, expr start token, AS token)
        val aliases = scala.collection.mutable.Map[String, (String, Int, Int)]()
        var a = s + 1
        while (a < fromIdx) {
          if (isWordI(toks(a), "AS") && depth(a) == dS) {
            val nIdx = nextSig(toks, a + 1)
            toks.lift(nIdx) match {
              case Some(Word(name)) =>
                var st = s + 1; var b = a - 1; var dd = 0; var brk = false
                while (b > s && !brk) {
                  toks(b) match {
                    case Punct(")") | Punct("]") => dd += 1
                    case Punct("(") | Punct("[") => dd -= 1
                    case Punct(",") if dd == 0 => st = b + 1; brk = true
                    case Word(w) if dd == 0 &&
                        (w.equalsIgnoreCase("DISTINCT") ||
                         w.equalsIgnoreCase("SELECT")) =>
                      st = b + 1; brk = true
                    case _ => ()
                  }
                  b -= 1
                }
                val expr = toks.slice(st, a).map(_.text).mkString.trim
                if (expr.nonEmpty && !expr.equalsIgnoreCase(name) &&
                    name.forall(c => c.isLetterOrDigit || c == '_') &&
                    !aliases.contains(name))
                  aliases(name) = (expr, st, a)
              case _ => ()
            }
          }
          a += 1
        }
        if (aliases.nonEmpty) {
          // alias-in-alias references resolve with a seen-set: inside
          // its own expansion a name refers to the SOURCE column
          // (`CAST(x AS BIGINT) AS x` must not recurse)
          def resolve(t: String, seen: Set[String]): String =
            tokenize(t).map {
              case Word(w) if aliases.contains(w) && !seen.contains(w) =>
                "(" + resolve(aliases(w)._1, seen + w) + ")"
              case tok => tok.text
            }.mkString
          // substitute in the WHERE range, and FORWARD references in
          // the select list itself (`SELECT a = b, x AS a, y AS b` —
          // Spark's lateral column alias only resolves backward)
          def substRange(from: Int, until: Int, fwdOnly: Boolean): Unit = {
            var w = from
            while (w < until) {
              toks(w) match {
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
                    replacements(w) = "(" + resolve(aliases(x)._1, Set(x)) + ")"
                case _ => ()
              }
              w += 1
            }
          }
          if (whereStart >= 0) substRange(whereStart, whereEnd, fwdOnly = false)
          substRange(s + 1, fromIdx, fwdOnly = true)
        }
      }
    }
    if (replacements.isEmpty) sql
    else toks.indices.map(k => replacements.getOrElse(k, toks(k).text))
      .mkString
  }

  /** ClickHouse lets `expr AS name` appear ANYWHERE inside an
    * expression, defining an alias usable elsewhere in the statement
    * (reference ParserAlias / ActionsVisitor scope map). Spark only
    * accepts AS at select-list top level, so: strip each inline alias
    * (one nested in parens that are not a subquery and not a CAST) and
    * substitute its expression text for later bare references.
    */
  private def rewriteInlineAliases(sql: String): String = {
    val toks = tokenize(sql)
    val parent = parents(toks)
    // paren kind: true = expression parens (eligible), false = subquery/CAST
    val eligible = scala.collection.mutable.Map[Int, Boolean]()
    for (k <- toks.indices if toks(k) == Punct("(")) {
      val prev = prevSig(toks, k - 1)
      val prevIsCast = prev >= 0 && isWordI(toks(prev), "CAST")
      val first = nextSig(toks, k + 1)
      val isSubquery = first < toks.length &&
        (isWordI(toks(first), "SELECT") || isWordI(toks(first), "WITH"))
      eligible(k) = !prevIsCast && !isSubquery
    }
    // collect inline aliases: Word(AS) whose enclosing paren is eligible
    case class Inline(name: String, exprText: String, asIdx: Int, nameIdx: Int,
      exprStart: Int)
    val found = ArrayBuffer[Inline]()
    for (k <- toks.indices) {
      if (isWordI(toks(k), "AS") && parent(k) >= 0 &&
          eligible.getOrElse(parent(k), false)) {
        val nIdx = nextSig(toks, k + 1)
        toks.lift(nIdx) match {
          case Some(Word(name)) =>
            // expr = tokens since the last same-depth comma (or the paren
            // open) up to the AS
            var s = k - 1
            var depth = 0
            var start = parent(k) + 1
            var found0 = false
            while (s > parent(k) && !found0) {
              toks(s) match {
                case Punct(")") | Punct("]") => depth += 1
                case Punct("(") | Punct("[") => depth -= 1
                case Punct(",") if depth == 0 => start = s + 1; found0 = true
                case _ => ()
              }
              s -= 1
            }
            val exprText = toks.slice(start, k).map(_.text).mkString.trim
            if (exprText.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'))
              found += Inline(name, exprText, k, nIdx, start)
          case _ => ()
        }
      }
    }
    if (found.isEmpty) return sql
    // drop the whitespace run BEFORE the AS too — `g('x' AS a)` strips
    // to `g('x')`, not `g('x' )`
    val dropIdx = found.flatMap { f =>
      var s = f.asIdx - 1
      while (s > 0 && toks(s).isInstanceOf[Ws]) s -= 1
      (s + 1) to f.nameIdx
    }.toSet
    // an alias expr may CONTAIN other inline aliases (00396:
    // `toFixedString(unhex('…' AS hex) AS bytes, 16)`): substitute the
    // STRIPPED text, not the raw span — the nested `AS name` would be
    // invalid Spark in expression position
    val defs = found.map(f => f.name ->
      toks.slice(f.exprStart, f.asIdx).zipWithIndex.collect {
        case (t, off) if !dropIdx.contains(f.exprStart + off) => t.text
      }.mkString.trim).toMap
    // resolve alias-in-alias references (bounded)
    def resolve(t: String, depth: Int): String =
      if (depth > 4) t
      else tokenize(t).map {
        case Word(w) if defs.contains(w) => "(" + resolve(defs(w), depth + 1) + ")"
        case tok => tok.text
      }.mkString
    val defSites = found.flatMap(f => f.exprStart until f.asIdx).toSet
    val sb = new StringBuilder
    for (k <- toks.indices) {
      if (dropIdx(k)) ()
      else toks(k) match {
        case Word(w) if defs.contains(w) && !defSites(k) && {
            val nxt = nextSig(toks, k + 1)
            val nextIsParenOrDot = nxt < toks.length &&
              (toks(nxt) == Punct("(") || toks(nxt) == Punct("."))
            val prv = prevSig(toks, k - 1)
            val prevIsDot = prv >= 0 && toks(prv) == Punct(".")
            val prevIsAs = prv >= 0 && isWordI(toks(prv), "AS")
            !nextIsParenOrDot && !prevIsDot && !prevIsAs } =>
          sb.append("(").append(resolve(defs(w), 0)).append(")")
        case t => sb.append(t.text)
      }
    }
    sb.toString
  }

  /** ClickHouse tuple literals `(a, b)` → Spark `struct(a, b)` (struct
    * fields come out as col1/col2…, matching the `.N` access rewrite).
    * A paren group is a tuple when it holds a top-level comma and is
    * neither a call-argument list nor a subquery nor an IN list.
    */
  private def rewriteTupleLiterals(sql: String): String = {
    val toks = tokenize(sql)
    val prefix = ArrayBuffer[(Int, String)]() // "(" indexes to prefix with struct
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
    if (tupleAt.isEmpty) return sql
    val sb = new StringBuilder
    for (k <- toks.indices) {
      if (tupleAt(k)) sb.append("struct(")
      else sb.append(toks(k).text)
    }
    sb.toString
  }

  /** CH `x IN [a, b]` (array literal list) and `x IN tuple(…)` →
    * standard paren lists. Runs after the array-literal pass, so the
    * forms here are `IN array(…)` / `IN tuple(…)`.
    */
  private def rewriteInClauses(sql: String): String = {
    val toks = tokenize(sql)
    val dropWord = scala.collection.mutable.Set[Int]()
    // `x IN <literal>` (scalar right side = equality in CH,
    // FunctionsComparison in-with-scalar) needs Spark's parens
    val parenAt = scala.collection.mutable.Set[Int]()
    for (k <- toks.indices) {
      if (isWordI(toks(k), "IN")) {
        val f = nextSig(toks, k + 1)
        if (f < toks.length && (toks(f) match {
          case Word(w) => (w == "array" || w == "tuple") && {
            val p = nextSig(toks, f + 1)
            p < toks.length && toks(p) == Punct("(")
          }
          case _ => false
        })) dropWord += f
        else if (f < toks.length && (toks(f) match {
          case _: Str | _: Num => true
          case _ => false
        })) parenAt += f
      }
    }
    // CH ignores NULL items in an IN list — they can never match
    // (reference Set build skips nulls; 01629's `NOT IN ('…', NULL)` is
    // 1, not SQL's three-valued NULL). Drop bare NULL items from
    // literal IN lists (subqueries untouched); a list of ONLY nulls
    // becomes an empty subquery, which never matches (01457's
    // `IN (NULL)` is 0).
    val dropRange = scala.collection.mutable.Set[Int]()
    val overrideTok = scala.collection.mutable.Map[Int, String]()
    for (k <- toks.indices) {
      if (isWordI(toks(k), "IN")) {
        val f = nextSig(toks, k + 1)
        if (f < toks.length && toks(f) == Punct("(") && {
          val h = nextSig(toks, f + 1)
          h < toks.length && !isWordI(toks(h), "SELECT") &&
            !isWordI(toks(h), "WITH")
        }) {
          val pendingDrop = scala.collection.mutable.Set[Int]()
          var items = 0
          var nullItems = 0
          var depth = 1
          var itemStart = f + 1
          var itemSig = List.empty[Int]
          var j = f + 1
          var closeAt = -1
          def flushItem(endEx: Int, commaAt: Int): Unit = {
            items += 1
            if (itemSig.size == 1 && isWordI(toks(itemSig.head), "NULL")) {
              nullItems += 1
              (itemStart until endEx).foreach(pendingDrop += _)
              if (commaAt >= 0) pendingDrop += commaAt
            }
          }
          var prevComma = -1
          while (j < toks.length && depth > 0) {
            toks(j) match {
              case Punct("(") => depth += 1; itemSig ::= j
              case Punct(")") =>
                depth -= 1
                if (depth == 0) { flushItem(j, prevComma); closeAt = j }
              case Punct(",") if depth == 1 =>
                flushItem(j, if (itemSig.size == 1 &&
                  isWordI(toks(itemSig.head), "NULL")) j else -1)
                prevComma = j
                itemStart = j + 1
                itemSig = Nil
              case t if !t.isInstanceOf[Ws] => itemSig ::= j
              case _ => ()
            }
            j += 1
          }
          if (nullItems > 0 && nullItems == items && closeAt > 0) {
            overrideTok(f) = "(SELECT NULL WHERE FALSE"
            dropRange ++= (f + 1 until closeAt)
          } else dropRange ++= pendingDrop
        }
      }
    }
    if (dropWord.isEmpty && parenAt.isEmpty && dropRange.isEmpty &&
        overrideTok.isEmpty) return sql
    toks.zipWithIndex.map { case (t, k) =>
      if (overrideTok.contains(k)) overrideTok(k)
      else if (dropWord(k) || dropRange(k)) ""
      else if (parenAt(k)) "(" + t.text + ")"
      else t.text
    }.mkString
  }

  private val arrayJoinBoundary = Set("WHERE", "GROUP", "HAVING", "ORDER",
    "LIMIT", "OFFSET", "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "FORMAT",
    "INTO", "PREWHERE", "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "JOIN",
    "ASOF", "ANY", "GLOBAL", "SEMI", "ANTI", "WINDOW")

  /** One parsed `ARRAY JOIN` item: expression text plus optional alias. */
  private case class AjItem(expr: String, alias: Option[String])

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
    */
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

  private def rewriteNestedCols(sql: String): String = {
    if (nestedGroups.isEmpty ||
        !nestedGroups.keys.exists(g => sql.contains(g))) return sql
    var toks = tokenize(sql)
    // ---- (a) ARRAY JOIN bare-group expansion -------------------------
    val aliasMap = scala.collection.mutable.Map[String, String]()
    val sb = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val jIdx = nextSig(toks, i + 1)
      if (isWordI(toks(i), "ARRAY") && jIdx < toks.length &&
          isWordI(toks(jIdx), "JOIN")) {
        sb.append(toks.slice(i, jIdx + 1).map(_.text).mkString)
        var j = jIdx + 1
        // per comma-separated item at depth 0, until a boundary keyword
        var depth = 0
        var item = Vector.newBuilder[Tok]
        def flush(): Unit = {
          val ts = item.result()
          item = Vector.newBuilder[Tok]
          val sig = ts.filterNot(_.isInstanceOf[Ws])
          val expanded = sig match {
            case Vector(Word(g)) if nestedGroups.contains(g) =>
              Some(nestedGroups(g).map(s => s"`$g.$s`").mkString(" ", ", ", ""))
            case Vector(Word(g), as, Word(a))
                if isWordI(as, "AS") && nestedGroups.contains(g) =>
              aliasMap(a) = g
              Some(nestedGroups(g)
                .map(s => s"`$g.$s` AS `$a.$s`").mkString(" ", ", ", ""))
            case _ => None
          }
          sb.append(expanded.getOrElse(ts.map(_.text).mkString))
        }
        var stop = false
        while (j < toks.length && !stop) {
          toks(j) match {
            case Punct("(") => depth += 1; item += toks(j)
            case Punct(")") if depth == 0 => stop = true
            case Punct(")") => depth -= 1; item += toks(j)
            case Punct(",") if depth == 0 => flush(); sb.append(",")
            case Punct(";") if depth == 0 => stop = true
            case Word(w) if depth == 0 &&
                arrayJoinBoundary(w.toUpperCase) => stop = true
            case t => item += t
          }
          if (!stop) j += 1
        }
        flush()
        i = j
      } else {
        sb.append(toks(i).text)
        i += 1
      }
    }
    // ---- (b) dotted-reference backticking ----------------------------
    toks = tokenize(sb.toString)
    def subsOf(p: String): Option[Seq[String]] =
      nestedGroups.get(p).orElse(aliasMap.get(p).flatMap(nestedGroups.get))
    val out = new StringBuilder
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
          val Word(s) = toks(i + 2): @unchecked
          out.append(s"`$p.$s`")
          i += 3
        case t => out.append(t.text); i += 1
      }
    }
    out.toString
  }

  private def rewriteArrayJoin(sql: String): String = {
    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 8) {
      changed = false
      guard += 1
      rewriteOneArrayJoin(out) match {
        case Some(next) => out = next; changed = true
        case None => ()
      }
    }
    out
  }

  private def rewriteOneArrayJoin(sql: String): Option[String] = {
    val toks = tokenize(sql)
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
        val items = ArrayBuffer[AjItem]()
        var j = nextSig(toks, jIdx + 1)
        var endIdx = -1
        var cur = ArrayBuffer[Tok]()
        var depth = 0
        var bad = false
        while (endIdx < 0 && j < toks.length) {
          toks(j) match {
            case Punct("(") => depth += 1; cur += toks(j)
            case Punct(")") if depth == 0 => endIdx = j
            case Punct(")") => depth -= 1; cur += toks(j)
            case Punct(",") if depth == 0 =>
              parseAjItem(cur.toVector).fold { bad = true } { items += _ }
              cur = ArrayBuffer[Tok]()
            case Punct(";") if depth == 0 => endIdx = j
            case Word(w) if depth == 0 && arrayJoinBoundary(w.toUpperCase) =>
              endIdx = j
            case t => cur += t
          }
          if (endIdx < 0) j += 1
        }
        if (endIdx < 0) endIdx = toks.length
        parseAjItem(cur.toVector).fold { bad = true } { items += _ }
        if (bad || items.isEmpty) return None
        val fn = if (leftOuter) "explode_outer" else "explode"
        // CH LEFT ARRAY JOIN pads an EMPTY array with one element of
        // the array's element-type DEFAULT (ArrayJoinAction.cpp with
        // array_join_is_left — 0/''/NULL-for-Nullable), not SQL NULL:
        // pad first, then plain explode (single-item forms only; the
        // positional-zip form pads per element via try_element_at)
        def fnOf(arg: String): String =
          if (leftOuter) s"explode(chLeftArrayPad($arg))"
          else s"explode($arg)"
        val n = sql.length // cheap unique suffix within the statement
        // locate this level's FROM (last FROM token before ARRAY at myDepth)
        val fromIdx = (0 until startIdx).reverse
          .find(k => depthAt(k) == myDepth && isWordI(toks(k), "FROM"))
          .getOrElse(-1)
        // LATERAL VIEW appends its generated columns to `SELECT *`,
        // but CH's `*` never includes ARRAY JOIN aliases (nor our
        // internal columns) — rewrite this level's `SELECT *` to
        // `* EXCEPT (…)` when the clause generates hidden names.
        var overrides = Map[Int, String]()
        def hideFromStar(hidden: Seq[String]): Unit = if (hidden.nonEmpty) {
          val limit = {
            val f = (0 until startIdx).reverse.find(k =>
              depthAt(k) == myDepth && isWordI(toks(k), "FROM"))
            f.getOrElse(startIdx)
          }
          (0 until limit).reverse
            .find(k => depthAt(k) == myDepth && isWordI(toks(k), "SELECT"))
            .foreach { si =>
              var j = nextSig(toks, si + 1)
              if (j < toks.length && isWordI(toks(j), "DISTINCT"))
                j = nextSig(toks, j + 1)
              if (j < toks.length && toks(j) == Punct("*"))
                overrides += j -> s"* EXCEPT (${hidden.mkString(", ")})"
            }
        }
        def text(a: Int, b: Int): String =
          (a until b).map(k => overrides.getOrElse(k, toks(k).text)).mkString
        def isBareIdent(id: String): Boolean =
          id.forall(c => c.isLetterOrDigit || c == '_') ||
            (id.length > 2 && id.head == '`' && id.last == '`' &&
              !id.drop(1).dropRight(1).contains('`'))
        val (replacement, replaceFrom) = items.toSeq match {
          case Seq(AjItem(expr, aliasOpt))
              if aliasOpt.isEmpty || aliasOpt.contains(expr.trim) =>
            // bare column (or self-aliased): element replaces the array
            val id = expr.trim
            if (!isBareIdent(id) || fromIdx < 0)
              return None
            hideFromStar(Seq(s"__aj_in$n"))
            val src = text(nextSig(toks, fromIdx + 1), startIdx)
            if (id.head == '`') {
              // LATERAL VIEW column aliases keep backticks literally —
              // alias clean and rewrite the references instead
              // (flattened-Nested `nest.x` columns)
              val clean = s"__aj_c$n"
              val repl = s" FROM (SELECT * EXCEPT ($id), $id AS __aj_in$n " +
                s"FROM $src) LATERAL VIEW ${fnOf(s"__aj_in$n")} " +
                s"__aj_v$n AS $clean "
              val mapped = Map(id -> clean)
              return Some(substIdents(text(0, fromIdx), mapped) + repl +
                substIdents(text(endIdx, toks.length), mapped))
            }
            (s" FROM (SELECT * EXCEPT ($id), $id AS __aj_in$n FROM $src) " +
              s"LATERAL VIEW ${fnOf(s"__aj_in$n")} __aj_v$n AS $id ", fromIdx)
          case Seq(AjItem(expr, Some(alias))) =>
            hideFromStar(Seq(alias))
            if (fromIdx < 0)
              (s" FROM (SELECT 1 AS __aj_one$n) " +
                s"LATERAL VIEW ${fnOf(expr)} __aj_v$n AS $alias ", startIdx)
            else
              (s" LATERAL VIEW ${fnOf(expr)} __aj_v$n AS $alias ", startIdx)
          case multi0 if multi0.forall(_.alias.isDefined) ||
              multi0.forall(it => it.alias.isEmpty && isBareIdent(it.expr)) =>
            // all-aliased, or all-bare (flattened Nested subcolumns —
            // each element replaces its own array column, so the bare
            // name doubles as the alias for downstream references)
            val multi = multi0.map(it =>
              if (it.alias.isDefined) it else it.copy(alias = Some(it.expr)))
            // positional zip: explode an index range, pull each element.
            // LEFT keeps the all-empty row and pads each slot with the
            // ELEMENT-TYPE default, not NULL (ArrayJoinAction.cpp
            // insertDefault — same contract as the single-item form's
            // chLeftArrayPad).
            def src(e: String): String =
              if (leftOuter) s"chLeftArrayPad($e)" else e
            val fields = multi.zipWithIndex.map { case (it, k) =>
              s"'c$k', try_element_at(${src(it.expr)}, CAST(__aj_i$n AS INT))"
            }.mkString(", ")
            // Guard the empty-array case: Spark's sequence(1, 0) DESCENDS
            // to [1,0] (it never yields an empty range), so build one
            // padded element and slice it away; try_element_at keeps the
            // padding row null-safe under ANSI.
            val sz = s"size(${src(multi.head.expr)})"
            val keepMin = if (leftOuter) 1 else 0
            val zip = s"slice(transform(sequence(1, greatest($sz, 1)), " +
              s"__aj_i$n -> named_struct($fields)), 1, greatest($sz, $keepMin))"
            val lateral =
              s" LATERAL VIEW $fn($zip) __aj_v$n AS __aj_s$n "
            val base =
              if (fromIdx < 0) s" FROM (SELECT 1 AS __aj_one$n)" + lateral
              else lateral
            // rewrite alias references outside the clause to struct fields
            val aliasMap = multi.zipWithIndex.map { case (it, k) =>
              it.alias.get -> s"__aj_s$n.c$k"
            }.toMap
            hideFromStar(Seq(s"__aj_s$n"))
            val pre = substIdents(text(0, startIdx), aliasMap)
            val post = substIdents(text(endIdx, toks.length), aliasMap)
            return Some(pre + base + post)
          case _ => return None
        }
        val pre = text(0, replaceFrom)
        val post = text(endIdx, toks.length)
        return Some(pre + replacement + post)
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
      val aliasTok = sig.last._1
      aliasTok match {
        case Word(a) =>
          val exprText = ts.take(sig(asPos)._2).map(_.text).mkString.trim
          if (exprText.isEmpty) None else Some(AjItem(exprText, Some(a)))
        case _ => None
      }
    } else Some(AjItem(ts.map(_.text).mkString.trim, None))
  }

  /** Replace bare identifier tokens per `map` (skipping qualified refs
    * `x.y` on either side of the dot and string literals).
    */
  private def substIdents(sql: String, map: Map[String, String]): String = {
    val toks = tokenize(sql)
    toks.zipWithIndex.map {
      case (Word(w), idx) if map.contains(w) &&
          !toks.lift(prevSig(toks, idx - 1)).contains(Punct(".")) &&
          !toks.lift(nextSig(toks, idx + 1)).contains(Punct(".")) => map(w)
      case (t, _) => t.text
    }.mkString
  }

  /** Index in `s` where the trailing primary expression starts: an
    * identifier, a string/number literal, or a balanced (...) / array(...)
    * call chain (a matched paren group plus the dotted name before it).
    */
  private def primaryStart(s: String): Int = {
    val ts = tokenize(s)
    val off = offsets(ts)
    def dotted(t: Tok) = t match {
      case Word(w) => !w.startsWith("`") && !w.startsWith("\"")
      case Num(_) | Punct(".") => true
      case _ => false
    }
    def nameStart(end: Int) = {
      var k = end
      while (k >= 0 && dotted(ts(k))) k -= 1
      off(k + 1)
    }
    val last = prevSig(ts, ts.length - 1)
    if (last < 0) return 0
    ts(last) match {
      case Punct(")") =>
        val open = balancedOpen(ts, last)
        if (open < 0) 0 else nameStart(open - 1)
      case Str(_) | Word(_) if !dotted(ts(last)) => off(last)
      case t if dotted(t) && t != Punct(".") => nameStart(last)
      case _ => off(last + 1)
    }
  }
}
