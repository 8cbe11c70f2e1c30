package graft.sql

import scala.collection.mutable.ArrayBuffer

/** EXPLAIN SYNTAX — the reference prints the (rewritten) AST back as
  * formatted SQL (src/Parsers/ASTExplainQuery.h:38-53,
  * src/Interpreters/InterpreterExplainQuery.cpp SYNTAX mode;
  * IAST::format multi-line layout). We print the ORIGINAL query in the
  * same clause-per-line layout: expression text is preserved verbatim
  * (whitespace collapsed), clauses land on their own lines, multi-item
  * lists indent 4, ORDER BY items get their implicit ASC, `SELECT *`
  * over a known table expands to the column list, and nested UNION
  * chains of one mode are flattened (normalizeSelectWithUnionQuery).
  * The reference's optimizer rewrites (avg(x+2)→avg(x)+2 …) are not
  * reproduced — those tests diff rather than parse-error.
  */
object ChSyntaxFormat {

  import ChLex.{Num, Punct, Str, Tok, Word}

  /** The query's tokens without whitespace or comments, two-char
    * operators whole (so spacing stays natural) and a tuple index `.1`
    * split from its dot.
    */
  private def tokens(query: String): Vector[Tok] =
    ChLex.mergeOperators(ChLex.tokenize(ChLex.stripComments(query))).flatMap {
      case _: ChLex.Ws => Nil
      case Num(n) if n.startsWith(".") => Seq(Punct("."), Num(n.tail))
      case t => Seq(t)
    }

  /** A word or number: what the formatter reads as a name or a value. */
  private def isWordK(t: Tok): Boolean = t match {
    case Word(w) => !w.startsWith("`") && !w.startsWith("\"")
    case _: Num => true
    case _ => false
  }

  /** A string literal or quoted identifier: printed verbatim. */
  private def isLitK(t: Tok): Boolean = t.isInstanceOf[Str] || t.isInstanceOf[Word] && !isWordK(t)

  /** `x::Type` prints as the reference's CAST form: a LITERAL operand
    * becomes its quoted text — CAST('-1', 'Int32'),
    * CAST('[1, 2]', 'Array(UInt32)') — and any other operand stays an
    * expression: CAST(1 + 2, 'UInt32'); nested `::` rewrites inner-
    * first (01852_cast_operator*). */
  private def rewriteCastOps(ts0: Seq[Tok]): Seq[Tok] = {
    val ts = ts0.toVector
    val i = ts.indexWhere(_.text == "::")
    if (i <= 0 || i + 1 >= ts.length) return ts
    // operand span: a primary ending at i-1
    var aStart = i - 1
    ts(aStart).text match {
      case ")" | "]" =>
        val open = ChLex.balancedOpen(ts, i - 1, brackets = true)
        if (open >= 0) aStart = open
        // function call: name immediately before '('
        if (aStart > 0 && ts(aStart).text == "(" &&
            isWordK(ts(aStart - 1)) && !keyword(ts(aStart - 1).text))
          aStart -= 1
      case _ => ()
    }
    // a numeric literal absorbs its unary sign (CH: -1::Int32 is the
    // literal -1)
    val numWord = ts(aStart).isInstanceOf[Num]
    if (numWord && aStart > 0 &&
        (ts(aStart - 1).text == "-" || ts(aStart - 1).text == "+") &&
        (aStart - 2 < 0 || (ts(aStart - 2).isInstanceOf[Punct] &&
          ts(aStart - 2).text != ")" && ts(aStart - 2).text != "]") ||
          (isWordK(ts(aStart - 2)) && keyword(ts(aStart - 2).text))))
      aStart -= 1
    // type span: Word [ ( … ) ]
    var tEnd = i + 1
    if (!isWordK(ts(tEnd))) return ts // not a type — leave untouched
    if (tEnd + 1 < ts.length && ts(tEnd + 1).text == "(") {
      val close = ChLex.balancedClose(ts, tEnd + 1)
      if (close >= 0) tEnd = close
    }
    val operand = rewriteCastOps(ts.slice(aStart, i))
    val typeTxt = renderType(ts.slice(i + 1, tEnd + 1))
    val isLit = operand.forall(t =>
      isLitK(t) ||
        (isWordK(t) && t.text.nonEmpty && t.text.head.isDigit) ||
        (t.isInstanceOf[Punct] && Set(".", ",", "[", "]", "(", ")", "-", "+")
          .contains(t.text)))
    val castToks: Seq[Tok] =
      if (isLit) {
        val text =
          if (operand.length == 1 && isLitK(operand.head))
            operand.head.text.stripPrefix("'").stripSuffix("'")
          else render(operand)
        Seq(Word("CAST"), Punct("("),
          Str("'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"),
          Punct(","), Str("'" + typeTxt + "'"), Punct(")"))
      } else
        Seq(Word("CAST"), Punct("(")) ++ stripOuterParens(operand) ++
          Seq(Punct(","), Str("'" + typeTxt + "'"), Punct(")"))
    rewriteCastOps(ts.take(aStart) ++ castToks ++ ts.drop(tEnd + 1))
  }

  /** Type-name spacing: none before '(', a space after ',' and between
    * adjacent words (`Nested(u UInt8, s String)`). */
  private def renderType(ts: Seq[Tok]): String = {
    val sb = new StringBuilder
    var prev: Tok = null
    ts.foreach { t =>
      if (prev != null &&
          ((isWordK(prev) && isWordK(t)) || prev.text == ","))
        sb.append(' ')
      sb.append(t.text)
      prev = t
    }
    sb.toString
  }

  /** End index (exclusive) of the numeric literal at ts(i), or -1. */
  private def numEnd(ts: Seq[Tok], i: Int): Int =
    if (ts.lift(i).exists(_.isInstanceOf[Num])) i + 1 else -1

  /** Whether position i is a UNARY operator slot: start of expression,
    * or after '(', '[', ',', an operator punct, or a keyword. */
  private def unarySlot(ts: Seq[Tok], i: Int): Boolean =
    i == 0 || {
      val p = ts(i - 1)
      p.text == "(" || p.text == "[" || p.text == "," ||
        (p.isInstanceOf[Punct] && p.text != ")" && p.text != "]") ||
        (isWordK(p) && keyword(p.text))
    }

  /** CH formatter canonicalization (IAST::formatImpl conventions):
    * `negate(x)` prints `-(x)`; a unary minus before a signed literal
    * is the negate FUNCTION (`- -1` → `-(-1)`); integer `-0` folds to
    * `0`; redundant parens around a lone signed literal drop (except
    * the IN-list's); operator keywords print uppercase. */
  private def canon(ts0: Seq[Tok]): Seq[Tok] = {
    var ts = ts0.toVector
    var guard = 0
    var changed = true
    while (changed && guard < 24) {
      changed = false; guard += 1
      var i = 0
      while (!changed && i < ts.length) {
        // negate(x) → -(x)
        if (isW(ts(i), "negate") && i + 1 < ts.length &&
            ts(i + 1).text == "(") {
          ts = ts.take(i) ++ Vector(Punct("-")) ++ ts.drop(i + 1)
          changed = true
        }
        // integer -0 → 0 (int literals have no signed zero)
        else if (ts(i).text == "-" && ts(i).isInstanceOf[Punct] && unarySlot(ts, i) &&
            i + 1 < ts.length && ts(i + 1).text == "0" &&
            (i + 2 >= ts.length || ts(i + 2).text != ".")) {
          ts = ts.take(i) ++ ts.drop(i + 1)
          changed = true
        }
        // unary minus before a SIGNED literal = negate: - -1 → -(-1)
        else if (ts(i).text == "-" && ts(i).isInstanceOf[Punct] && unarySlot(ts, i) &&
            i + 1 < ts.length && ts(i + 1).text == "-" &&
            numEnd(ts, i + 2) > 0) {
          val e = numEnd(ts, i + 2)
          ts = ts.take(i + 1) ++ Vector(Punct("(")) ++ ts.slice(i + 1, e) ++
            Vector(Punct(")")) ++ ts.drop(e)
          changed = true
        }
        // (±lit) → ±lit except directly after IN (the IN-list parens),
        // after a function name, or after unary minus (the negate form
        // -(x) KEEPS its parens)
        else if (ts(i).text == "(" &&
            !(i > 0 && (isW(ts(i - 1), "IN") ||
              (isWordK(ts(i - 1)) && !keyword(ts(i - 1).text)) ||
              ts(i - 1).text == ")" || ts(i - 1).text == "]" ||
              ts(i - 1).text == "-")) && {
            val s = if (i + 1 < ts.length && ts(i + 1).text == "-" &&
              ts(i + 1).isInstanceOf[Punct]) i + 2 else i + 1
            val e = numEnd(ts, s)
            e > 0 && e < ts.length && ts(e).text == ")"
          }) {
          val s = if (ts(i + 1).text == "-" && ts(i + 1).isInstanceOf[Punct]) i + 2
            else i + 1
          val e = numEnd(ts, s)
          ts = ts.take(i) ++ ts.slice(i + 1, e) ++ ts.drop(e + 1)
          changed = true
        }
        i += 1
      }
    }
    // count()-variant normalization (optimize_normalize_count_variants
    // + the unconditional count(*) → count()): count(*) / count(1) /
    // count(-1) / sum(1) all print count()
    var j = 0
    while (j + 2 < ts.length) {
      val isCount = isW(ts(j), "count") && ts(j + 1).text == "("
      val isSum = isW(ts(j), "sum") && ts(j + 1).text == "("
      if (isCount || isSum) {
        val inner0 = j + 2
        val e = closeOf(ts, j + 1)
        val body = ts.slice(inner0, e).map(_.text).mkString
        val normalizes =
          if (isCount) body == "*" || body == "1" || body == "-1"
          else body == "1"
        if (normalizes && e < ts.length) {
          ts = ts.take(j) ++
            Vector(Word("count"), Punct("("), Punct(")")) ++ ts.drop(e + 1)
        }
      }
      j += 1
    }
    // optimize_injective_functions_inside_uniq: the uniq family drops
    // injective wrappers (unary minus, negate, bitNot) from each arg
    val uniqSet = Set("uniq", "uniqexact", "uniqhll12", "uniqcombined",
      "uniqcombined64")
    def stripInjective(arg0: Seq[Tok]): Seq[Tok] = {
      var a = stripOuterParens(arg0)
      var go = true
      while (go && a.nonEmpty) {
        go = false
        if (a.head.text == "-" && a.head.isInstanceOf[Punct]) {
          a = stripOuterParens(a.tail); go = true
        } else if (a.length >= 3 && isWordK(a.head) &&
            Set("bitnot", "negate").contains(a.head.text.toLowerCase) &&
            a(1).text == "(" && a.last.text == ")") {
          a = stripOuterParens(a.slice(2, a.length - 1)); go = true
        }
      }
      a
    }
    // count(DISTINCT args) → uniqExact(args) (the default
    // count_distinct_implementation — always printed rewritten)
    j = 0
    while (j + 3 < ts.length) {
      if (isW(ts(j), "count") && ts(j + 1).text == "(" &&
          isW(ts(j + 2), "DISTINCT")) {
        ts = ts.take(j) ++ Vector(Word("uniqExact"), Punct("(")) ++
          ts.drop(j + 3)
      }
      j += 1
    }
    j = 0
    while (uniqStrip.value && j + 2 < ts.length) {
      if (isWordK(ts(j)) && uniqSet.contains(ts(j).text.toLowerCase) &&
          ts(j + 1).text == "(") {
        val e = closeOf(ts, j + 1)
        if (e < ts.length) {
          val args = splitItems(ts.slice(j + 2, e)).map(stripInjective)
          val rebuilt = args.zipWithIndex.flatMap { case (a, k) =>
            (if (k > 0) Seq(Punct(",")) else Nil) ++ a
          }
          ts = ts.take(j + 2) ++ rebuilt ++ ts.drop(e)
        }
      }
      j += 1
    }
    // optimize_arithmetic_operations_in_aggregate_functions: a pure
    // numeric literal moves OUT of sum/min/max/avg — sum only for */÷,
    // min/max/avg also ±, and a NEGATIVE */÷ literal flips min↔max
    // (01271/01702/01703 goldens, including the reference's unflipped
    // `c - x` quirk). Canonical lowercase agg spelling (01703).
    def litSpan(a: Seq[Tok], s0: Int): Int = {
      // numeric literal starting at s0 (optional unary minus): end excl
      val s = if (s0 < a.length && a(s0).text == "-" && a(s0).isInstanceOf[Punct])
        s0 + 1 else s0
      val e = numEnd(a, s)
      if (e < 0) -1 else e
    }
    def depth0Ops(a: Seq[Tok]): Seq[Int] = topOps(a, "+-*/")
    if (aggArith.value) {
      val aggSet = Set("sum", "min", "max", "avg")
      // one pull step: Some((op, litToks, litLeft, flip, inner))
      def pullOnce(agg: String, arg: Seq[Tok])
          : Option[(String, Seq[Tok], Boolean, Boolean, Seq[Tok])] = {
        val ops = depth0Ops(arg)
        def prec(k: Int) = if ("+-".contains(arg(k).text)) 1 else 2
        val top =
          if (ops.isEmpty) -1
          else { val lo = ops.map(prec).min
            ops.filter(prec(_) == lo).last }
        val leftLitEnd = litSpan(arg, 0)
        if (top >= 0 && top == ops.head && leftLitEnd == top &&
            top < arg.length - 1) {
          val op = arg(top).text
          val c = arg.take(leftLitEnd)
          val neg = c.head.text == "-"
          val okOp =
            if (agg == "sum") op == "*"
            else op == "+" || op == "-" || op == "*"
          if (okOp) Some((op, c, true, op == "*" && neg, arg.drop(top + 1)))
          else None
        } else if (top >= 0 && litSpan(arg, top + 1) == arg.length) {
          val op = arg(top).text
          val c = arg.drop(top + 1)
          val neg = c.head.text == "-"
          val okOp =
            if (agg == "sum") op == "*" || op == "/"
            else true
          if (okOp) Some((op, c, false,
            (op == "*" || op == "/") && neg, arg.take(top)))
          else None
        } else None
      }
      j = 0
      while (j + 2 < ts.length) {
        if (isWordK(ts(j)) && aggSet.contains(ts(j).text.toLowerCase) &&
            ts(j + 1).text == "(") {
          val agg = ts(j).text.toLowerCase
          val e = closeOf(ts, j + 1)
          if (e < ts.length &&
              splitItems(ts.slice(j + 2, e)).lengthCompare(1) == 0) {
            // pull repeatedly while the operator stays the SAME (the
            // reference rewrites a chain of one op, then stops)
            var arg: Seq[Tok] = ts.slice(j + 2, e)
            var flip = false
            // keep pulling within one precedence GROUP (additive ops
            // chain: min(1 + n - 1) double-pulls; a group switch stops:
            // min(1 + n * 2) keeps the multiply inside)
            var lastGrp: Option[String] = None
            def grp(op: String) = if ("+-".contains(op)) "a" else "m"
            val wraps = ArrayBuffer[(String, Seq[Tok], Boolean)]()
            var go = true
            while (go) {
              pullOnce(agg, arg) match {
                case Some((op, c, litLeft, f, inner))
                    if inner.nonEmpty && lastGrp.forall(_ == grp(op)) =>
                  wraps += ((op, c, litLeft))
                  if (agg == "min" || agg == "max") flip ^= f
                  arg = inner
                  lastGrp = Some(grp(op))
                case _ => go = false
              }
            }
            if (wraps.nonEmpty) {
              val agg2 =
                if (!flip) agg
                else if (agg == "min") "max" else "min"
              var repl: Vector[Tok] = Vector(Word(agg2), Punct("(")) ++
                arg ++ Vector(Punct(")"))
              wraps.reverse.foreach { case (op, c, litLeft) =>
                repl =
                  if (litLeft) c.toVector ++ Vector(Punct(op)) ++ repl
                  else repl ++ Vector(Punct(op)) ++ c.toVector
              }
              // parenthesize the expansion: it replaces ONE call-site
              // operand; reparen() drops the parens when redundant
              repl = Punct("(") +: repl :+ Punct(")")
              ts = ts.take(j) ++ repl ++ ts.drop(e + 1)
              j += repl.length - 1 // the emitted call is final
            } else if (ts(j).text != agg) ts = ts.updated(j, Word(agg))
          } else if (ts(j).text != agg) ts = ts.updated(j, Word(agg))
        }
        j += 1
      }
    }
    // NOT-chain canonical parenthesization (01920): a pure chain of n
    // NOTs over a literal prints the innermost TWO bare and wraps each
    // outer level — NOT (NOT (NOT NOT x))
    def parseNot(i: Int, depth: Int): Option[(Int, Seq[Tok], Int)] = {
      if (depth > 16 || i >= ts.length) return None
      if (isW(ts(i), "NOT")) parseNot(i + 1, depth + 1)
        .map { case (n, lit, e) => (n + 1, lit, e) }
      else if (ts(i).text == "(") {
        val e = closeOf(ts, i)
        if (e >= ts.length) None
        else parseNot(i + 1, depth + 1) match {
          case Some((n, lit, inEnd)) if inEnd == e =>
            Some((n, lit, e + 1))
          case _ =>
            if (e == i + 2 && !ts(i + 1).isInstanceOf[Punct])
              Some((0, Seq(ts(i + 1)), e + 1))
            else None
        }
      }
      else if (!ts(i).isInstanceOf[Punct]) Some((0, Seq(ts(i)), i + 1))
      else None
    }
    def emitNot(n: Int, lit: Seq[Tok]): Seq[Tok] =
      if (n <= 2) Seq.fill(n)(Word("NOT")) ++ lit
      else Seq(Word("NOT"), Punct("(")) ++ emitNot(n - 1, lit) ++
        Seq(Punct(")"))
    j = 0
    while (j < ts.length) {
      if (isW(ts(j), "NOT") && !(j > 0 && (isW(ts(j - 1), "IS") ||
          isWordK(ts(j - 1)) && !keyword(ts(j - 1).text)))) {
        parseNot(j, 0) match {
          case Some((n, lit, e)) if n >= 2 =>
            ts = ts.take(j) ++ emitNot(n, lit) ++ ts.drop(e)
            j += 1
          case _ => ()
        }
      }
      j += 1
    }
    // canonical string-literal re-print: unknown escape sequences keep
    // their backslash in the VALUE, and the formatter re-escapes it —
    // '\_hello' prints '\\_hello' (parseEscapeSequence + writeQuoted)
    def canonStr(raw: String): String = {
      if (raw.length < 2 || raw.head != '\'') return raw
      val body = raw.substring(1, raw.length - 1)
      val sb = new StringBuilder
      var k = 0
      while (k < body.length) {
        val c = body.charAt(k)
        if (c == '\\' && k + 1 < body.length) {
          val n = body.charAt(k + 1)
          n match {
            case '\\' => sb.append("\\\\")
            case '\'' => sb.append("\\'")
            case 'n' | 't' | 'r' | '0' | 'b' | 'f' | 'a' | 'v' =>
              sb.append('\\').append(n)
            case other => sb.append("\\\\").append(other) // unknown escape
          }
          k += 2
        } else { sb.append(c); k += 1 }
      }
      "'" + sb.toString + "'"
    }
    ts = ts.map(t => if (isLitK(t) && t.text.contains('\\') &&
      t.text.startsWith("'")) Str(canonStr(t.text)) else t)
    // rewrite_like_function: a wildcard-free pattern turns LIKE into
    // equality (NOT LIKE into !=) — 48011 goldens
    if (likeRw.value) {
      def plainPattern(raw: String): Boolean = {
        val body = raw.stripPrefix("'").stripSuffix("'")
        var k = 0
        var plain = true
        while (k < body.length && plain) {
          val c = body.charAt(k)
          if (c == '\\') k += 2
          else { if (c == '%' || c == '_') plain = false; k += 1 }
        }
        plain
      }
      var m2 = 0
      while (m2 + 1 < ts.length) {
        if (isW(ts(m2), "LIKE") && isLitK(ts(m2 + 1)) &&
            ts(m2 + 1).text.startsWith("'") &&
            plainPattern(ts(m2 + 1).text)) {
          val neg = m2 > 0 && isW(ts(m2 - 1), "NOT")
          val op = Punct(if (neg) "!=" else "=")
          ts =
            if (neg) ts.take(m2 - 1) ++ Vector(op) ++ ts.drop(m2 + 1)
            else ts.take(m2) ++ Vector(op) ++ ts.drop(m2 + 1)
        }
        m2 += 1
      }
    }
    // ternary `c ? a : b` prints as if(c, a, b) (the CH parser builds
    // the if() function); under optimize_if_chain_to_multiif a chained
    // else-if collapses to multiIf (01388)
    var guard2 = 0
    var found = true
    while (found && guard2 < 16) {
      found = false; guard2 += 1
      val depthAt = ChLex.depths(ts, brackets = true)
      val qIdx = ts.indices.find(k => ts(k).text == "?" && ts(k).isInstanceOf[Punct])
      qIdx.foreach { q =>
        val d0 = depthAt(q)
        // matching ':' at the same depth, skipping nested ternaries
        var nest = 0
        var colon = -1
        var k = q + 1
        while (colon < 0 && k < ts.length) {
          if (depthAt(k) == d0 && ts(k).text == "?") nest += 1
          else if (depthAt(k) == d0 && ts(k).text == ":") {
            if (nest == 0) colon = k else nest -= 1
          }
          k += 1
        }
        // cond start: back to the opening of this depth level or a
        // depth-d0 comma / expression start
        var start = q - 1
        while (start >= 0 && !(depthAt(start) < d0 ||
            (depthAt(start) == d0 && (ts(start).text == "," ||
              (isWordK(ts(start)) && keyword(ts(start).text) &&
                !isW(ts(start), "NULL"))))))
          start -= 1
        start += 1
        // else end: forward to the close of this depth level / comma
        var eEnd = colon + 1
        while (eEnd < ts.length && !(depthAt(eEnd) < d0 ||
            (depthAt(eEnd) == d0 && (ts(eEnd).text == "," ||
              (isWordK(ts(eEnd)) && keyword(ts(eEnd).text) &&
                !isW(ts(eEnd), "NULL"))))))
          eEnd += 1
        if (colon > 0 && start < q && colon + 1 < eEnd) {
          val cond = ts.slice(start, q)
          val thenT = ts.slice(q + 1, colon)
          val elseT = stripOuterParens(ts.slice(colon + 1, eEnd))
          ts = ts.take(start) ++
            Vector(Word("if"), Punct("(")) ++ cond ++ Vector(Punct(",")) ++
            thenT ++ Vector(Punct(",")) ++ elseT ++ Vector(Punct(")")) ++
            ts.drop(eEnd)
          found = true
        }
      }
    }
    if (ifChain.value) {
      // if(c, a, if(...)) -> multiIf(c, a, ...): collapse else-chains
      var again = true
      var g3 = 0
      while (again && g3 < 16) {
        again = false; g3 += 1
        var k = 0
        while (!again && k + 1 < ts.length) {
          if ((isW(ts(k), "if") || isW(ts(k), "multiIf")) &&
              ts(k + 1).text == "(") {
            // last argument starts with if( ?
            val m = closeOf(ts, k + 1)
            val args = ts.slice(k + 2, m)
            val depth = ChLex.depths(args)
            val lastComma = args.indices
              .filter(x => depth(x) == 0 && args(x) == Punct(","))
              .lastOption.fold(k + 1)(_ + k + 2)
            if (m < ts.length && lastComma + 2 < m &&
                isW(ts(lastComma + 1), "if") &&
                ts(lastComma + 2).text == "(") {
              // splice: drop the inner `if(` and its close, rename head
              ts = ts.take(k) ++ Vector(Word("multiIf")) ++
                ts.slice(k + 1, lastComma + 1) ++
                ts.slice(lastComma + 3, m - 1) ++ ts.drop(m)
              again = true
            }
          }
          k += 1
        }
      }
    }
    // optimize_if_transform_strings_to_enum: transform(x, keys,
    // ['a','b'], 'dflt') wraps the string array and default in Enum8
    // CASTs over the SORTED distinct value set (01324)
    if (strToEnum.value) {
      var m3 = 0
      while (m3 + 1 < ts.length) {
        if (isW(ts(m3), "transform") && ts(m3 + 1).text == "(") {
          val m = closeOf(ts, m3 + 1)
          if (m < ts.length) {
            val args = splitItems(ts.slice(m3 + 2, m))
            if (args.length == 4 &&
                args(2).forall(t => isLitK(t) || t.text == "[" ||
                  t.text == "]" || t.text == ",") &&
                args(3).length == 1 && isLitK(args(3).head)) {
              val vals = (args(2).filter(isLitK(_)) ++ args(3))
                .map(_.text.stripPrefix("'").stripSuffix("'"))
                .distinct.sorted
              val enum = vals.zipWithIndex
                .map { case (v, k) => "\\'" + v + "\\' = " + (k + 1) }
                .mkString(", ")
              val arrCast = Vector(Word("CAST"), Punct("(")) ++ args(2) ++
                Vector(Punct(","),
                  Str("'Array(Enum8(" + enum + "))'"), Punct(")"))
              val dfltCast = Vector(Word("CAST"), Punct("(")) ++ args(3) ++
                Vector(Punct(","), Str("'Enum8(" + enum + ")'"), Punct(")"))
              val rebuilt = Vector(Word("transform"), Punct("(")) ++
                args(0) ++ Vector(Punct(",")) ++ args(1) ++
                Vector(Punct(",")) ++ arrCast ++ Vector(Punct(",")) ++
                dfltCast ++ Vector(Punct(")"))
              ts = ts.take(m3) ++ rebuilt ++ ts.drop(m + 1)
              m3 += rebuilt.length
            }
          }
        }
        m3 += 1
      }
    }
    // operator keywords uppercase (CH formatter hilite keywords)
    val opKw = Set("IN", "AS", "AND", "OR", "NOT", "LIKE", "ILIKE", "IS",
      "NULL", "BETWEEN", "CASE", "WHEN", "THEN", "ELSE", "END", "INTERVAL",
      "EXISTS", "ASC", "DESC", "GLOBAL")
    ts.map(t =>
      if (isWordK(t) && opKw.contains(t.text.toUpperCase) &&
          t.text.exists(_.isLower)) Word(t.text.toUpperCase)
      else t)
  }

  // ---- CH-style explicit parenthesization: the reference formatter
  // wraps every binary-op operand that is ITSELF a binary op —
  // `n * n + 1` prints `(n * n) + 1`, `(2 * n) * n`, and comparisons
  // under AND/OR get parens: `(str = 'a') AND (id = 1)`. AND/OR are
  // n-ary (chains stay flat); arithmetic stays left-nested. ----
  private sealed trait EN
  private final case class EAtom(ts: Seq[Tok]) extends EN
  private final case class EBin(op: Seq[Tok], l: EN, r: EN) extends EN
  private final case class ENary(op: String, cs: Seq[EN]) extends EN

  private final class PErr extends RuntimeException

  private def reparen(ts: Seq[Tok]): Seq[Tok] = {
    val items = splitItems(ts)
    if (items.length > 1)
      return items.zipWithIndex.flatMap { case (a, k) =>
        (if (k > 0) Seq(Punct(",")) else Nil) ++ reparen(a)
      }
    parseEN(ts).map(emit(_, wrapBin = false)).getOrElse(ts)
  }

  /** Full-slice expression parse; None when the slice contains
    * structures the parser does not model. */
  private def parseEN(ts: Seq[Tok]): Option[EN] = {
    val bail = Set("BETWEEN", "CASE", "INTERVAL", "EXISTS", "ALL", "ANY",
      "AS", "OVER", "DISTINCT")
    if (ts.exists(t => (isWordK(t) && bail.contains(t.text.toUpperCase)) ||
        t.text == "->" || t.text == "::")) return None
    try {
      var i = 0
      def peek: Option[Tok] = if (i < ts.length) Some(ts(i)) else None
      def take(): Tok = {
        if (i >= ts.length) throw new PErr
        val t = ts(i); i += 1; t
      }
      def group(): Seq[Tok] = {
        val s = i
        val close = ChLex.balancedClose(ts, i, brackets = true)
        if (close < 0) throw new PErr
        i = close + 1
        ts.slice(s, i)
      }
      def primary(): EN = peek match {
        case None => throw new PErr
        case Some(t) if t.text == "(" =>
          val g = group()
          if (g.length > 1 && isW(g(1), "SELECT")) EAtom(g)
          else parseEN(g.slice(1, g.length - 1)).getOrElse(EAtom(g))
        case Some(t) if t.text == "[" => EAtom(group())
        case Some(t) if t.text == "-" && t.isInstanceOf[Punct] =>
          take()
          peek match {
            case Some(n) if isWordK(n) && n.text.nonEmpty &&
                n.text.head.isDigit =>
              val e = numEnd(ts, i)
              val lit = ts.slice(i - 1, e); i = e; EAtom(lit)
            case Some(n) if n.text == "(" =>
              EAtom(Seq(t) ++ group())
            case _ =>
              primary() match {
                case EAtom(a) => EAtom(Seq(t) ++ a)
                case _ => throw new PErr
              }
          }
        case Some(t) if isW(t, "NOT") =>
          take()
          if (peek.exists(_.text == "(")) EAtom(Seq(t) ++ group())
          else primary() match {
            case EAtom(a) => EAtom(Seq(t) ++ a)
            case other => EAtom(Seq(t, Punct("(")) ++
              emit(other, wrapBin = false) ++ Seq(Punct(")")))
          }
        case Some(t) if isLitK(t) => take(); EAtom(Seq(t))
        case Some(t) if isWordK(t) =>
          if (keyword(t.text) && !t.text.equalsIgnoreCase("NULL"))
            throw new PErr
          val e = numEnd(ts, i)
          if (e > 0) { val lit = ts.slice(i, e); i = e; EAtom(lit) }
          else {
            val parts = ArrayBuffer[Tok](take())
            while (peek.exists(_.text == ".") && i + 1 < ts.length &&
                isWordK(ts(i + 1))) {
              parts += take(); parts += take()
            }
            if (peek.exists(_.text == "(")) {
              val g = group()
              val args = splitItems(g.slice(1, g.length - 1))
              val rebuilt = args.zipWithIndex.flatMap { case (a, k) =>
                (if (k > 0) Seq(Punct(",")) else Nil) ++ reparen(a)
              }
              EAtom(parts.toSeq ++ Seq(Punct("(")) ++ rebuilt ++
                Seq(Punct(")")))
            } else EAtom(parts.toSeq)
          }
        case Some(t) if t.text == "*" && ts.length == 1 =>
          take(); EAtom(Seq(t))
        case _ => throw new PErr
      }
      def cmpOp(): Option[Seq[Tok]] = peek match {
        case Some(t) if Set("=", "==", "!=", "<>", "<", ">", "<=", ">=")
            .contains(t.text) => Some(Seq(take()))
        case Some(t) if isW(t, "LIKE") || isW(t, "ILIKE") =>
          Some(Seq(take()))
        case Some(t) if isW(t, "IN") => Some(Seq(take()))
        case Some(t) if isW(t, "GLOBAL") && i + 1 < ts.length &&
            isW(ts(i + 1), "IN") => Some(Seq(take(), take()))
        case Some(t) if isW(t, "NOT") && i + 1 < ts.length &&
            (isW(ts(i + 1), "IN") || isW(ts(i + 1), "LIKE") ||
              isW(ts(i + 1), "ILIKE")) => Some(Seq(take(), take()))
        case _ => None
      }
      def mul(): EN = {
        var l = primary()
        while (peek.exists(t => Set("*", "/", "%").contains(t.text))) {
          val op = take(); l = EBin(Seq(op), l, primary())
        }
        l
      }
      def add(): EN = {
        var l = mul()
        while (peek.exists(t =>
            (Set("+", "-").contains(t.text) && t.isInstanceOf[Punct]) ||
              t.text == "||")) {
          val op = take(); l = EBin(Seq(op), l, mul())
        }
        l
      }
      def cmp(): EN = {
        var l = add()
        var go = true
        while (go) {
          cmpOp() match {
            case Some(op) if op.exists(isW(_, "IN")) =>
              // the IN-list keeps its parens verbatim
              val rhs =
                if (peek.exists(_.text == "(")) EAtom(group())
                else add()
              l = EBin(op, l, rhs)
            case Some(op) => l = EBin(op, l, add())
            case None => peek match {
              case Some(t) if isW(t, "IS") =>
                val tail = ArrayBuffer[Tok](take())
                if (peek.exists(isW(_, "NOT"))) tail += take()
                if (!peek.exists(isW(_, "NULL"))) throw new PErr
                tail += take()
                l = EAtom(emit(l, wrapBin = true) ++ tail.toSeq)
              case _ => go = false
            }
          }
        }
        l
      }
      def conj(): EN = {
        var l = cmp()
        if (peek.exists(isW(_, "AND"))) {
          val cs = ArrayBuffer[EN](l)
          while (peek.exists(isW(_, "AND"))) { take(); cs += cmp() }
          l = ENary("AND", cs.toSeq)
        }
        l
      }
      def disj(): EN = {
        var l = conj()
        if (peek.exists(isW(_, "OR"))) {
          val cs = ArrayBuffer[EN](l)
          while (peek.exists(isW(_, "OR"))) { take(); cs += conj() }
          l = ENary("OR", cs.toSeq)
        }
        l
      }
      val tree = disj()
      if (i != ts.length) throw new PErr
      Some(tree)
    } catch { case _: PErr => None }
  }

  private def emit(n: EN, wrapBin: Boolean): Seq[Tok] = n match {
    case EAtom(a) => a
    case EBin(op, l, r) =>
      val inner = emit(l, wrapBin = true) ++ op ++ emit(r, wrapBin = true)
      if (wrapBin) Seq(Punct("(")) ++ inner ++ Seq(Punct(")")) else inner
    case ENary(op, cs) =>
      val inner = cs.zipWithIndex.flatMap { case (c, k) =>
        (if (k > 0) Seq(Word(op)) else Nil) ++ emit(c, wrapBin = true)
      }
      if (wrapBin) Seq(Punct("(")) ++ inner ++ Seq(Punct(")")) else inner
  }

  /** Re-join a token slice with natural SQL spacing. */
  private def render(ts0raw: Seq[Tok]): String = {
    val ts0 = reparen(canon(ts0raw))
    val ts = if (ts0.exists(_.text == "::")) rewriteCastOps(ts0) else ts0
    val sb = new StringBuilder
    var prev: Tok = null
    var prev2: Tok = null // the significant token before prev
    ts.foreach { t =>
      // a sign is UNARY when nothing value-like precedes it — no space
      // between it and its operand (`SELECT -1`, `f(-1)`)
      val prevIsUnarySign = prev != null &&
        (prev.text == "-" || prev.text == "+") &&
        (prev2 == null || prev2.text == "(" || prev2.text == "[" ||
          prev2.text == "," ||
          (prev2.isInstanceOf[Punct] && prev2.text != ")" && prev2.text != "]") ||
          (isWordK(prev2) && keyword(prev2.text)))
      val sp =
        if (prev == null) ""
        else if (prevIsUnarySign) ""
        else if (t.text == "(" )
          // no space between a function name / ) / ] / '(' and its '('
          // (ANY/ALL are keywords in joins but functions before parens)
          if (isWordK(prev) && (!keyword(prev.text) ||
              Set("ANY", "ALL").contains(prev.text.toUpperCase))) ""
          else if (prev.text == ")" || prev.text == "]") ""
          else if (prev.text == "(" || prev.text == "[") ""
          else " "
        else if (t.text == ")" || t.text == "]" || t.text == "," ||
          t.text == "::" || t.text == ".") ""
        else if (prev.text == "." && isWordK(t) && keyword(t.text)) " "
        else if (prev.text == "(" || prev.text == "[" || prev.text == "::" ||
          prev.text == ".") ""
        else if (t.text == "[")
          if (isWordK(prev) && !keyword(prev.text)) "" else " "
        else " "
      sb.append(sp).append(t.text)
      prev2 = prev
      prev = t
    }
    sb.toString
  }

  private val kw = Set("SELECT", "FROM", "WHERE", "PREWHERE", "GROUP", "BY",
    "HAVING", "ORDER", "LIMIT", "OFFSET", "SETTINGS", "WITH", "DISTINCT",
    "UNION", "ALL", "AND", "OR", "NOT", "IN", "AS", "ON", "USING", "JOIN",
    "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ANY", "ASOF", "SEMI", "ANTI",
    "ARRAY", "BETWEEN", "LIKE", "ILIKE", "IS", "NULL", "CASE", "WHEN", "THEN",
    "ELSE", "END", "INTERVAL", "EXISTS", "ASC", "DESC", "TOTALS", "FILL",
    "INTERPOLATE", "TIES", "INTERSECT", "EXCEPT")
  private def keyword(w: String): Boolean = kw.contains(w.toUpperCase)

  private def isW(t: Tok, s: String): Boolean =
    isWordK(t) && t.text.equalsIgnoreCase(s)

  /** Split `ts` at depth-0 commas. */
  private def splitItems(ts: Seq[Tok]): Seq[Seq[Tok]] =
    if (ts.isEmpty) Nil else ChLex.splitTop(ts)

  /** Index of the `)` closing the `(` at `open`, or `ts.length` when it
    * never closes.
    */
  private def closeOf(ts: Seq[Tok], open: Int): Int = {
    val close = ChLex.balancedClose(ts, open)
    if (close < 0) ts.length else close
  }

  /** Indices of the binary operators among `ops` outside brackets. */
  private def topOps(ts: Seq[Tok], ops: String): Seq[Int] = {
    val depth = ChLex.depths(ts, brackets = true)
    ts.indices.filter(k => depth(k) == 0 && ts(k).isInstanceOf[Punct] &&
      ops.contains(ts(k).text) && !unarySlot(ts, k))
  }

  /** The first index from `from` whose token is a word outside brackets
    * (counted from `from`) and passes `p`, or `ts.length`.
    */
  private def topWord(ts: Seq[Tok], from: Int)(p: Int => Boolean): Int = {
    val depth = ChLex.depths(ts.drop(from), brackets = true)
    (from until ts.length).find(k => depth(k - from) == 0 && isWordK(ts(k)) && p(k))
      .getOrElse(ts.length)
  }

  /** Top-level SELECT-clause boundaries. Returns (clause → token slice). */
  private def clause(ts: Seq[Tok], i0: Int): Int = {
    // find next depth-0 clause keyword index from i0 (exclusive start);
    // UNION is handled by the caller
    topWord(ts, i0) { i =>
      val u = ts(i).text.toUpperCase
      u == "FROM" || u == "WHERE" || u == "PREWHERE" ||
        u == "HAVING" || u == "SETTINGS" || u == "LIMIT" ||
        ((u == "GROUP" || u == "ORDER") && i + 1 < ts.length &&
          isW(ts(i + 1), "BY"))
    }
  }

  /** Session toggle: optimize_injective_functions_inside_uniq — the
    * uniq-family injective strip only rewrites when the session set it
    * (format() is per-session single-threaded in the corpus runner). */
  private val uniqStrip = new scala.util.DynamicVariable[Boolean](false)
  /** optimize_arithmetic_operations_in_aggregate_functions (default on). */
  private val aggArith = new scala.util.DynamicVariable[Boolean](true)

  private val ieModes =
    new scala.util.DynamicVariable[(String, String)](("DISTINCT", "DISTINCT"))

  /** optimize_duplicate_order_by_and_distinct (01455). */
  private val dupDistinct = new scala.util.DynamicVariable[Boolean](false)
  /** rewrite_like_function (48011). */
  private val likeRw = new scala.util.DynamicVariable[Boolean](false)
  /** optimize_if_chain_to_multiif (01388). */
  private val ifChain = new scala.util.DynamicVariable[Boolean](false)
  /** optimize_group_by_function_keys (01300) — CH default on. */
  private val gbFnKeys = new scala.util.DynamicVariable[Boolean](true)
  /** optimize_aggregators_of_group_by_keys (01321) — CH default on. */
  private val aggOfKeys = new scala.util.DynamicVariable[Boolean](true)
  /** optimize_if_transform_strings_to_enum (01324). */
  private val strToEnum = new scala.util.DynamicVariable[Boolean](false)

  def format(query: String,
      columnsOf: String => Option[Seq[String]] = _ => None,
      stripUniqInjective: Boolean = false,
      arithInAgg: Boolean = true,
      intersectMode: String = "DISTINCT",
      exceptMode: String = "DISTINCT",
      dropDupDistinct: Boolean = false,
      rewriteLike: Boolean = false,
      ifToMultiIf: Boolean = false,
      groupByFnKeys: Boolean = true,
      aggregatorsOfKeys: Boolean = true,
      transformToEnum: Boolean = false): Seq[String] =
    uniqStrip.withValue(stripUniqInjective) {
      aggArith.withValue(arithInAgg) {
        ieModes.withValue((intersectMode, exceptMode)) {
          dupDistinct.withValue(dropDupDistinct) {
            likeRw.withValue(rewriteLike) {
              ifChain.withValue(ifToMultiIf) {
                gbFnKeys.withValue(groupByFnKeys) {
                  aggOfKeys.withValue(aggregatorsOfKeys) {
                    strToEnum.withValue(transformToEnum) {
                      format0(query, columnsOf)
                    }
                  }
                }
              }
            }
          }
        }
      }
    }

  private def format0(query: String,
      columnsOf: String => Option[Seq[String]]): Seq[String] = {
    val ts = tokens(query)
    val out = formatUnion(ts, 0, columnsOf)
    // quirk preserved from the reference formatter: a mixed chain whose
    // first rendered element is a parenthesized group prints a leading
    // blank line (01732 golden)
    if (out.headOption.contains("(")) "" +: out else out
  }

  /** Union-mode token triples at depth 0: (index, isAll, isDistinct). */
  private def unionSplits(ts: Seq[Tok]): Seq[(Int, String)] = {
    val depth = ChLex.depths(ts, brackets = true)
    ts.indices.filter(i => depth(i) == 0 && isW(ts(i), "UNION")).map { i =>
      (i, if (i + 1 < ts.length && isW(ts(i + 1), "ALL")) "ALL" else "DISTINCT")
    }
  }

  private def stripOuterParens(ts: Seq[Tok]): Seq[Tok] = {
    var cur = ts
    var changed = true
    while (changed && cur.length >= 2 && cur.head.text == "(" &&
        cur.last.text == ")") {
      changed = false
      // the opening paren must match the closing one (or never close)
      val close = ChLex.balancedClose(cur, 0)
      if (close < 0 || close == cur.length - 1) {
        cur = cur.slice(1, cur.length - 1); changed = true
      }
    }
    cur
  }

  // ---- union-chain normalization (the reference's
  // normalizeSelectWithUnionQuery): group everything up to the LAST
  // UNION DISTINCT into one DISTINCT chain (nested chains of either
  // mode splice into it — distinct over all rows either way), then the
  // remaining UNION ALL tail splices flat ----
  private sealed trait UNode
  private final case class USel(ts: Seq[Tok]) extends UNode
  private final case class UChain(all: Boolean, cs: Vector[UNode]) extends UNode

  private def parseUnion(ts0: Seq[Tok]): UNode = {
    val ts = stripOuterParens(ts0)
    val splits = unionSplits(ts)
    if (splits.isEmpty) return USel(ts)
    val bounds = (0 +: splits.map { case (i, m) =>
      i + (if (i + 1 < ts.length && (isW(ts(i + 1), "ALL") ||
        isW(ts(i + 1), "DISTINCT"))) 2 else 1)
    }).zip(splits.map(_._1) :+ ts.length)
    val branches = bounds.map { case (s, e) => parseUnion(ts.slice(s, e)) }
    build(branches.toVector, splits.map(_._2).toVector)
  }

  private def spliceAll(c: UNode): Vector[UNode] = c match {
    case UChain(true, kids) => kids.flatMap(spliceAll)
    case other => Vector(other)
  }
  private def spliceAny(c: UNode): Vector[UNode] = c match {
    case UChain(_, kids) => kids.flatMap(spliceAny)
    case other => Vector(other)
  }

  private def build(branches: Vector[UNode], modes: Vector[String]): UNode = {
    if (modes.forall(_ == "ALL"))
      UChain(all = true, branches.flatMap(spliceAll))
    else if (modes.forall(_ == "DISTINCT"))
      UChain(all = false, branches.flatMap(spliceAny))
    else {
      val lastD = modes.lastIndexOf("DISTINCT")
      val group = UChain(all = false,
        branches.take(lastD + 2).flatMap(spliceAny))
      val rest = branches.drop(lastD + 2)
      if (rest.isEmpty) group
      else UChain(all = true, (group +: rest).flatMap(spliceAll))
    }
  }

  private def renderNode(n: UNode, indent: Int,
      columnsOf: String => Option[Seq[String]]): Seq[String] = {
    val pad = " " * indent
    n match {
      case USel(ts) => formatSelect(ts, indent, columnsOf)
      case UChain(all, cs) =>
        val kw = if (all) "UNION ALL" else "UNION DISTINCT"
        val lines = ArrayBuffer[String]()
        cs.zipWithIndex.foreach { case (c, i) =>
          if (i > 0) lines += pad + kw
          c match {
            case g: UChain =>
              lines += pad + "("
              lines ++= renderNode(g, indent + 4, columnsOf)
              lines += pad + ")"
            case s: USel => lines ++= renderNode(s, indent, columnsOf)
          }
        }
        lines.toSeq
    }
  }

  /** Depth-0 set-operation splits incl. INTERSECT/EXCEPT: Seq of
    * (separator label, branch tokens); None when the chain is
    * UNION-only (the UNION normalizer handles those). */
  private def setopChain(ts0: Seq[Tok]): Option[Seq[(String, Seq[Tok])]] = {
    val ts = stripOuterParens(ts0)
    val depth = ChLex.depths(ts, brackets = true)
    val cuts = ArrayBuffer[(Int, Int, String)]() // (from, to, label)
    var i = 0
    var sawIE = false
    while (i < ts.length) {
      ts(i).text match {
        case _ if depth(i) == 0 && isWordK(ts(i)) =>
          val u = ts(i).text.toUpperCase
          if (u == "UNION" || u == "INTERSECT" || u == "EXCEPT") {
            if (u != "UNION") sawIE = true
            val hasMode = i + 1 < ts.length &&
              (isW(ts(i + 1), "ALL") || isW(ts(i + 1), "DISTINCT"))
            val mode =
              if (hasMode) ts(i + 1).text.toUpperCase
              else if (u == "UNION") "DISTINCT"
              else if (u == "INTERSECT") ieModes.value._1
              else ieModes.value._2
            cuts += ((i, i + (if (hasMode) 2 else 1), s"$u $mode"))
            if (hasMode) i += 1
          }
        case _ => ()
      }
      i += 1
    }
    if (!sawIE || cuts.isEmpty) return None
    val bounds = (0 +: cuts.map(_._2)).zip(cuts.map(_._1) :+ ts.length)
    val branches = bounds.map { case (s, e) => ts.slice(s, e) }
    val labels = "" +: cuts.map(_._3)
    Some(labels.zip(branches).toSeq)
  }

  private def formatUnion(ts0: Seq[Tok], indent: Int,
      columnsOf: String => Option[Seq[String]]): Seq[String] =
    setopChain(ts0) match {
      case Some(chain) =>
        // INTERSECT/EXCEPT chain: branches flat at one level, nested
        // parenthesized chains SPLICED inline (02004 goldens)
        val lines = ArrayBuffer[String]()
        val pad = " " * indent
        chain.foreach { case (label, branch0) =>
          if (label.nonEmpty) lines += pad + label
          val branch = stripOuterParens(branch0)
          if (setopChain(branch).isDefined ||
              unionSplits(branch).nonEmpty)
            lines ++= formatUnion(branch, indent, columnsOf)
          else lines ++= formatSelect(branch, indent, columnsOf)
        }
        lines.toSeq
      case None => renderNode(parseUnion(ts0), indent, columnsOf)
    }

  private def formatSelect(ts0: Seq[Tok], indent: Int,
      columnsOf: String => Option[Seq[String]]): Seq[String] = {
    val ts = stripOuterParens(ts0)
    val pad = " " * indent
    val lines = ArrayBuffer[String]()
    if (ts.isEmpty) return Nil
    var i = 0
    // WITH prologue
    if (isW(ts(i), "WITH")) {
      // ends at the depth-0 SELECT
      val sel = topWord(ts, i + 1)(j => isW(ts(j), "SELECT"))
      val items = splitItems(ts.slice(i + 1, sel))
      if (items.length == 1) lines += pad + "WITH " + renderWithItem(items.head, indent, columnsOf)
      else {
        lines += pad + "WITH"
        items.zipWithIndex.foreach { case (it, k) =>
          lines += pad + "    " + renderWithItem(it, indent + 4, columnsOf) +
            (if (k < items.length - 1) "," else "")
        }
      }
      i = sel
    }
    if (i >= ts.length || !isW(ts(i), "SELECT"))
      return Seq(pad + render(ts.drop(i))) // not a SELECT: echo
    i += 1
    var distinct = false
    if (i < ts.length && isW(ts(i), "DISTINCT")) { distinct = true; i += 1 }
    // optimize_duplicate_order_by_and_distinct: an outer DISTINCT whose
    // item set equals the inner SELECT DISTINCT's output-name set is
    // redundant and prints dropped (01455)
    def itemName(it: Seq[Tok]): String = {
      val asAt = it.lastIndexWhere(isW(_, "AS"))
      if (asAt >= 0 && asAt == it.length - 2) it.last.text
      else if (it.length >= 2 && isWordK(it.last) &&
          !keyword(it.last.text) && !it.last.text.head.isDigit && {
            val p = it(it.length - 2)
            (isWordK(p) && !keyword(p.text)) || isLitK(p) ||
              p.text == ")" || p.text == "]"
          }) it.last.text // implicit alias
      else render(it)
    }
    val selEnd = clause(ts, i)
    var items = splitItems(ts.slice(i, selEnd))
    i = selEnd
    // locate FROM for star expansion + formatting
    var fromTable: Option[String] = None
    var fromSub: Option[Seq[Tok]] = None
    var fromTail: Seq[Tok] = Nil
    if (i < ts.length && isW(ts(i), "FROM")) {
      val fe = clause(ts, i + 1)
      val body = ts.slice(i + 1, fe)
      if (body.nonEmpty && body.head.text == "(") {
        // the subquery part and whatever trails its close (alias, joins)
        val close = ChLex.balancedClose(body, 0)
        if (close == body.length - 1) fromSub = Some(body)
        else { fromSub = Some(body.take(close + 1)); fromTail = body.drop(close + 1) }
      } else if (body.length == 1 && isWordK(body.head)) {
        fromTable = Some(body.head.text)
      } else fromTail = body
      i = fe
    }
    // star expansion over a known plain table (system.one's single
    // column is `dummy`; the db-stripped spelling prints back qualified)
    def tableCols(t: String): Option[Seq[String]] = {
      val bare = t.replaceAll("`", "")
      if (bare == "one" || bare == "system.one") Some(Seq("dummy"))
      else columnsOf(bare)
    }
    if (fromTable.contains("one")) fromTable = Some("system.one")
    if (fromTable.contains("numbers")) fromTable = Some("system.numbers")
    if (fromTable.contains("numbers_mt"))
      fromTable = Some("system.numbers_mt")
    if (items.length == 1 && items.head.length == 1 &&
        items.head.head.text == "*") {
      fromTable.flatMap(tableCols) match {
        case Some(cols) if cols.nonEmpty =>
          items = cols.map(c => Seq(Word(c)))
        case _ => ()
      }
    }
    // optimize_aggregators_of_group_by_keys: min/max/any/anyLast whose
    // argument is a function of the GROUP BY keys collapses to the
    // argument (01321)
    if (aggOfKeys.value) {
      // the GROUP BY items of THIS select level
      val gAt = topWord(ts, i)(k => isW(ts(k), "GROUP"))
      if (gAt < ts.length) {
        val ge = clause(ts, gAt + 2)
        val keys = splitItems(ts.slice(gAt + 2, ge))
          .map(k0 => stripOuterParens(k0).map(_.text))
          .filter(_.nonEmpty)
        def coveredByKeys(arg: Seq[Tok]): Boolean = {
          val txts = arg.map(_.text)
          val covered = Array.fill(arg.length)(false)
          keys.foreach { key =>
            var k = 0
            while (k + key.length <= txts.length) {
              if (txts.slice(k, k + key.length) == key)
                (k until k + key.length).foreach(covered(_) = true)
              k += 1
            }
          }
          arg.indices.forall { k =>
            covered(k) || !isWordK(arg(k)) || keyword(arg(k).text) ||
              arg(k).text.head.isDigit ||
              (k + 1 < arg.length && arg(k + 1).text == "(") // fn name
          }
        }
        val reducible = Set("min", "max", "any", "anylast")
        def reduceItem(it: Seq[Tok]): Seq[Tok] = {
          if (it.length >= 3 && isWordK(it.head) &&
              reducible.contains(it.head.text.toLowerCase) &&
              it(1).text == "(") {
            val m = closeOf(it, 1)
            if (m < it.length) {
              val arg = it.slice(2, m)
              val tail = it.drop(m + 1) // e.g. ` AS a`
              if (arg.nonEmpty && coveredByKeys(arg) &&
                  !arg.exists(t => t.text == ","))
                return arg ++ tail
            }
          }
          it
        }
        items = items.map(reduceItem)
      }
    }
    // CH always prints an alias with explicit AS: a select item ending
    // in two adjacent value tokens (`expr alias`) gains the keyword
    def withAs(it: Seq[Tok]): Seq[Tok] = {
      val winKw = Set("OVER", "ROWS", "RANGE", "PRECEDING", "FOLLOWING",
        "UNBOUNDED", "CURRENT", "ROW", "FILTER", "RESPECT", "IGNORE",
        "NULLS", "FIRST", "LAST")
      if (it.length >= 2 && isWordK(it.last) && !keyword(it.last.text) &&
          !winKw.contains(it.last.text.toUpperCase) &&
          !it.last.text.head.isDigit && {
            val p = it(it.length - 2)
            ((isWordK(p) && !keyword(p.text) &&
              !winKw.contains(p.text.toUpperCase)) || isLitK(p) ||
              p.text == ")" || p.text == "]")
          } && !it.exists(t => isW(t, "INTERVAL") || isW(t, "OVER")))
        it.init ++ Seq(Word("AS"), it.last)
      else it
    }
    if (distinct && dupDistinct.value && fromSub.isDefined) {
      // the guaranteed-distinct output-name set of a subquery: a SELECT
      // DISTINCT's items, or — through a plain projection that passes
      // those names unchanged — its own subquery's set
      def distinctNames(sub0: Seq[Tok], depth: Int): Option[Set[String]] = {
        if (depth > 4) return None
        val inner = stripOuterParens(sub0)
        var k = 0
        if (k >= inner.length || !isW(inner(k), "SELECT")) return None
        k += 1
        val isDist = k < inner.length && isW(inner(k), "DISTINCT")
        if (isDist) k += 1
        val selEndI = clause(inner, k)
        val names = splitItems(inner.slice(k, selEndI)).map(itemName)
        if (isDist) Some(names.toSet)
        else {
          // plain projection: find ITS subquery and require the deeper
          // distinct set to survive this projection by name
          var j2 = selEndI
          if (j2 < inner.length && isW(inner(j2), "FROM")) {
            val fe = clause(inner, j2 + 1)
            val body = inner.slice(j2 + 1, fe)
            if (body.nonEmpty && body.head.text == "(")
              distinctNames(body, depth + 1) match {
                case Some(deep) if deep.subsetOf(names.toSet) => Some(deep)
                case _ => None
              }
            else None
          } else None
        }
      }
      // a join tail re-multiplies rows — only a PLAIN subquery source
      // makes the outer DISTINCT redundant
      if (fromTail.isEmpty)
        distinctNames(fromSub.get, 0) match {
          case Some(inNames) if items.map(itemName).toSet == inNames =>
            distinct = false
          case _ => ()
        }
    }
    val selKw = pad + (if (distinct) "SELECT DISTINCT" else "SELECT")
    if (items.length == 1) lines += selKw + " " + render(withAs(items.head))
    else {
      lines += selKw
      items.zipWithIndex.foreach { case (it, k) =>
        lines += pad + "    " + render(withAs(it)) +
          (if (k < items.length - 1) "," else "")
      }
    }
    // table aliases print with explicit AS; each JOIN lands on its own
    // line (IAST::FormatSettings one_line=false join layout)
    def aliasify(ts2: Seq[Tok], afterParen: Boolean = false): Seq[Tok] = {
      val out2 = ArrayBuffer[Tok]()
      ts2.zipWithIndex.foreach { case (t, k) =>
        val prevOk = out2.lastOption.exists(p =>
          (isWordK(p) && !keyword(p.text)) || p.text == ")") ||
          (k == 0 && afterParen)
        if (isWordK(t) && !keyword(t.text) && !t.text.head.isDigit &&
            prevOk && (k + 1 >= ts2.length || ts2(k + 1).text != "(" &&
              ts2(k + 1).text != "."))
          out2 += Word("AS")
        out2 += t
      }
      out2.toSeq
    }
    def joinSplit(ts2: Seq[Tok]): Seq[Seq[Tok]] = {
      val joinKw = Set("CROSS", "INNER", "LEFT", "RIGHT", "FULL", "GLOBAL",
        "ANY", "ALL", "ASOF", "SEMI", "ANTI", "PASTE")
      val cuts = ArrayBuffer[Int]()
      val depth = ChLex.depths(ts2, brackets = true)
      ts2.indices.foreach { k =>
        ts2(k).text match {
          case _ if depth(k) == 0 && isWordK(ts2(k)) =>
            val u = ts2(k).text.toUpperCase
            if (u == "JOIN" || (joinKw.contains(u) && ts2.drop(k + 1)
                .find(!_.text.isEmpty).exists(_ => true) && {
              // a join-prefix run ending in JOIN
              var m = k
              var okRun = true
              while (okRun && m < ts2.length &&
                  !isW(ts2(m), "JOIN")) {
                okRun = isWordK(ts2(m)) &&
                  joinKw.contains(ts2(m).text.toUpperCase)
                m += 1
              }
              okRun && m < ts2.length
            })) {
              // only cut at the START of the run
              val prevW = (k - 1 >= 0) && isWordK(ts2(k - 1)) &&
                (joinKw.contains(ts2(k - 1).text.toUpperCase) ||
                  isW(ts2(k - 1), "JOIN"))
              if (!prevW) cuts += k
            }
          case _ => ()
        }
      }
      if (cuts.isEmpty) Seq(ts2)
      else {
        val bounds = (0 +: cuts.toSeq).zip(cuts.toSeq :+ ts2.length)
        bounds.map { case (a, b) => ts2.slice(a, b) }
      }
    }
    def fromTailLines(ts2: Seq[Tok], firstPrefix: String): Unit = {
      val segs = joinSplit(aliasify(ts2,
        afterParen = firstPrefix.endsWith(")")))
      segs.zipWithIndex.foreach { case (seg, k) =>
        if (k == 0) {
          val t0 = render(seg)
          if (t0.nonEmpty) lines += firstPrefix + (
            if (firstPrefix.endsWith("(") || firstPrefix.trim.isEmpty ||
              firstPrefix.endsWith(")")) (if (t0.startsWith("AS")) " " + t0
              else " " + t0)
            else t0)
          else if (firstPrefix.trim.nonEmpty) lines += firstPrefix
        }
        else lines += pad + render(seg)
      }
    }
    if (fromTable.isDefined) lines += pad + "FROM " + fromTable.get
    else if (fromSub.isDefined) {
      lines += pad + "FROM"
      lines += pad + "("
      lines ++= formatUnion(fromSub.get, indent + 4, columnsOf)
      if (fromTail.nonEmpty) fromTailLines(fromTail, pad + ")")
      else lines += pad + ")"
    } else if (fromTail.nonEmpty) {
      val segs = joinSplit(aliasify(fromTail))
      lines += pad + "FROM " + render(segs.head)
      segs.drop(1).foreach(seg => lines += pad + render(seg))
    }
    // optimize_group_by_function_keys companion: a HAVING that uses no
    // aggregate moves to WHERE (printed before GROUP BY — 01300_having)
    var ts2 = ts
    if (true) { // aggregate-free HAVING always prints moved to WHERE
      var havingAt = -1
      var groupAt = -1
      val depth = ChLex.depths(ts2.drop(i), brackets = true)
      (i until ts2.length).foreach { k =>
        if (depth(k - i) == 0 && isWordK(ts2(k))) {
          val u = ts2(k).text.toUpperCase
          if (u == "HAVING" && havingAt < 0) havingAt = k
          if (u == "GROUP" && groupAt < 0) groupAt = k
          if (u == "WHERE") havingAt = -2 // existing WHERE: leave as-is
        }
      }
      if (havingAt >= 0 && groupAt >= 0 && havingAt > groupAt) {
        val he = clause(ts2, havingAt + 1)
        val hav = ts2.slice(havingAt + 1, he)
        val aggNames = Set("sum", "min", "max", "avg", "count", "uniq",
          "uniqexact", "any", "grouparray")
        val hasAgg = hav.exists(t => isWordK(t) &&
          aggNames.contains(t.text.toLowerCase))
        if (!hasAgg && hav.nonEmpty) {
          ts2 = ts2.take(havingAt) ++ ts2.slice(he, ts2.length)
          val g = ts2.indexWhere(x => isW(x, "GROUP"), i)
          if (g >= 0)
            ts2 = ts2.take(g) ++ Vector(Word("WHERE")) ++ hav ++
              ts2.drop(g)
        }
      }
    }
    // remaining clauses in order
    while (i < ts2.length) {
      val u = ts2(i).text.toUpperCase
      u match {
        case "WHERE" | "PREWHERE" | "HAVING" | "SETTINGS" =>
          val e = clause(ts2, i + 1)
          lines += pad + u + " " + render(ts2.slice(i + 1, e))
          i = e
        case "GROUP" =>
          val e = clause(ts2, i + 2)
          var gs = splitItems(ts2.slice(i + 2, e))
          // optimize_group_by_function_keys: a key whose TOP-LEVEL
          // arguments are all other keys or literals is redundant
          // (non-recursive — a composite argument keeps the key, 01300)
          if (gbFnKeys.value && gs.length > 1) {
            def txt(x: Seq[Tok]) = render(stripOuterParens(x))
            val keyTexts = gs.map(txt)
            def topArgs(item0: Seq[Tok]): Seq[Seq[Tok]] = {
              val item = stripOuterParens(item0)
              // operator form: split at the lowest-precedence depth-0 ops
              val ops = topOps(item, "+-*/%")
              if (ops.nonEmpty) {
                def prec(k: Int) = if ("+-".contains(item(k).text)) 1 else 2
                val lo = ops.map(prec).min
                val cut = ops.filter(prec(_) == lo).toSeq
                val bounds = (0 +: cut.map(_ + 1)).zip(cut :+ item.length)
                bounds.map { case (a, b) => item.slice(a, b) }.toSeq
              } else if (item.length > 2 && isWordK(item.head) &&
                  !keyword(item.head.text) && item(1).text == "(" &&
                  item.last.text == ")")
                splitItems(item.slice(2, item.length - 1))
              else Seq(item)
            }
            gs = gs.filter { g =>
              val args = topArgs(g)
              val self = txt(g)
              !(args.length > 1 || (args.length == 1 &&
                  txt(args.head) != self)) || {
                // every top-level argument must itself be ANOTHER key
                // (a literal argument keeps the key — (n%2) % 3 stays,
                // (n%5)*(n%5) drops; 01300 goldens)
                val others = keyTexts.filterNot(_ == self).toSet
                !args.forall(a => others.contains(txt(a)))
              }
            }
          }
          if (gs.length == 1) lines += pad + "GROUP BY " + render(gs.head)
          else {
            lines += pad + "GROUP BY"
            gs.zipWithIndex.foreach { case (g, k) =>
              lines += pad + "    " + render(g) +
                (if (k < gs.length - 1) "," else "")
            }
          }
          i = e
        case "ORDER" =>
          val e = clause(ts2, i + 2)
          val os = splitItems(ts2.slice(i + 2, e)).map { o =>
            val hasDir = o.exists(t => isW(t, "ASC") || isW(t, "DESC") ||
              isW(t, "ASCENDING") || isW(t, "DESCENDING"))
            if (hasDir) render(o)
            else {
              // implicit ASC lands before any WITH FILL tail
              val fillAt = o.indices.find(k => isW(o(k), "WITH") &&
                k + 1 < o.length && isW(o(k + 1), "FILL"))
              fillAt match {
                case Some(f) => render(o.take(f)) + " ASC " + render(o.drop(f))
                case None => render(o) + " ASC"
              }
            }
          }
          if (os.length == 1) lines += pad + "ORDER BY " + os.head
          else {
            lines += pad + "ORDER BY"
            os.zipWithIndex.foreach { case (o, k) =>
              lines += pad + "    " + o + (if (k < os.length - 1) "," else "")
            }
          }
          i = e
        case "LIMIT" =>
          val e = clause(ts2, i + 1)
          val body = ts2.slice(i + 1, e)
          val byAt = body.indices.find(k => isW(body(k), "BY"))
          byAt match {
            case Some(b) =>
              // LIMIT n BY expr[, …]: star expands like the select list,
              // multi-item lists indent one per line
              var byItems = splitItems(body.drop(b + 1))
              if (byItems.length == 1 && byItems.head.length == 1 &&
                  byItems.head.head.text == "*")
                fromTable.flatMap(tableCols) match {
                  case Some(cols) if cols.nonEmpty =>
                    byItems = cols.map(c => Seq(Word(c)))
                  case _ => ()
                }
              val head = pad + "LIMIT " + render(body.take(b)) + " BY"
              if (byItems.length == 1)
                lines += head + " " + render(byItems.head)
              else {
                lines += head
                byItems.zipWithIndex.foreach { case (o, k) =>
                  lines += pad + "    " + render(o) +
                    (if (k < byItems.length - 1) "," else "")
                }
              }
            case None =>
              lines += pad + "LIMIT " + render(body)
          }
          i = e
        case _ =>
          // unknown tail (FORMAT …, INTO OUTFILE …): echo and stop
          lines += pad + render(ts2.drop(i))
          i = ts2.length
      }
    }
    lines.toSeq
  }

  /** A WITH item may be a CTE (`name AS (subquery)`) — format its body
    * multi-line like the reference does; scalar items echo verbatim. */
  private def renderWithItem(it: Seq[Tok], indent: Int,
      columnsOf: String => Option[Seq[String]]): String = {
    // CTE shape: word AS ( … )
    if (it.length >= 4 && isWordK(it.head) && isW(it(1), "AS") &&
        it(2).text == "(" && it.last.text == ")") {
      val inner = formatUnion(it.slice(3, it.length - 1), indent + 4, columnsOf)
      (it.head.text + " AS\n" + " " * indent + "(\n" +
        inner.mkString("\n") + "\n" + " " * indent + ")")
    } else render(it)
  }
}
