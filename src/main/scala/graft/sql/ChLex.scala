package graft.sql

import scala.collection.mutable.ArrayBuffer

/** The ClickHouse dialect's one lexer: what a string literal, a quoted
  * identifier, a comment, whitespace and a bracket are, for every
  * scanner in the dialect layer (ChTranspiler's passes, ChSession's
  * DDL/DML parsers, ChSyntaxFormat, the corpus runner).
  *
  *  - `'…'` is a string; `` `…` `` is an identifier; `"…"` is a string
  *    under `graft.ch.dialect=MYSQL` (`SET dialect_type='MYSQL'`) and an
  *    identifier otherwise. `'` and `"` take backslash escapes, backticks
  *    none; an unclosed quote runs to the end of the text.
  *  - `--` and `#` comment to the end of the line, `/* */` to its close
  *    (reference Lexer.cpp). [[tokenize]] sees comments only when asked:
  *    the transpiler's passes run on comment-free text.
  *  - Identifiers are letters, digits, `_` and `$`, not starting with a
  *    digit; numbers start with a digit (or `.digit`) and run over
  *    letters, digits, `.` and an exponent's sign.
  *  - Whitespace is Java whitespace plus U+00A0; tokens render it as
  *    ASCII (U+3000 in 600201_mysql_if would otherwise reach Spark).
  *  - `(`/`)` are parens (the transpiler's grouping); `(`, `[`, `{` and
  *    their closers are brackets (list splitting).
  */
private[graft] object ChLex {

  sealed trait Tok { def text: String }
  final case class Word(text: String) extends Tok
  final case class Str(text: String) extends Tok
  final case class Num(text: String) extends Tok
  final case class Punct(text: String) extends Tok
  final case class Ws(text: String) extends Tok
  final case class Comment(text: String) extends Tok

  /** True under `graft.ch.dialect=MYSQL`, where `"…"` is a string. */
  def mysqlDialect: Boolean =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("graft.ch.dialect", "CLICKHOUSE") == "MYSQL"
    catch { case _: Throwable => false }

  private def isSpace(c: Char): Boolean = c.isWhitespace || c == '\u00A0'

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'

  private def isIdentPart(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '$'

  /** Index of the quote closing the quoted token opening at `i`, or -1
    * when it runs to the end of `s` unclosed.
    */
  private def closingQuote(s: String, i: Int): Int = {
    val q = s.charAt(i)
    var j = i + 1
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == '\\' && q != '`' && j + 1 < s.length) j += 2
      else if (c == q) return j
      else j += 1
    }
    -1
  }

  /** End (exclusive) of the quoted token opening at `i`. */
  private def quoteEnd(s: String, i: Int): Int = {
    val c = closingQuote(s, i)
    if (c < 0) s.length else c + 1
  }

  /** True when the quoted token `q` ends with its own closing quote. */
  def quoteClosed(q: String): Boolean =
    q.nonEmpty && isQuote(q.head) && closingQuote(q, 0) == q.length - 1

  /** End (exclusive) of the comment starting at `i`, or -1 when none
    * does; a line comment ends before its newline.
    */
  private def commentEnd(s: String, i: Int): Int = {
    val c = s.charAt(i)
    if (c == '#' || (c == '-' && s.startsWith("-", i + 1))) {
      val e = s.indexOf('\n', i)
      if (e < 0) s.length else e
    } else if (c == '/' && s.startsWith("*", i + 1)) {
      val e = s.indexOf("*/", i + 2)
      if (e < 0) s.length else e + 2
    } else -1
  }

  /** `s` as tokens whose texts concatenate back to `s`, except that
    * whitespace renders as ASCII (same length). With `comments`, each
    * comment is one [[Comment]] token; without, comment markers are
    * punctuation.
    */
  def tokenize(s: String, comments: Boolean = false): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    lazy val dquoteIsString = mysqlDialect
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      val j = i
      val ce = if (comments) commentEnd(s, i) else -1
      if (ce >= 0) {
        i = ce; out += Comment(s.substring(j, i))
      } else if (isSpace(c)) {
        while (i < n && isSpace(s.charAt(i))) i += 1
        out += Ws(s.substring(j, i)
          .map(ch => if (ch > ' ' || ch == ' ') ' ' else ch))
      } else if (isQuote(c)) {
        i = quoteEnd(s, i)
        val t = s.substring(j, i)
        out += (if (c == '\'' || (c == '"' && dquoteIsString)) Str(t) else Word(t))
      } else if (c.isLetter || c == '_' || c == '$') {
        while (i < n && isIdentPart(s.charAt(i))) i += 1
        out += Word(s.substring(j, i))
      } else if (c.isDigit ||
          (c == '.' && i + 1 < n && s.charAt(i + 1).isDigit)) {
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '.' ||
          ((s.charAt(i) == '+' || s.charAt(i) == '-') && i > j &&
            (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E')))) i += 1
        out += Num(s.substring(j, i))
      } else {
        out += Punct(c.toString); i += 1
      }
    }
    out.result()
  }

  /** The text of `ts`: the one way tokens become text again. */
  def render(ts: Seq[Tok]): String = ts.map(_.text).mkString

  /** True when `a` and `b` render to the same text. */
  def sameText(a: Seq[Tok], b: Seq[Tok]): Boolean = render(a) == render(b)

  /** True when `a`'s text followed by `b`'s would not lex back as the
    * two tokens: a word runs on over identifier characters, a number over
    * letters, digits, `.` and an exponent's sign, and `.` into digits.
    */
  def runsInto(a: Tok, b: Tok): Boolean = {
    val c = b.text.head
    a match {
      case Word(w) => !isQuote(w.head) && isIdentPart(c)
      case Num(n) => c.isLetterOrDigit || c == '.' ||
        ((c == '+' || c == '-') && (n.last == 'e' || n.last == 'E'))
      case Punct(".") => c.isDigit
      case _ => false
    }
  }

  /** Start offset in the source text of every token, plus the text's
    * length at the end.
    */
  def offsets(ts: Seq[Tok]): Array[Int] = ts.scanLeft(0)(_ + _.text.length).toArray

  /** Calls `f(start, end, isComment)` on each lexical unit of `s` in
    * order: a quoted token and a comment are one unit each, every other
    * character is a unit of its own.
    */
  def foreachUnit(s: String)(f: (Int, Int, Boolean) => Unit): Unit = {
    var i = 0
    while (i < s.length) {
      val ce = commentEnd(s, i)
      val e = if (ce >= 0) ce else if (isQuote(s.charAt(i))) quoteEnd(s, i) else i + 1
      f(i, e, ce >= 0)
      i = e
    }
  }

  /** `s` without comments: a line comment drops (its newline stays), a
    * block comment becomes one space.
    */
  def stripComments(s: String): String = {
    val sb = new StringBuilder(s.length)
    foreachUnit(s) { (a, b, comment) =>
      if (!comment) sb.append(s.substring(a, b))
      else if (s.charAt(a) == '/') sb.append(' ')
    }
    sb.toString
  }

  /** `s` with whitespace outside quotes rendered as ASCII (the session's
    * regex parsers match `\s`, which misses U+3000 and U+00A0).
    */
  def normalizeSpace(s: String): String =
    if (s.forall(_ < '\u0080')) s else render(tokenize(s))

  /** `s` with the inside of every string literal replaced by `_`, same
    * length: a regex over the result cannot match literal text.
    */
  def maskStrings(s: String): String = tokenize(s).map {
    case Str(t) =>
      val closed = quoteClosed(t)
      t.head + "_" * (t.length - (if (closed) 2 else 1)) + (if (closed) t.last.toString else "")
    case t => t.text
  }.mkString

  // ---- token cursors: free functions on the vector, not a view bound
  // to one, since several passes rebuild their vector mid-pass.

  /** Index of the first non-whitespace token at or after `j`
    * (`ts.length` when there is none).
    */
  def nextSig(ts: collection.Seq[Tok], j: Int): Int = {
    var k = j
    while (k < ts.length && ts(k).isInstanceOf[Ws]) k += 1
    k
  }

  /** Index of the last non-whitespace token at or before `j` (-1 when
    * there is none).
    */
  def prevSig(ts: collection.Seq[Tok], j: Int): Int = {
    var k = j
    while (k >= 0 && ts(k).isInstanceOf[Ws]) k -= 1
    k
  }

  private def isOpen(t: Tok, brackets: Boolean): Boolean = t match {
    case Punct("(") => true
    case Punct("[" | "{") => brackets
    case _ => false
  }

  private def isClose(t: Tok, brackets: Boolean): Boolean = t match {
    case Punct(")") => true
    case Punct("]" | "}") => brackets
    case _ => false
  }

  /** Index of the `)` that closes the `(` at `open`, or -1 when the
    * parens never balance; with `brackets`, any closer of any opener.
    */
  def balancedClose(ts: collection.Seq[Tok], open: Int, brackets: Boolean = false): Int = {
    var d = 0
    var j = open
    while (j < ts.length) {
      if (isOpen(ts(j), brackets)) d += 1
      else if (isClose(ts(j), brackets)) { d -= 1; if (d == 0) return j }
      j += 1
    }
    -1
  }

  /** Index of the `(` that the `)` at `close` closes, or -1 when the
    * parens never balance; with `brackets`, any opener of any closer.
    */
  def balancedOpen(ts: collection.Seq[Tok], close: Int, brackets: Boolean = false): Int = {
    var d = 0
    var j = close
    while (j >= 0) {
      if (isClose(ts(j), brackets)) d += 1
      else if (isOpen(ts(j), brackets)) { d -= 1; if (d == 0) return j }
      j -= 1
    }
    -1
  }

  /** [[balancedClose]] for passes that treat an unclosed `(` as running
    * to the end: the LAST index (`ts.length - 1`) when the parens never
    * balance.
    */
  def matchClose(ts: Seq[Tok], open: Int): Int = {
    val close = balancedClose(ts, open)
    if (close < 0) ts.length - 1 else close
  }

  /** Paren depth of every token (bracket depth with `brackets`); an
    * opener and its closer both sit at the depth outside them.
    */
  def depths(ts: Seq[Tok], brackets: Boolean = false): Array[Int] = {
    val depth = new Array[Int](ts.length)
    var d = 0
    for (k <- ts.indices) {
      if (isClose(ts(k), brackets)) d -= 1
      depth(k) = d
      if (isOpen(ts(k), brackets)) d += 1
    }
    depth
  }

  /** Index of every token's enclosing `(` (-1 at top level); a `(` and
    * its `)` both map to the paren enclosing them. A `)` that closes
    * nothing stays at top level.
    */
  def parents(ts: Seq[Tok]): Array[Int] = {
    val parent = new Array[Int](ts.length)
    var stack = List(-1)
    for (k <- ts.indices) ts(k) match {
      case Punct("(") => parent(k) = stack.head; stack = k :: stack
      case Punct(")") => if (stack.tail.nonEmpty) stack = stack.tail; parent(k) = stack.head
      case _ => parent(k) = stack.head
    }
    parent
  }

  /** True when `(…)`, `[…]` and `{…}` nest: every closer closes an
    * opener of its own kind, and every opener closes.
    */
  def bracketsBalance(ts: Seq[Tok]): Boolean = {
    var open = List.empty[Int]
    val it = ts.iterator
    while (it.hasNext) it.next() match {
      case Punct(p) if "([{".contains(p) => open = "([{".indexOf(p) :: open
      case Punct(p) if ")]}".contains(p) =>
        if (open.headOption.contains(")]}".indexOf(p))) open = open.tail else return false
      case _ =>
    }
    open.isEmpty
  }

  /** True when the parens of `s` balance. */
  def balanced(s: String): Boolean = {
    val ts = tokenize(s)
    ts.isEmpty || depths(ts).last + (if (isOpen(ts.last, false)) 1 else 0) == 0
  }

  /** Indices of the commas outside brackets. */
  private def topCommas(ts: Seq[Tok]): IndexedSeq[Int] = {
    val depth = depths(ts, brackets = true)
    ts.indices.filter(k => depth(k) == 0 && ts(k) == Punct(","))
  }

  /** `ts` cut at every comma outside brackets (at least one part). */
  def splitTop(ts: Seq[Tok]): Seq[Seq[Tok]] = {
    val cuts = topCommas(ts)
    (-1 +: cuts).zip(cuts :+ ts.length).map { case (a, b) => ts.slice(a + 1, b) }
  }

  /** `s` cut at every comma outside brackets and quotes. */
  def splitTop(s: String): Seq[String] = {
    val ts = tokenize(s)
    val off = offsets(ts)
    val cuts = topCommas(ts)
    (-1 +: cuts).zip(cuts :+ ts.length).map { case (a, b) =>
      s.substring(if (a < 0) 0 else off(a) + 1, off(b))
    }.toList
  }

  /** The body of the leading `( … )` of `s` and the text after it. */
  def matchParen(s: String): (String, String) = {
    require(s.startsWith("("), s"expected '(': ${s.take(20)}")
    val ts = tokenize(s)
    val close = balancedClose(ts, 0)
    if (close < 0) throw new IllegalArgumentException(s"unbalanced parens: ${s.take(40)}")
    val at = offsets(ts)(close)
    (s.substring(1, at), s.substring(at + 1))
  }

  /** The `( … )` bodies of a VALUES clause, the commas between them
    * optional as the reference parser allows.
    */
  def splitTuples(s: String): Seq[String] = {
    val ts = tokenize(s)
    val off = offsets(ts)
    val out = ArrayBuffer[String]()
    var k = 0
    while (k < ts.length) {
      if (ts(k) == Punct("(")) {
        val close = balancedClose(ts, k)
        if (close < 0)
          throw new IllegalArgumentException(s"unbalanced parens: ${s.substring(off(k)).take(40)}")
        out += s.substring(off(k) + 1, off(close))
        k = close
      }
      k += 1
    }
    out.toSeq
  }

  /** Offset in `s` of the first `=` outside brackets and quotes that is
    * not part of `==`, `!=`, `<=` or `>=`.
    */
  def topLevelEq(s: String): Int = {
    val ts = tokenize(s)
    val off = offsets(ts)
    val depth = depths(ts, brackets = true)
    def punctIn(k: Int, set: String) =
      ts.lift(k).exists { case Punct(p) => set.contains(p); case _ => false }
    ts.indices.find(k => ts(k) == Punct("=") && depth(k) == 0 && k > 0 &&
        !punctIn(k - 1, "=!<>") && !punctIn(k + 1, "="))
      .map(off(_))
      .getOrElse(throw new IllegalArgumentException(s"no assignment in: ${s.take(40)}"))
  }

  private val operators = Set("::", "->", "<=", ">=", "!=", "<>", "||", "==")

  /** `ts` with each adjacent pair of punctuation that spells a two-char
    * operator merged into one token, left to right.
    */
  def mergeOperators(ts: Seq[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var k = 0
    while (k < ts.length) {
      (ts(k), ts.lift(k + 1)) match {
        case (Punct(a), Some(Punct(b))) if operators(a + b) =>
          out += Punct(a + b); k += 2
        case (t, _) => out += t; k += 1
      }
    }
    out.result()
  }
}
