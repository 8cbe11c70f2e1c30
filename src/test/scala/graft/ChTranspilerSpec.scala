package graft

import java.io.File
import java.nio.file.{Files, Paths}
import graft.sql.{ChFormat, ChLex, ChSession, ChSyntaxFormat, ChTranspiler}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** Unit pins for the ClickHouse-syntax transpiler and the TabSeparated
  * formatter backing StatelessCorpusSpec.
  */
class ChTranspilerSpec extends AnyFunSuite {

  private def t(s: String) = ChTranspiler.transpile(s)

  test("array literals become array(); element access becomes arrayElement") {
    assert(t("SELECT ['a', 'b']") == "SELECT array('a', 'b')")
    assert(t("SELECT [[1],[2]]") == "SELECT array(array(1),array(2))")
    assert(t("SELECT arr[1]") == "SELECT arrayElement(arr, 1)")
    assert(t("SELECT array(1,2)[2]") == "SELECT arrayElement(array(1,2), 2)")
  }

  test("parameterized aggregate f(p)(x) merges to registry form f(p, x)") {
    assert(t("SELECT quantileExact(0.5)(x)").replaceAll("\\s+", " ")
      == "SELECT quantileExact(0.5D, x)")
  }

  test("CH types map in CAST targets, including two-arg form") {
    // CAST to a Nullable scalar yields NULL on bad input (the
    // reference's ConvertThroughParsing null_presence) — lowered to
    // the range-checked OrNull conversion, not a plain ANSI cast
    assert(t("SELECT CAST(1 AS Nullable(UInt8))")
      == "SELECT toUInt8OrNull(1 )")
    assert(t("SELECT CAST(1, 'UInt64')") == "SELECT CAST(1 AS BIGINT)")
    assert(t("SELECT CAST([1] AS Array(Float64))")
      == "SELECT CAST(array(1) AS ARRAY<DOUBLE>)")
  }

  test("fractional literals take double typing like the reference") {
    assert(t("SELECT 0.1 + 0.2") == "SELECT 0.1D + 0.2D")
    assert(t("SELECT 1e3") == "SELECT 1e3D")
    assert(t("SELECT 0x1F") == "SELECT 31")
  }

  test("tuple element access .N maps to struct field colN") {
    assert(t("SELECT t.1, t.2") == "SELECT t.col1, t.col2")
  }

  test("SETTINGS clause is dropped; ALL JOIN qualifier is dropped") {
    assert(t("SELECT 1 SETTINGS max_threads = 4").trim == "SELECT 1")
    assert(t("SELECT * FROM a ALL LEFT JOIN b USING k")
      .replaceAll("\\s+", " ") == "SELECT * FROM a LEFT JOIN b USING (k)")
  }

  test("CH \\xHH string escapes decode to Spark-parseable literals") {
    assert(t("SELECT '\\x41'") == "SELECT 'A'")
    assert(t("SELECT 'a\\tb'") == "SELECT 'a\\tb'")
  }

  test("statement splitting respects string literals and comments") {
    val stmts = ChTranspiler.statementsRawAll(
      "SELECT 'a;b'; -- c;\nSELECT 2; /* x; */ SELECT 3").map(_._2).filter(_.nonEmpty)
    assert(stmts == Seq("SELECT 'a;b'", "SELECT 2", "SELECT 3"))
  }

  test("TabSeparated float formatting matches the reference's style") {
    assert(ChFormat.formatFloat(1.0) == "1")
    assert(ChFormat.formatFloat(0.5) == "0.5")
    assert(ChFormat.formatFloat(1e30) == "1e30")
    assert(ChFormat.formatFloat(Double.NaN) == "nan")
    assert(ChFormat.formatFloat(Double.PositiveInfinity) == "inf")
  }

  test("ORDER BY keys gain CH null direction: last on ASC, first on DESC") {
    assert(t("SELECT a FROM t ORDER BY a").replaceAll("\\s+", " ")
      == "SELECT a FROM t ORDER BY a NULLS LAST")
    assert(t("SELECT a FROM t ORDER BY a DESC, b LIMIT 3").replaceAll("\\s+", " ")
      == "SELECT a FROM t ORDER BY a DESC NULLS FIRST, b NULLS LAST LIMIT 3")
    // explicit direction is left alone; window OVER clauses get it too
    assert(t("SELECT a FROM t ORDER BY a NULLS FIRST").replaceAll("\\s+", " ")
      == "SELECT a FROM t ORDER BY a NULLS FIRST")
    assert(t("SELECT rank() OVER (ORDER BY x) FROM t").replaceAll("\\s+", " ")
      == "SELECT rank() OVER (ORDER BY x NULLS LAST) FROM t")
  }

  test("ARRAY JOIN with alias becomes LATERAL VIEW explode") {
    val out = t("SELECT x, a FROM (SELECT 1 AS x, [1,2] AS arr) ARRAY JOIN arr AS a")
      .replaceAll("\\s+", " ")
    assert(out.contains("LATERAL VIEW explode(arr)"), out)
    assert(out.contains("AS a"), out)
  }

  test("bare ARRAY JOIN replaces the array column with its element") {
    val out = t("SELECT x FROM (SELECT 1 AS x, [1,2] AS arr) ARRAY JOIN arr")
      .replaceAll("\\s+", " ")
    assert(out.contains("SELECT * EXCEPT (arr)"), out)
    assert(out.contains("AS arr"), out)
  }

  test("multi-item ARRAY JOIN zips positionally via one explode") {
    val out = t("SELECT x, y FROM t ARRAY JOIN a1 AS x, a2 AS y WHERE x > 0")
      .replaceAll("\\s+", " ")
    assert(out.contains("named_struct('c0', try_element_at(a1,"), out)
    assert(out.contains("'c1', try_element_at(a2,"), out)
    // alias references outside the clause rewritten to struct fields
    assert(out.matches(".*SELECT __aj_s\\d+\\.c0, __aj_s\\d+\\.c1 .*"), out)
    assert(out.matches(".*WHERE __aj_s\\d+\\.c0 > 0.*"), out)
  }

  test("two-arg CAST balances nested parens; Enum/FixedString → STRING") {
    // a Decimal target truncates like the AS form, whatever the argument
    assert(t("select cast(materialize(2.0),'Decimal(9,3)')")
      == "select chDecimal(materialize(2.0D), 9, 3)")
    // Enum casts keep the member map (chEnum resolves values OR names
    // to the member name at analysis time)
    assert(t("SELECT CAST('a' AS Enum8('a' = 1, 'b' = 2))")
      == "SELECT chEnum('a' ,'a',1,'b',2)")
    assert(t("SELECT CAST('abc' AS FixedString(3))")
      == "SELECT CAST('abc' AS STRING)")
  }

  test("tuple literals become struct(); IN lists unwrap array/tuple") {
    assert(t("SELECT ('1',2) AS t") == "SELECT struct('1',2) AS t")
    assert(t("SELECT (1+2) * 3") == "SELECT (1+2) * 3") // grouping untouched
    assert(t("SELECT f(a, b)") == "SELECT f(a, b)")     // call args untouched
    assert(t("select (1, 2) in ((1, 2), (3, 4))")
      == "select struct(1, 2) in (struct(1, 2), struct(3, 4))")
    assert(t("select 1 in [1, 2]") == "select 1 in (1, 2)")
    assert(t("select (1, 2) in tuple((1, 2))")
      == "select struct(1, 2) in (struct(1, 2))")
  }

  test("inline expression aliases are stripped and substituted") {
    assert(t("SELECT 'x' AS v, v LIKE (concat('%', v) AS pat), pat")
      .replaceAll("\\s+", " ")
      == "SELECT 'x' AS v, v LIKE (concat('%', v)), (concat('%', v))")
    // CAST's AS and subquery-level AS are untouched
    assert(t("SELECT CAST(1 AS UInt8) FROM (SELECT 1 AS a)")
      == "SELECT CAST(1 AS INT) FROM (SELECT 1 AS a)")
  }

  test("nested arrayJoin hoists to a LATERAL VIEW; lone top-level stays") {
    val out = t("SELECT toUInt32OrZero(arrayJoin(['1', '2a']))")
      .replaceAll("\\s+", " ")
    assert(out.contains("FROM (SELECT 1 AS"), out)
    assert(out.contains("LATERAL VIEW explode(array('1', '2a'))"), out)
    assert(t("SELECT arrayJoin([1,2]) AS x") == "SELECT arrayJoin(array(1,2)) AS x")
    // repeated same-argument calls share one explode (CSE rule)
    val two = t("SELECT arrayJoin([1,2]) + arrayJoin([1,2])")
    assert("LATERAL VIEW".r.findAllIn(two).size == 1, two)
  }

  test("statementsRaw keeps the raw text for clickhouse-test echo mode") {
    val raws = ChTranspiler.statementsRawAll(
      "select 1;\n-- { echo }\nselect 2;").filter(_._2.nonEmpty)
    assert(raws.map(_._2) == Seq("select 1", "select 2"))
    assert(raws(1)._1 == "-- { echo }\nselect 2;")
  }

  test("bare USING lists gain parentheses; parenthesized pass through") {
    assert(t("SELECT * FROM a JOIN b USING k1, k2 WHERE k1 > 0")
      .replaceAll("\\s+", " ")
      == "SELECT * FROM a JOIN b USING (k1, k2) WHERE k1 > 0")
    assert(t("SELECT * FROM a JOIN b USING (k)").contains("USING (k)"))
  }

  test("comments are stripped before token passes") {
    // a comma inside a comment must not split the scalar WITH items
    val r = t("SELECT x FROM (WITH 1 AS a, -- c1, c2 --\n 2 AS b SELECT a + b AS x)")
    assert(!r.contains("c1"), r)
    assert(r.replaceAll("\\s+", "").contains("1+2"), r)
  }

  test("scalar WITH rewrites inside subqueries") {
    val r = t("SELECT * FROM (WITH 41 AS v SELECT v + 1 AS x)")
    assert(r.replaceAll("\\s+", "").contains("41+1"), r)
  }

  test("lambda-body ternary keeps the arrow head") {
    val r = t("SELECT arrayMap(x -> x = 1 ? 10 : x, [1, 2])")
    assert(r.contains("x -> if(x = 1, 10, x)"), r)
  }

  test("typed VALUES table function lowers to a Spark inline table") {
    val r = t("SELECT x, s FROM VALUES('x UInt64, s String', (1, 'a'), (2, 'b'))")
      .replaceAll("\\s+", " ")
    assert(r.contains("FROM VALUES (1, 'a'), (2, 'b') AS __chv(x, s)"), r)
    assert(r.contains("CAST(x AS BIGINT) AS x"), r)
    // computed ALIAS columns come from the spec, not the tuples
    val r2 = t("SELECT z FROM VALUES('x UInt64, z ALIAS x + 1', (1), (2))")
    assert(r2.contains("AS z"), r2)
  }

  test("FROM-less dummy resolves (constant-0 rewrite or the one view)") {
    // an earlier pass folds bare dummy to its constant 0 when no table
    // provides it; either way the statement must not dangle
    val r = t("SELECT dummy, sum(dummy) GROUP BY dummy")
    assert(r.contains("FROM one") || r.contains("(0)"), r)
    // a FROM-less select without dummy stays untouched
    assert(!t("SELECT 1 + 1").contains("FROM one"))
  }

  test("expression-context subqueries leading with a string literal parse-guard") {
    val r = t("SELECT 'a' IN (SELECT 'a')")
    assert(r.contains("(SELECT CAST('a' AS STRING))"), r)
  }

  test("IN with a scalar literal right side gains parens") {
    assert(t("SELECT 1 IN 1").contains("IN (1)"))
    assert(t("SELECT 'a' IN 'a'").contains("IN ('a')"))
  }

  test("DATETIME typed literal becomes TIMESTAMP") {
    assert(t("SELECT DATETIME '2020-01-01 00:00:00'")
      .contains("TIMESTAMP '2020-01-01 00:00:00'"))
  }

  test("WITH TOTALS without GROUP BY or aggregation errors like the reference") {
    intercept[IllegalArgumentException] {
      ChTranspiler.splitTotals("SELECT 1 AS n WITH TOTALS")
    }
    // aggregation without GROUP BY is the legal global-totals form
    assert(ChTranspiler.splitTotals("SELECT count() WITH TOTALS").isDefined)
  }

  test("ANY LEFT/INNER JOIN lowers to keep-first-per-key dedup of the right side") {
    val s = t("SELECT * FROM a ANY LEFT JOIN b USING (k)")
    assert(!s.matches("(?is).*\\bany\\b.*"), s)
    assert(s.contains(
      "row_number() OVER (PARTITION BY k ORDER BY __graft_any_rid)"), s)
    assert(s.contains("FROM b) __graft_any_s"), s)
    // ON form: partition keys from the right relation's side
    val s2 = t("SELECT * FROM a ANY INNER JOIN b ON a.x = b.y AND b.w = a.z")
    assert(s2.contains("PARTITION BY y, w"), s2)
    // reversed spelling LEFT ANY JOIN
    val s3 = t("SELECT * FROM a LEFT ANY JOIN b USING (k)")
    assert(s3.contains("__graft_any_rn"), s3)
    // subquery right side with alias keeps the alias on the dedup wrapper
    val s4 = t("SELECT * FROM a ANY LEFT JOIN (SELECT 1 AS k) z USING (k)")
    assert(s4.contains("WHERE __graft_any_rn = 1) z"), s4)
    // RIGHT/FULL ANY fall back to dropping the qualifier (legacy)
    val s5 = t("SELECT * FROM a ANY RIGHT JOIN b USING (k)")
    assert(!s5.matches("(?is).*\\bany\\b.*") && !s5.contains("__graft_any"), s5)
    // complex ON conditions fall back to dropping the qualifier
    val s6 = t("SELECT * FROM a ANY LEFT JOIN b ON a.x = b.y + 1")
    assert(!s6.matches("(?is).*\\bany\\b.*") && !s6.contains("__graft_any"), s6)
  }

  test("union branches are parenthesized; trailing LIMIT binds to the last branch") {
    val s = t("SELECT 1 UNION ALL SELECT 2 LIMIT 1")
    assert(s.replaceAll("\\s+", " ").trim ==
      "( SELECT 1 ) UNION ALL ( SELECT 2 LIMIT 1 )", s)
    // already-wrapped branches stay untouched
    val s2 = t("(SELECT 1) UNION ALL (SELECT 2)")
    assert(s2.trim == "(SELECT 1) UNION ALL (SELECT 2)", s2)
    // mixed set operators keep left-assoc precedence (no regrouping)
    val s3 = t("SELECT 1 UNION ALL SELECT 2 EXCEPT SELECT 3")
    assert(!s3.contains("( SELECT"), s3)
  }

  test("COLLATE lowers to a collation sort key; remote() unwraps to its table") {
    val s = t("SELECT * FROM t ORDER BY s COLLATE 'ru'")
    assert(s.contains("chCollateKey(s, 'ru')"), s)
    val s2 = t("SELECT 1 FROM remote('127.0.0.1,localhos', system.one)")
    assert(s2.contains("FROM system.one") || s2.contains("FROM one"), s2)
  }

  test("inline alias substitution strips nested inline aliases") {
    val s = t("SELECT f(g('x' AS a) AS b) AS c, b = a")
    assert(!s.matches("(?is).*\\(\\s*g\\('x' AS a\\)\\s*\\).*"), s)
    assert(s.contains("(g('x')) = ('x')"), s)
  }

  private def read(f: File): String =
    if (f.exists) Files.readString(f.toPath).stripSuffix("\n") else ""

  /** Runs `f` with `graft.ch.dialect` set: on the thread's active session
    * when there is one (its conf wins over any other), else on a private
    * conf.
    */
  private def withDialect[T](dialect: String)(f: => T): T = {
    val key = "graft.ch.dialect"
    SparkSession.getActiveSession match {
      case Some(s) =>
        val old = s.conf.getOption(key)
        s.conf.set(key, dialect)
        try f finally old.fold(s.conf.unset(key))(s.conf.set(key, _))
      case None =>
        val conf = new SQLConf
        conf.setConfString(key, dialect)
        SQLConf.withExistingConf(conf)(f)
    }
  }

  /** One golden case: `<pass>[_<variant>]` names the rewrite pass the
    * input exercises and picks the public entry point that reaches it
    * (`transpile` unless named otherwise); `<name>.err` holds the error
    * text for the retry entry points.
    */
  private def goldenRun(name: String, in: String, err: String): String = {
    val mysql = name == "mysqlPasses" || name.endsWith("_mysql")
    val res: Any = try withDialect(if (mysql) "MYSQL" else "CLICKHOUSE") {
      name.takeWhile(_ != '_') match {
        case "syntax" => perLine(in)(syntaxRun(name.dropWhile(_ != '_').drop(1), _))
        case "splitTop" => perLine(in)(l => cells(ChLex.splitTop(l)))
        case "matchParen" => perLine(in) { l =>
          val (body, rest) = ChLex.matchParen(l); cells(Seq(body, rest)) }
        case "splitTuples" => perLine(in)(l => cells(ChLex.splitTuples(l)))
        case "stripDbRefs" => perLine(in)(ChSession.stripDbRefs)
        case "lexical" => perLine(in) { l =>
          s"${ChTranspiler.transpile(l)}\n  ${ChTranspiler.statementsRawAll(l)}" }
        case "widenIntLiterals" => ChTranspiler.transpile(in, true)
        case "rewriteNestedCols" =>
          ChTranspiler.registerNestedGroup("gnest", Seq("x", "y"))
          ChTranspiler.transpile(in)
        case "statementsRawAll" => ChTranspiler.statementsRawAll(in)
        case "splitTotals" => ChTranspiler.splitTotals(in)
        case "splitJoinTotals" => ChTranspiler.splitJoinTotals(in)
        case "stripWithFill" => ChTranspiler.stripWithFill(in)
        case "inlineSelectAliases" => ChTranspiler.inlineSelectAliases(in)
        case "disambiguateAt" => ChTranspiler.disambiguateAt(in, err)
        case "disambiguate" => ChTranspiler.disambiguate(in, err)
        case "fixUsingAlias" => ChTranspiler.fixUsingAlias(in, err)
        case _ => ChTranspiler.transpile(in)
      }
    } catch { case e: Exception => failure(e) }
    String.valueOf(res)
  }

  private def failure(e: Exception) = s"EXCEPTION ${e.getClass.getName}: ${e.getMessage}"

  /** One result line per input line, each line's exception its own. */
  private def perLine(in: String)(f: String => String): String =
    in.linesIterator.map(l => try f(l) catch { case e: Exception => failure(e) })
      .mkString("\n")

  private def cells(parts: Seq[String]): String = parts.map(p => s"[$p]").mkString

  /** EXPLAIN SYNTAX of one query: the variant names the corpus test
    * whose session toggle it flips from ChSession's default (`setopsAll`:
    * INTERSECT/EXCEPT print as ALL); `t` and `t2` are known tables for
    * star expansion.
    */
  private def syntaxRun(variant: String, q: String): String = {
    val cols = Map("t" -> Seq("a", "b", "c"), "t2" -> Seq("x", "y"))
    val setops = if (variant == "setopsAll") "ALL" else "DISTINCT"
    ChSyntaxFormat.format(q, cols.get,
      stripUniqInjective = variant == "01390",
      arithInAgg = variant != "01271",
      intersectMode = setops, exceptMode = setops,
      dropDupDistinct = variant == "01455",
      rewriteLike = variant == "48011",
      ifToMultiIf = variant == "01388",
      groupByFnKeys = variant != "01300",
      aggregatorsOfKeys = variant != "01321",
      transformToEnum = variant == "01324").mkString("\n")
  }

  /** `body` on a daemon thread, or "TIMEOUT" when it runs past
    * `seconds`: a pass that never terminates fails its case instead of
    * hanging the suite (the thread is left to spin).
    */
  private def bounded(seconds: Int)(body: => String): String = {
    val result = new java.util.concurrent.FutureTask[String](() => body)
    val thread = new Thread(result, "golden-case")
    thread.setDaemon(true)
    thread.start()
    try result.get(seconds.toLong, java.util.concurrent.TimeUnit.SECONDS)
    catch { case _: java.util.concurrent.TimeoutException => s"TIMEOUT after $seconds s" }
  }

  test("every rewrite pass reproduces its golden output byte for byte") {
    val dir = new File(getClass.getResource("/transpile").toURI)
    val cases = dir.listFiles.filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    assert(cases.length >= 50, cases.length)
    val diffs = cases.toSeq.flatMap { f =>
      val name = f.getName.stripSuffix(".sql")
      val got = bounded(20)(goldenRun(name, read(f), read(new File(dir, name + ".err"))))
      val want = read(new File(dir, name + ".expected"))
      if (got == want) None else Some(s"$name\n  want: $want\n  got:  $got")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("every entry point ends on generated token soup, returning or throwing") {
    val fragment = Gen.oneOf(
      "SELECT", "FROM", "WHERE", "GROUP BY", "ORDER BY", "LIMIT", "UNION ALL",
      "WITH", "TOTALS", "FILL", "JOIN", "USING", "ARRAY JOIN", "ANY", "AS",
      "SETTINGS", "CAST", "arrayJoin", "if", "count", "t", "a", "x", "nest.x",
      "(", ")", "[", "]", "{", "}", ",", ";", "'", "\"", "`", "\\", "'s'",
      "`b,c`", "\"d(e\"", "--", "#", "/*", "*/", "\n", "1", "1.5e-3", ".5",
      "$v", "->", "<=", "::", "?", ":", "=", "-", "*", "\u3000", "\u00A0")
    val soup = Gen.listOf(Gen.zip(fragment, Gen.oneOf("", " ", "\n")))
      .map(_.map { case (f, sep) => f + sep }.mkString)
    val err = "[AMBIGUOUS_REFERENCE] Reference `k` is ambiguous, could be: " +
      "[`a`.`k`, `b`.`k`]. SQLSTATE: 42704"
    val using = "[UNRESOLVED_USING_COLUMN_FOR_JOIN] USING column `k` cannot be " +
      "resolved on the left side of the join. The left-side columns: [`dummy`]."
    val entries: Seq[(String, String => Any)] = Seq(
      "statementsRawAll" -> ChTranspiler.statementsRawAll,
      "transpile" -> (s => ChTranspiler.transpile(s)),
      "transpile(widen)" -> (s => ChTranspiler.transpile(s, true)),
      "splitTotals" -> ChTranspiler.splitTotals,
      "splitJoinTotals" -> ChTranspiler.splitJoinTotals,
      "stripWithFill" -> ChTranspiler.stripWithFill,
      "inlineSelectAliases" -> ChTranspiler.inlineSelectAliases,
      "disambiguateAt" -> (s => ChTranspiler.disambiguateAt(s, err)),
      "disambiguate" -> (s => ChTranspiler.disambiguate(s, err)),
      "fixUsingAlias" -> (s => ChTranspiler.fixUsingAlias(s, using)),
      "ChSyntaxFormat.format" -> (s => ChSyntaxFormat.format(s)),
      "ChSession.stripDbRefs" -> ChSession.stripDbRefs,
      "tokenize" -> (s => ChLex.tokenize(s, comments = true)),
      "stripComments" -> ChLex.stripComments,
      "normalizeSpace" -> ChLex.normalizeSpace,
      "maskStrings" -> ChLex.maskStrings,
      "splitTop" -> (s => ChLex.splitTop(s)),
      "matchParen" -> ChLex.matchParen,
      "splitTuples" -> ChLex.splitTuples,
      "topLevelEq" -> ChLex.topLevelEq)
    val prop = Prop.forAll(soup, Gen.oneOf("CLICKHOUSE", "MYSQL")) { (in, dialect) =>
      val outcome = bounded(20)(withDialect(dialect) {
        entries.foreach { case (name, f) =>
          try f(in) catch {
            case NonFatal(_) => ()
            case e: Throwable => throw new AssertionError(s"$name: $e", e)
          }
        }
        ""
      })
      Prop(outcome.isEmpty) :| s"$dialect ${in.take(200)}: $outcome"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(result.passed, result.status.toString)
  }

  /** The dialect layer's sources: every file under graft/sql plus the
    * corpus runner, by file name.
    */
  private lazy val dialectSources: Map[String, String] = {
    val sql = new File("src/main/scala/graft/sql").listFiles
      .filter(_.getName.endsWith(".scala")).map(_.toPath).toSeq
    (sql :+ Paths.get("src/main/scala/graft/tools/StatelessSweep.scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toMap
  }

  private val defName = """\bdef (\w+)""".r

  /** The def whose block holds line i: the def on that line, else the
    * nearest one above whose indentation no closing brace has met since.
    */
  private def owner(lines: Seq[String], i: Int): String =
    defName.findFirstMatchIn(lines(i)).map(_.group(1)).getOrElse {
      val closed = scala.collection.mutable.Set[Int]()
      (i - 1 to 0 by -1).iterator.map(lines(_)).flatMap { l =>
        val indent = l.takeWhile(_ == ' ').length
        if (l.trim.startsWith("}")) { closed += indent; None }
        else defName.findFirstMatchIn(l)
          .filter(_ => (l.trim.endsWith("{") || l.trim.endsWith("=")) && !closed(indent))
          .map(_.group(1))
      }.nextOption().getOrElse("")
    }

  test("ChLex holds the one copy of each lexical helper") {
    def defs(name: String) = dialectSources.toSeq.flatMap { case (f, src) =>
      Seq.fill(s"\\bdef $name\\(".r.findAllIn(src).size)(f) }
    val lexHelpers = Seq("tokenize", "stripComments", "nextSig", "prevSig",
      "matchClose", "balancedClose", "balancedOpen", "depths", "parents",
      "splitTop", "matchParen", "splitTuples", "topLevelEq", "maskStrings",
      "normalizeSpace", "runsInto")
    val misplaced = lexHelpers.map(n => n -> defs(n)).filter(_._2.distinct != Seq("ChLex.scala"))
    assert(misplaced.isEmpty, s"lexical helpers defined outside ChLex: $misplaced")
    assert(defs("tokenize").size == 1, "one tokenizer")
    val retired = Seq("lex", "nextSigIdx", "nonWs", "nextNonWs", "prevNonWs",
      "balancedParens", "replaceOutsideStrings", "sysRefEnd", "closeParen")
      .map(n => n -> defs(n)).filter(_._2.nonEmpty)
    assert(retired.isEmpty, s"retired scanners are back: $retired")
    // a hand-rolled paren-depth or parent-index walk over tokens
    val walk = ("""case Punct\("\("\) => \w+\(\w+\) = (\w+); \1 \+= 1""" +
      """|case Punct\("\)"\) => stack = stack\.drop\(1\)""" +
      """|case "\("[^\n]*=> \w+ \+= 1""").r
    val walks = dialectSources.toSeq.flatMap { case (f, src) =>
      walk.findAllMatchIn(src).map(m => s"$f@${m.start}") }
    assert(walks.isEmpty, s"bracket-depth walks outside ChLex: $walks")
    // a depth counter stepped on a bracket: `case Punct("(") => d += 1`,
    // `if (t == Punct("(")) depth += 1`, `case '(' => … += 1`
    val step = """(Punct\("[()\[\]{}]"\)|'[()\[\]{}]'|"[()\[\]{}]").*\b\w+ [+-]= 1\b""".r
    val stepAllowed = Set(
      "ClickHouseAliases.scala" -> "tsQueryToPredicate") // the tsquery grammar
    val steps = for {
      (f, src) <- dialectSources.toSeq if f != "ChLex.scala"
      lines = src.split("\n").toSeq
      (line, i) <- lines.zipWithIndex if step.findFirstIn(line).isDefined
      if !stepAllowed(f -> owner(lines, i))
    } yield s"$f:${i + 1} in ${owner(lines, i)}"
    assert(steps.isEmpty, s"depth counters stepped by hand outside ChLex: $steps")
  }

  test("transpile lexes once: passes splice tokens and lex only constants") {
    val lines = dialectSources("ChTranspiler.scala").split("\n").toSeq
    // the statement is lexed at the public entry points; a pass lexes
    // only constant SQL or a literal's text, through `frag`
    val entryPoints = Set("transpile", "frag", "fixUsingAlias", "disambiguate",
      "inlineSelectAliases", "splitJoinTotals", "splitTotals", "stripWithFill")
    val lexers = lines.indices.filter(i => lines(i).contains("tokenize("))
      .map(i => owner(lines, i)).filterNot(entryPoints)
    assert(lexers.isEmpty, s"tokenize outside the entry points: $lexers")
    val relexed = lines.filter(l => """\bfrag\([^)"]*render\(""".r.findFirstIn(l).isDefined)
    assert(relexed.isEmpty, s"rendered tokens lexed again: $relexed")
    // no regex over statement text inside a pass; the named ones read
    // one literal's text (a datetime, the VALUES column spec)
    val regex = """\.r\b|replaceAll\(|\.matches\(|\.split\("|findFirstIn|replaceAllIn""".r
    val regexAllowed = Set("rewriteTimeType", "rewriteValuesTable")
    val passNames = ChTranspiler.passes.map(_.name).toSet
    val body = scala.collection.mutable.Map[String, Seq[String]]()
    var cur = ""
    for (l <- lines) {
      defName.findFirstMatchIn(l).filter(_ => l.startsWith("  private def") || l.startsWith("  def"))
        .foreach(m => cur = m.group(1))
      if (l.startsWith("  private val") || l.startsWith("  /**")) cur = ""
      body(cur) = body.getOrElse(cur, Nil) :+ l
    }
    val regexPasses = passNames.toSeq.filterNot(regexAllowed)
      .filter(n => body.getOrElse(n, Nil).exists(regex.findFirstIn(_).isDefined))
    assert(passNames.forall(body.contains), passNames.filterNot(body.contains))
    assert(regexPasses.isEmpty, s"passes applying a regex to statement text: $regexPasses")
  }

  /** `ts` with each run of adjacent whitespace tokens merged into one. */
  private def mergeWs(ts: Vector[ChLex.Tok]): Vector[ChLex.Tok] =
    ts.foldLeft(Vector.empty[ChLex.Tok]) {
      case (acc :+ ChLex.Ws(a), ChLex.Ws(b)) => acc :+ ChLex.Ws(a + b)
      case (acc, t) => acc :+ t
    }

  test("every pass hands on tokens that lex back to themselves") {
    // the next pass reading a pass's tokens equals it reading their
    // rendered text only when that text lexes back to the same tokens
    // (adjacent whitespace merged). An unclosed quote swallows whatever
    // a pass appends after it, so every input keeps its quotes closed.
    // `transpile` hands the post-passes balanced brackets only.
    def closed(ts: Vector[ChLex.Tok]) = ts.forall(t =>
      !"'\"`".contains(t.text.head) || ChLex.tokenize(t.text + " x").head == t)
    def check(in: String, dialect: String): String = bounded(20)(withDialect(dialect) {
      val toks = ChLex.tokenize(ChLex.stripComments(in))
      val passes =
        if (ChLex.bracketsBalance(toks)) ChTranspiler.passes else ChTranspiler.prePasses
      if (!closed(toks)) "" else passes.flatMap { p =>
        try {
          val out = p.run(toks)
          if (mergeWs(out) == ChLex.tokenize(ChLex.render(out))) None
          else Some(s"${p.name}: ${ChLex.render(out).take(200)}")
        } catch { case NonFatal(_) => None }
      }.mkString("; ")
    })
    val dir = new File(getClass.getResource("/transpile").toURI)
    val goldens = dir.listFiles.filter(_.getName.endsWith(".sql")).toSeq
      .flatMap { f => val in = read(f); in +: in.linesIterator.toSeq }
    val goldenFails = for {
      in <- goldens; d <- Seq("CLICKHOUSE", "MYSQL")
      res = check(in, d) if res.nonEmpty
    } yield s"$d ${in.take(80)}: $res"
    assert(goldenFails.isEmpty, goldenFails.mkString("\n"))
    val fragment = Gen.oneOf(
      "SELECT", "FROM", "WHERE", "GROUP BY", "ORDER BY", "LIMIT 2 BY a", "UNION ALL",
      "WITH", "TOTALS", "FILL", "JOIN", "USING", "ARRAY JOIN", "ANY", "AS", "IN",
      "SETTINGS", "CAST", "arrayJoin", "if", "count()", "t", "a", "x", "nest.x",
      "(", ")", "[", "]", "{", "}", ",", ";", "'s'", "`b,c`", "\"d(e\"", "--",
      "#", "/*", "*/", "\n", "1", "1.5e-3", ".5", "t.1", "0x1F", "$v", "->", "<=",
      "::", "?", ":", "=", "-", "*", "^", "\u3000", "(x) -> x", "inf", "dummy",
      "CAST(x, 'Decimal(10, 3)')", "remote('a', t)", "x::Time", "INTERVAL x DAY",
      "position('a' IN 'b')", "OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    val soup = Gen.listOf(Gen.zip(fragment, Gen.oneOf("", " ", "\n")))
      .map(_.map { case (f, sep) => f + sep }.mkString)
    val prop = Prop.forAll(soup, Gen.oneOf("CLICKHOUSE", "MYSQL")) { (in, dialect) =>
      val res = check(in, dialect)
      Prop(res.isEmpty) :| s"$dialect ${in.take(200)}: $res"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(result.passed, result.status.toString)
  }

  test("no character scanner for quotes or brackets outside ChLex") {
    // a `charAt` loop that meets a quote or bracket character literal
    // within a dozen lines is a scanner, unless it works inside one
    // literal or on another language (named below)
    val quoteOrBracket = """'\\''|'"'|'`'|'[()\[\]{}]'""".r
    val allowed = Set(
      "ChTranspiler.scala" -> "normalizeStringLiteral", // a literal's escapes
      "ChSyntaxFormat.scala" -> "canonStr",             // a literal's escapes
      "ClickHouseAliases.scala" -> "tsQueryToPredicate", // the tsquery grammar
      "ClickHouseAliases.scala" -> "chFormatToSpark")   // a date format string
    val scanners = for {
      (f, src) <- dialectSources.toSeq if f != "ChLex.scala"
      lines = src.split("\n").toSeq
      (line, i) <- lines.zipWithIndex if line.contains("charAt(")
      window = lines.slice(i - 12, i + 13).filterNot(_.trim.startsWith("//"))
      if window.exists(quoteOrBracket.findFirstIn(_).isDefined)
      if !allowed(f -> owner(lines, i))
    } yield s"$f:${i + 1} in ${owner(lines, i)}"
    assert(scanners.isEmpty, s"character scanners outside ChLex: ${scanners.distinct}")
  }
}
