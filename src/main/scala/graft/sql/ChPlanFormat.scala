package graft.sql

/** ByConity optimizer plan printer for EXPLAIN [stats=0/verbose=…]
  * (reference src/Interpreters/InterpreterExplainQuery.cpp +
  * PlanPrinter.cpp box-drawing layout). Covers the canonical
  * single-table aggregate shape the corpus goldens pin (10102_* family):
  *
  *   Projection → Gather Exchange → Projection → MergingAggregated →
  *   Repartition Exchange → Aggregating → [source] → TableScan
  *
  * with the source variants the reference optimizer prints: SAMPLE
  * (Sample Size), WHERE over a nondeterministic function (the
  * projection-sandwiched Filter), PREWHERE (Filter + Prewhere on the
  * scan), GROUPING SETS (__grouping_set partition key), and ORDER
  * BY/LIMIT subqueries (read-in-order Sorting / pushed Limit). Anything
  * else returns None and the caller falls back to a generic printout.
  */
object ChPlanFormat {

  final case class TableInfo(printName: String, columns: Seq[String],
      orderKey: Seq[String], rowCount: () => Long)

  private type Node = (String, Seq[String]) // title, detail lines

  private def render(chain: Seq[Node]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var col = 0
    chain.zipWithIndex.foreach { case ((title, details), i) =>
      val contentCol = if (i == 0) 0 else col + 3
      if (i == 0) out += title
      else out += (" " * col) + "└─ " + title
      val leaf = i == chain.size - 1
      details.foreach { d =>
        out += (if (leaf) " " * (contentCol + 6) + d
        else (" " * contentCol) + "│     " + d)
      }
      if (i > 0) col += 3
    }
    out.result()
  }

  private val aggFns = Set("sum", "count", "avg", "min", "max", "uniq",
    "uniqExact", "any", "anyLast")

  def explain(query0: String, lookup: String => Option[TableInfo])
      : Option[Seq[String]] = {
    val query = query0.trim.stripSuffix(";").trim
      .replaceAll("(?is)\\bSETTINGS\\s+.*$", "").trim
    val re = ("""(?is)^SELECT\s+(.*?)\s+FROM\s+(\(.*\)|[`\w.]+)""" +
      """(\s+SAMPLE\s+([0-9.]+))?(\s+PREWHERE\s+(.*?))?(\s+WHERE\s+(.*?))?""" +
      """(\s+GROUP\s+BY\s+(.*?))?\s*$""").r
    val m = re.findFirstMatchIn(query).getOrElse(return None)
    val itemsTxt = m.group(1).trim
    val srcTxt = m.group(2).trim
    val sample = Option(m.group(4)).map(_.toDouble)
    val prewhere = Option(m.group(6)).map(_.trim)
    val where = Option(m.group(8)).map(_.trim)
    val groupBy = Option(m.group(10)).map(_.trim)

    // ---- source: bare table, or (SELECT * FROM t [ORDER BY k] [LIMIT n])
    var subOrder: Option[String] = None
    var subLimit: Option[Long] = None
    val tableName =
      if (srcTxt.startsWith("(")) {
        val inner = srcTxt.drop(1).dropRight(1).trim
          .replaceAll("(?is)\\bSETTINGS\\s+.*$", "").trim
        val sm = ("""(?is)^SELECT\s+\*\s+FROM\s+([`\w.]+)""" +
          """(\s+ORDER\s+BY\s+([`\w]+))?(\s+LIMIT\s+(\d+))?\s*$""").r
          .findFirstMatchIn(inner).getOrElse(return None)
        subOrder = Option(sm.group(3))
        subLimit = Option(sm.group(5)).map(_.toLong)
        sm.group(1)
      } else srcTxt
    val t = lookup(tableName.replaceAll("`", "")).getOrElse(return None)

    // ---- select items: aggregate calls only
    val items = ChLex.splitTop(itemsTxt).map(_.trim).filter(_.nonEmpty)
    val aggs = items.map { it =>
      val am = """(?is)^(\w+)\s*\((.*)\)$""".r.findFirstMatchIn(it)
        .getOrElse(return None)
      if (!aggFns.contains(am.group(1).toLowerCase)) return None
      (am.group(1).toLowerCase, am.group(2).trim, it)
    }
    if (aggs.isEmpty) return None

    // ---- group keys (plain idents or GROUPING SETS ((a), ()))
    val (keys, groupingSets) = groupBy match {
      case None => (Nil, false)
      case Some(g) if g.toUpperCase.startsWith("GROUPING SETS") =>
        val ks = """\(\s*([`\w]+)\s*\)""".r.findAllMatchIn(g)
          .map(_.group(1).replaceAll("`", "")).toList.distinct
        (ks, true)
      case Some(g) =>
        val ks = ChLex.splitTop(g).map(_.trim.replaceAll("`", ""))
        if (!ks.forall(k => k.matches("""\w+"""))) return None
        (ks.toList, false)
    }

    // referenced table columns, in declared order
    val usedCols = t.columns.filter(c =>
      ("""(?i)\b""" + java.util.regex.Pattern.quote(c) + """\b""").r
        .findFirstIn(query).isDefined)
    val outputs = s"Outputs: [${usedCols.mkString(", ")}]"

    def exprName(it: (String, String, String)) = s"expr#${it._1}(${it._2})"
    val topProj = ("Projection",
      Seq("Expressions: " + aggs.map(it =>
        s"${it._3}:=`${exprName(it)}`").mkString(", ")))
    val midProj = ("Projection",
      Seq(s"Expressions: [${aggs.map(exprName).mkString(", ")}]"))
    val partKeys = if (groupingSets) keys :+ "__grouping_set" else keys
    val aggNode = ("Aggregating",
      Seq(s"Group by: {${keys.mkString(", ")}}",
        "Aggregates: " + aggs.map(it =>
          s"${exprName(it)}:=AggNull(${it._1})(${it._2})").mkString(", ")))

    // ---- source chain under the aggregate
    val srcChain: Seq[Node] =
      if (where.isDefined && where.get.toLowerCase.contains("rand()")) {
        // nondeterministic WHERE: projected out, filtered, projected back
        val cond = canon(where.get)
        val condSub = cond.replace("rand()", "`expr#rand()`")
        Seq(
          ("Projection", Seq(s"Expressions: [${usedCols.mkString(", ")}]")),
          ("Filter", Seq(s"Condition: $condSub")),
          ("Projection", Seq(s"Expressions: [${usedCols.mkString(", ")}], " +
            "expr#rand():=rand()")),
          (s"TableScan ${t.printName}", Seq(outputs)))
      } else if (prewhere.isDefined || where.isDefined) {
        val cond = canon(prewhere.orElse(where).get)
        Seq(
          ("Filter", Seq(s"Condition: $cond")),
          (s"TableScan ${t.printName}", Seq(s"Prewhere: $cond", outputs)))
      } else if (subOrder.isDefined && subLimit.isDefined) {
        val k = subOrder.get.replaceAll("`", "")
        val n = subLimit.get
        val ord = s"Order by: {$k ASC NULLS LAST}"
        val prefix = t.orderKey.headOption.contains(k)
        Seq(
          ("Limit", Seq(s"Limit: $n")),
          ("Sorting", Seq(ord, s"Limit: $n")),
          ("Gather Exchange", Nil),
          ("Sorting", Seq(ord) ++
            (if (prefix) Seq(s"Prefix Order: {$k}") else Nil) ++
            Seq(s"Limit: $n")),
          (s"TableScan ${t.printName}",
            (if (prefix) Seq(s"Input Order Info: {$k ASC ANY}") else Nil) ++
              Seq(outputs)))
      } else if (subLimit.isDefined) {
        val n = subLimit.get
        Seq(
          ("Limit", Seq(s"Limit: $n")),
          ("Gather Exchange", Nil),
          ("Limit", Seq(s"Limit: $n")),
          (s"TableScan ${t.printName}", Seq(s"Limit: $n", outputs)))
      } else if (sample.isDefined) {
        // SAMPLE 0.9 prints its RATIONAL form "9 / 10" (PlanPrinter's
        // sample-size detail), not a row count
        val f = sample.get
        var den = 1L
        while (den < 1000000L && (f * den) % 1.0 != 0.0) den *= 10
        val num = math.round(f * den)
        val g = BigInt(num).gcd(BigInt(den)).toLong
        Seq((s"TableScan ${t.printName}",
          Seq(s"Sample Size: ${num / g} / ${den / g}", outputs)))
      } else Seq((s"TableScan ${t.printName}", Seq(outputs)))

    val chain: Seq[Node] = Seq(
      topProj,
      ("Gather Exchange", Nil),
      midProj,
      ("MergingAggregated", Nil),
      ("Repartition Exchange",
        Seq(s"Partition by: {${partKeys.mkString(", ")}}")),
      aggNode) ++ srcChain
    Some(render(chain))
  }

  /** Parenthesize `%` terms the way the reference's AST formatter does
    * (`rand() % 2 = 1` prints `(rand() % 2) = 1`). */
  private def canon(cond: String): String =
    """(\S+\s*%\s*\S+)\s*=""".r.replaceAllIn(cond.trim,
      mm => java.util.regex.Matcher.quoteReplacement(
        s"(${mm.group(1).trim}) ="))
}
