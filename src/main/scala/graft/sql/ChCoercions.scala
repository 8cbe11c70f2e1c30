package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** ClickHouse arithmetic/logic coercions Spark's own TypeCoercion
  * rejects (reference src/Functions/FunctionsConversion.h and the
  * IFunction overload resolvers accept these by construction):
  *
  *  - DateTime ± integer = seconds; Date ± integer = days
  *    (FunctionDateOrDateTimeAddInterval.h default unit).
  *  - sum/avg over UInt8-as-boolean (comparisons are UInt8 in CH; the
  *    engine surfaces them as BooleanType).
  *  - AND/OR/NOT/IF/WHERE over numbers: nonzero = true
  *    (FunctionsLogical.cpp).
  *  - comparisons mixing boolean and number compare as 0/1.
  *
  * A resolution rule, not parser work: every case fires only on trees
  * Spark's analyzer would otherwise reject, so green queries are
  * untouched and the rewrite is idempotent.
  */
object ChCoercions extends Rule[LogicalPlan] {

  /** Session flag for the stateless corpus's ClickHouse semantics, set
    * only by `StatelessSweep.corpusConfs` (a library session never
    * carries it): IEEE Float64 `/` and CH decimal division here, the
    * decimal-constant overflow guard ([[ChDecimalCompareGuard]]),
    * INTERSECT/EXCEPT ALL as semi/anti filters, type-default outer-join
    * padding ([[ChJoinDefaults]]) and type-default ROLLUP/CUBE
    * sub-total keys ([[ChRollupDefaults]]).
    */
  val CorpusFlag = "spark.graft.chCorpusSemantics"

  /** True in a session configured with [[CorpusFlag]]. */
  def corpusSemantics: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString(CorpusFlag, "false") == "true"

  private def ok(es: Expression*): Boolean = es.forall(_.resolved)
  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]
  private def isTs(e: Expression): Boolean = e.dataType == TimestampType
  private def isDate(e: Expression): Boolean = e.dataType == DateType
  private def isBool(e: Expression): Boolean = e.dataType == BooleanType

  private def toBool(e: Expression): Expression =
    Not(EqualTo(Cast(e, DoubleType), Literal(0.0d)))

  private def isTime(e: Expression): Boolean = e.dataType match {
    case st: StructType => st.fieldNames.sameElements(Array("__time"))
    case _ => false
  }
  /** The declared column timezone of an attribute (graft.ch.tz). */
  private def colTz(e: Expression): Option[String] = e match {
    case a: AttributeReference if a.metadata.contains("graft.ch.tz") =>
      Some(a.metadata.getString("graft.ch.tz"))
    case _ => None
  }
  /** A foldable string operand — bare, or already session-zone-cast to
    * timestamp by an earlier coercion pass. */
  private def strLit(e: Expression): Option[Expression] = e match {
    case s if s.dataType == StringType && s.foldable => Some(s)
    case Cast(s, TimestampType, _, _)
        if s.dataType == StringType && s.foldable => Some(s)
    case _ => None
  }
  private def isInterval(e: Expression): Boolean = e.dataType match {
    case CalendarIntervalType => true
    case _: DayTimeIntervalType => true
    case _: YearMonthIntervalType => true
    case _ => false
  }
  private def timePlus(l: Expression, r: Expression,
      negate: Boolean): Expression = {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val seconds: Long = r.eval() match {
      case null => 0L
      case iv: org.apache.spark.unsafe.types.CalendarInterval =>
        iv.days.toLong * 86400L + iv.microseconds / 1000000L
      case micros: Long if r.dataType.isInstanceOf[DayTimeIntervalType] =>
        micros / 1000000L
      case _ => 0L // year-month interval: identity on a time-of-day
    }
    if (seconds == 0L) l
    else CreateNamedStruct(Seq(Literal("__time"),
      StaticInvoke(graft.functions.TimeOps.getClass, StringType,
        "addSeconds",
        Seq(GetStructField(l, 0, Some("__time")),
          Literal(if (negate) -seconds else seconds)),
        Seq(StringType, LongType))))
  }

  /** Same-arity structs whose field types differ but are all atomic —
    * the shape Spark's struct-equality check rejects. */
  private def structMismatch(l: Expression, r: Expression): Boolean =
    (l.dataType, r.dataType) match {
      case (lt: StructType, rt: StructType) =>
        lt.length == rt.length && lt.length > 0 &&
          lt.fields.map(_.dataType).toSeq !=
            rt.fields.map(_.dataType).toSeq &&
          lt.fields.zip(rt.fields).forall { case (a, b) =>
            atomic(a.dataType) && atomic(b.dataType) }
      case _ => false
    }

  private def atomic(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | BinaryType => true
    case _ => false
  }

  /** One side a decimal, the other a foldable integral/decimal constant
    * that cannot be rescaled into the decimal's CH container int. */
  private[sql] def decimalConstOverflow(l: Expression, r: Expression): Boolean = {
    // the CONTAINER is the column's ORIGINAL decimal family — comparison
    // coercion wraps it in widening casts before this rule runs
    @scala.annotation.tailrec
    def base(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => base(c)
      case other => other
    }
    def check(dec0: Expression, const: Expression): Boolean = {
      val dec = base(dec0)
      (dec.dataType, const.dataType) match {
        case (dt: DecimalType, t)
            if const.foldable && !dec.foldable &&
              (t.isInstanceOf[DecimalType] || t == ByteType ||
                t == ShortType || t == IntegerType || t == LongType) =>
          val p = dt.precision
          val s = dt.scale
          val v = const.eval() match {
            case null => return false
            case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
            case n: Number => new java.math.BigDecimal(n.toString)
            case _ => return false
          }
          val container: java.math.BigDecimal =
            if (p <= 9) new java.math.BigDecimal(Int.MaxValue)
            else if (p <= 18) new java.math.BigDecimal(Long.MaxValue)
            else new java.math.BigDecimal(
              java.math.BigInteger.ONE.shiftLeft(127))
          v.abs.movePointRight(s).compareTo(container) > 0
        case _ => false
      }
    }
    check(l, r) || check(r, l)
  }

  /** Strip coercion casts; Some((expr, decimalType)) when the base is
    * genuinely decimal. */
  private def origDecimal(e: Expression): Option[(Expression, DecimalType)] = {
    @scala.annotation.tailrec
    def base(x: Expression): Expression = x match {
      case Cast(c, _, _, _) => base(c)
      case other => other
    }
    val b = base(e)
    b.dataType match {
      case dt: DecimalType => Some((b, dt))
      case _ => None
    }
  }

  /** Strip coercion casts; Some(expr) when the base is integral. */
  private def integralBase(e: Expression): Option[Expression] = {
    @scala.annotation.tailrec
    def base(x: Expression): Expression = x match {
      case Cast(c, _, _, _) => base(c)
      case other => other
    }
    val b = base(e)
    if (integral(b)) Some(b) else None
  }

  /** CH decimal family container bits from declared precision. */
  private def familyBits(p: Int): Int =
    if (p <= 9) 32 else if (p <= 18) 64 else 128

  /** CH optimize_arithmetic_operations_in_aggregate_functions: a pure
    * numeric literal moves OUT of sum/min/max/avg (* and / only for
    * sum), chained within one precedence group; a negative * or /
    * literal flips min↔max — INCLUDING the reference's unflipped
    * `c - x` quirk (min(1 - n) executes as 1 - min(n), 01271's value
    * rows pin it). Session-gated: corpus bug-compatibility, never the
    * engine path.
    */
  val AggArithFlag = "spark.graft.chAggArith"

  private def chAggPull(ae: AggregateExpression): Option[Expression] = {
    def aggName(f: AggregateFunction): Option[String] = f match {
      case _: Min => Some("min")
      case _: Max => Some("max")
      case _: Sum => Some("sum")
      case _: Average => Some("avg")
      case _ => None
    }
    def rebuild(name: String, child: Expression): AggregateFunction =
      name match {
        case "min" => Min(child)
        case "max" => Max(child)
        case "sum" => Sum(child)
        case _ => Average(child)
      }
    def numLit(e: Expression): Option[Double] = e match {
      case Literal(v, _: NumericType) if v != null =>
        scala.util.Try(v.toString.toDouble).toOption
      // type coercion wraps the literal before this rule runs
      case Cast(c, _: NumericType, _, _) => numLit(c)
      case _ => None
    }
    val f = ae.aggregateFunction
    val name0 = aggName(f)
    if (name0.isEmpty || f.children.length != 1 || ae.isDistinct ||
        ae.filter.isDefined) return None
    var name = name0.get
    var arg = f.children.head
    // (wrap outward in application order)
    val wraps = scala.collection.mutable.ArrayBuffer[Expression => Expression]()
    var lastGrp: Option[String] = None
    var go = true
    while (go) {
      go = false
      def grpOk(g: String) = lastGrp.forall(_ == g)
      arg match {
        case Add(l, r, _) if grpOk("a") && numLit(r).isDefined &&
            name != "sum" =>
          wraps += (x => Add(x, r)); arg = l; lastGrp = Some("a"); go = true
        case Add(l, r, _) if grpOk("a") && numLit(l).isDefined &&
            name != "sum" =>
          wraps += (x => Add(l, x)); arg = r; lastGrp = Some("a"); go = true
        case Subtract(l, r, _) if grpOk("a") && numLit(r).isDefined &&
            name != "sum" =>
          wraps += (x => Subtract(x, r)); arg = l; lastGrp = Some("a")
          go = true
        case Subtract(l, r, _) if grpOk("a") && numLit(l).isDefined &&
            name != "sum" =>
          wraps += (x => Subtract(l, x)); arg = r; lastGrp = Some("a")
          go = true
        case Multiply(l, r, _) if grpOk("m") && numLit(r).isDefined =>
          if (numLit(r).get < 0)
            name = if (name == "min") "max"
              else if (name == "max") "min" else name
          wraps += (x => Multiply(x, r)); arg = l; lastGrp = Some("m")
          go = true
        case Multiply(l, r, _) if grpOk("m") && numLit(l).isDefined =>
          if (numLit(l).get < 0)
            name = if (name == "min") "max"
              else if (name == "max") "min" else name
          wraps += (x => Multiply(l, x)); arg = r; lastGrp = Some("m")
          go = true
        case Divide(l, r, _) if grpOk("m") && numLit(r).isDefined =>
          if (numLit(r).get < 0)
            name = if (name == "min") "max"
              else if (name == "max") "min" else name
          wraps += (x => Divide(x, r)); arg = l; lastGrp = Some("m")
          go = true
        case _ => ()
      }
    }
    if (wraps.isEmpty) None
    else {
      var out: Expression =
        ae.copy(aggregateFunction = rebuild(name, arg))
      wraps.reverse.foreach(w => out = w(out))
      Some(out)
    }
  }

  /** Broadcast the membership side: a BroadcastHashJoin streams the
    * LEFT side in place, preserving the reference's row order (a
    * shuffled semi join would interleave partitions). */
  private def setOpHint =
    org.apache.spark.sql.catalyst.plans.logical.JoinHint(None,
      Some(org.apache.spark.sql.catalyst.plans.logical.HintInfo(
        strategy = Some(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST))))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // CH INTERSECT/EXCEPT ALL are hash-set FILTERS over the left stream
    // (every left row kept/dropped by membership, duplicates and order
    // preserved — 02004_intersect_except_all_operators pins 20 '5's
    // from a const intersect), not SQL-standard multiplicity matching:
    // under the corpus flag they lower to LEFT SEMI / LEFT ANTI joins
    val setOpsOn = corpusSemantics
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin,
      Project => LProject, Filter => LFilter, Sort => LSort,
      Window => LWindow, Intersect => LIntersect, Except => LExcept}
    def setOpJoin(left: LogicalPlan, right: LogicalPlan,
        semi: Boolean): LogicalPlan =
      LJoin(left, right,
        if (semi) org.apache.spark.sql.catalyst.plans.LeftSemi
        else org.apache.spark.sql.catalyst.plans.LeftAnti,
        left.output.zip(right.output)
          .map { case (l, r) => EqualNullSafe(l, r): Expression }
          .reduceOption(And),
        setOpHint)
    // DISTINCT mode: keep the FIRST occurrence in left-stream order —
    // row_number per key over a monotonic id, then re-sort by it (the
    // reference streams set ops in input order; a hash aggregate's
    // partition-lottery order is master/parallelism-dependent)
    def keepFirst(filtered: LogicalPlan,
        out: Seq[Attribute]): LogicalPlan = {
      val rid = Alias(MonotonicallyIncreasingID(), "__setop_rid")()
      val withId = LProject(out ++ Seq(rid), filtered)
      val spec = WindowSpecDefinition(out,
        Seq(SortOrder(rid.toAttribute, Ascending)),
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
      val rn = Alias(
        WindowExpression(RowNumber(), spec), "__setop_rn")()
      val win = LWindow(Seq(rn), out,
        Seq(SortOrder(rid.toAttribute, Ascending)), withId)
      val flt = LFilter(EqualTo(rn.toAttribute, Literal(1)), win)
      val sorted = LSort(Seq(SortOrder(rid.toAttribute, Ascending)),
        global = true, flt)
      LProject(out, sorted)
    }
    val plan0 =
      if (!setOpsOn) plan
      else plan.resolveOperatorsUp {
        case i: LIntersect if i.resolved =>
          val j = setOpJoin(i.left, i.right, semi = true)
          if (i.isAll) j else keepFirst(j, i.left.output)
        case e: LExcept if e.resolved =>
          val j = setOpJoin(e.left, e.right, semi = false)
          if (e.isAll) j else keepFirst(j, e.left.output)
      }
    val aggArithOn =
      try plan.conf.getConfString(AggArithFlag, "false") == "true"
      catch { case _: Throwable => false }
    val plan1 =
      if (!aggArithOn) plan0
      else plan0.resolveOperatorsUp {
        case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if agg.resolved =>
          agg.copy(aggregateExpressions =
            agg.aggregateExpressions.map(_.transformUp {
              case ae: AggregateExpression =>
                chAggPull(ae).getOrElse(ae)
            }.asInstanceOf[NamedExpression]))
      }
    plan1.resolveOperatorsUp {
      case f @ Filter(cond, _) if cond.resolved && numeric(cond) =>
        f.copy(condition = toBool(cond))
      case q =>
        q.transformExpressionsUp {
          // CH Time ± INTERVAL: hour/minute/second (and day-time) parts
          // add modulo 24h; year-month parts are identity (10080_*).
          // Foldable intervals only — the corpus writes literals.
          case Add(l, r, _) if ok(l, r) && isTime(l) && isInterval(r) &&
              r.foldable =>
            timePlus(l, r, negate = false)
          case Subtract(l, r, _) if ok(l, r) && isTime(l) && isInterval(r) &&
              r.foldable =>
            timePlus(l, r, negate = true)
          // ResolveBinaryArithmetic eagerly lowers `x ± interval` to
          // TimestampAddInterval before this rule sees the Add
          case ta: TimestampAddInterval if ok(ta.left, ta.right) &&
              isTime(ta.left) && ta.right.foldable =>
            timePlus(ta.left, ta.right, negate = false)
          case Add(l, r, f) if ok(l, r) && isTs(l) && integral(r) =>
            TimestampAdd("SECOND", Cast(r, LongType), l)
          case Add(l, r, f) if ok(l, r) && integral(l) && isTs(r) =>
            TimestampAdd("SECOND", Cast(l, LongType), r)
          case Subtract(l, r, f) if ok(l, r) && isTs(l) && integral(r) =>
            TimestampAdd("SECOND", UnaryMinus(Cast(r, LongType)), l)
          case Add(l, r, f) if ok(l, r) && isDate(l) && integral(r) =>
            DateAdd(l, Cast(r, IntegerType))
          case Add(l, r, f) if ok(l, r) && integral(l) && isDate(r) =>
            DateAdd(r, Cast(l, IntegerType))
          case Subtract(l, r, f) if ok(l, r) && isDate(l) && integral(r) =>
            DateSub(l, Cast(r, IntegerType))
          // Spark's own coercion builds DateAdd/DateSub from Date ± N
          // but leaves a BIGINT count untyped — tighten it
          case DateAdd(d, n) if ok(d, n) && integral(n) &&
              n.dataType != IntegerType =>
            DateAdd(d, Cast(n, IntegerType))
          case DateSub(d, n) if ok(d, n) && integral(n) &&
              n.dataType != IntegerType =>
            DateSub(d, Cast(n, IntegerType))
          // CH `/` is Float64 division by definition — non-decimal
          // operands divide as IEEE doubles (0/0 = nan, 1/0 = inf),
          // never an ANSI error; Decimal division keeps ANSI (the
          // reference errors on Decimal/0 too). Unlike every other case
          // here this rewrites trees Spark ACCEPTS, so it is gated to
          // the CH-strict corpus session (native Divide keeps the
          // cleaner plans for library users).
          case d: Divide
              if d.evalMode == EvalMode.ANSI && ok(d.left, d.right) &&
                corpusSemantics &&
                !d.left.dataType.isInstanceOf[DecimalType] &&
                !d.right.dataType.isInstanceOf[DecimalType] &&
                d.left.dataType.isInstanceOf[NumericType] &&
                d.right.dataType.isInstanceOf[NumericType] => {
            // JVM double division IS the IEEE semantics (inf/nan)
            import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
            StaticInvoke(graft.functions.MathOps.getClass, DoubleType,
              "ieeeDiv",
              Seq(Cast(d.left, DoubleType), Cast(d.right, DoubleType)),
              Seq(DoubleType, DoubleType), returnNullable = false)
          }
          // CH decimal division: result scale = the DIVIDEND's scale,
          // truncation, container-checked intermediate (00700 —
          // toDecimal32(n1/9, …) wants 0.5555 truncated at n1's scale,
          // not Spark's widened HALF_UP 0.555556). Corpus-gated; the
          // dividend must be an ORIGINAL decimal (not coercion's cast
          // of an integer, whose CH semantics differ).
          case dv: Divide
              if ok(dv.left, dv.right) && corpusSemantics &&
                origDecimal(dv.left).isDefined &&
                (integralBase(dv.right).isDefined ||
                  origDecimal(dv.right).isDefined) => {
            import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
            val (lExpr, lt) = origDecimal(dv.left).get
            val lBits = familyBits(lt.precision)
            integralBase(dv.right) match {
              case Some(ir) =>
                StaticInvoke(graft.functions.MathOps.getClass,
                  DecimalType(graft.functions.MathOps
                    .decimalContainerDigits(lBits), lt.scale),
                  "chDecimalDivInt",
                  Seq(lExpr, Cast(ir, LongType), Literal(lBits),
                    Literal(lt.scale)),
                  Seq(lt, LongType, IntegerType, IntegerType))
              case None =>
                val (rExpr, rt) = origDecimal(dv.right).get
                val bits = math.max(lBits, familyBits(rt.precision))
                StaticInvoke(graft.functions.MathOps.getClass,
                  DecimalType(graft.functions.MathOps
                    .decimalContainerDigits(bits), lt.scale),
                  "chDecimalDivDec",
                  Seq(lExpr, rExpr, Literal(bits), Literal(lt.scale),
                    Literal(rt.scale)),
                  Seq(lt, rt, IntegerType, IntegerType, IntegerType))
            }
          }
          case s @ Sum(c, _) if c.resolved && isBool(c) =>
            s.copy(child = Cast(c, IntegerType))
          case s: ChSum if s.child.resolved && isBool(s.child) =>
            s.copy(child = Cast(s.child, IntegerType))
          case a @ Average(c, _) if c.resolved && isBool(c) =>
            a.copy(child = Cast(c, IntegerType))
          case And(l, r) if ok(l, r) && numeric(l) && numeric(r) =>
            And(toBool(l), toBool(r))
          case And(l, r) if ok(l, r) && numeric(l) && isBool(r) =>
            And(toBool(l), r)
          case And(l, r) if ok(l, r) && isBool(l) && numeric(r) =>
            And(l, toBool(r))
          case Or(l, r) if ok(l, r) && numeric(l) && numeric(r) =>
            Or(toBool(l), toBool(r))
          case Or(l, r) if ok(l, r) && numeric(l) && isBool(r) =>
            Or(toBool(l), r)
          case Or(l, r) if ok(l, r) && isBool(l) && numeric(r) =>
            Or(l, toBool(r))
          case Not(c) if c.resolved && numeric(c) =>
            EqualTo(Cast(c, DoubleType), Literal(0.0d))
          case If(p, t, e) if p.resolved && numeric(p) =>
            If(toBool(p), t, e)
          // a DateTime('zone') column compares against a string literal
          // parsed in the COLUMN's zone, not the session's (reference
          // column-type timezone; 02739)
          case c: BinaryComparison if ok(c.left, c.right) &&
              colTz(c.left).isDefined && isTs(c.left) &&
              strLit(c.right).isDefined =>
            c.withNewChildren(Seq(c.left,
              Cast(strLit(c.right).get, TimestampType, colTz(c.left))))
          case c: BinaryComparison if ok(c.left, c.right) &&
              colTz(c.right).isDefined && isTs(c.right) &&
              strLit(c.left).isDefined =>
            c.withNewChildren(Seq(
              Cast(strLit(c.left).get, TimestampType, colTz(c.right)),
              c.right))
          case c: BinaryComparison
              if ok(c.left, c.right) && isBool(c.left) && numeric(c.right) =>
            c.withNewChildren(Seq(Cast(c.left, IntegerType), c.right))
          case c: BinaryComparison
              if ok(c.left, c.right) && numeric(c.left) && isBool(c.right) =>
            c.withNewChildren(Seq(c.left, Cast(c.right, IntegerType)))
          // CH compares maps by content; Spark's = has no map ordering —
          // equal maps have equal key-sorted entry arrays
          case EqualTo(l, r)
              if ok(l, r) && l.dataType.isInstanceOf[MapType] &&
                r.dataType.isInstanceOf[MapType] =>
            EqualTo(new SortArray(MapEntries(l)), new SortArray(MapEntries(r)))
          // CH tuple comparison is elementwise with per-field coercion
          // (tuples of mixed decimal widths compare fine — 00700);
          // Spark's struct = struct demands identical field types, so
          // expand to a pairwise conjunction and let the per-field
          // coercion rules align each pair
          case EqualTo(l, r) if ok(l, r) && structMismatch(l, r) =>
            val n = l.dataType.asInstanceOf[StructType].length
            (0 until n).map(i => EqualTo(GetStructField(l, i),
              GetStructField(r, i)): Expression).reduce(And(_, _))
        }
    }
  }
}

/** CH decimal-vs-constant comparison rescales the constant to the
  * decimal's scale INSIDE the decimal's container int (Decimal32→Int32,
  * Decimal64→Int64, else Int128); a constant that overflows the
  * container is error 407, even when a wider comparison would be
  * well-defined (00700_decimal_compare: `g = 30000` with g
  * Decimal32(5)). An OPTIMIZER rule, not a resolution rule: the corpus
  * writes the constant behind a lateral select alias, which only folds
  * to a literal after CollapseProject + ConstantFolding. Gated by
  * [[ChCoercions.CorpusFlag]].
  */
object ChDecimalCompareGuard extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!ChCoercions.corpusSemantics) return plan
    plan.transformAllExpressions {
      case c: BinaryComparison
          if c.left.resolved && c.right.resolved &&
            ChCoercions.decimalConstOverflow(c.left, c.right) =>
        throw new ArithmeticException(
          "Decimal constant comparison overflow (error 407 analog)")
    }
  }
}
