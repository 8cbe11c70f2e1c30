package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Generic aggregate-combinator composition (reference
  * src/AggregateFunctions/AggregateFunctionCombinatorFactory.cpp: the
  * factory peels combinator suffixes — -If / -Array / -ForEach / -Merge /
  * -State / -OrNull / -OrDefault / -Distinct / -OrderBy — off the right
  * of any unresolved aggregate name, recursively, and wraps the nested
  * function; chains of any depth compose, e.g. 00545's
  * `sumForEachStateForEachIfArrayIfMerge`).
  *
  * Re-expressed over this repo's VALUE state model
  * (ClickHouseAliases.stateMergeWave): a "state" is a plain mergeable
  * value. Each base aggregate is a [[Kernel]] of four expression-level
  * operations — build a per-row input element, fold collected elements
  * into a state, merge states, finish a state into the result — and each
  * combinator is a Kernel→Kernel transformer. The composed aggregate is
  * one `collect_list` plus pure array expressions, so it stays a single
  * hash aggregate with map-side partials; this path only serves names
  * the registry does not already have a specialized lowering for
  * (corpus-dialect coverage, not the engine hot path).
  *
  * Names are resolved lazily, per statement: [[registerMissing]] scans
  * the transpiled SQL for unresolved `ident(` tokens and registers a
  * composed builder for any name that peels to a known base — the Spark
  * analog of the reference factory's on-demand name resolution.
  */
object ChCombinators {

  private val ctr = new java.util.concurrent.atomic.AtomicLong()
  private def lv(): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq("__cb" + ctr.incrementAndGet()))
  private def lam(f: Expression => Expression): LambdaFunction = {
    val x = lv(); LambdaFunction(f(x), Seq(x))
  }
  private def lam2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val a = lv(); val b = lv(); LambdaFunction(f(a, b), Seq(a, b))
  }
  private def fld(e: Expression, n: String): Expression =
    UnresolvedExtractValue(e, Literal(n))
  private def notNull(arr: Expression): Expression =
    ArrayFilter(arr, lam(IsNotNull))
  private def foldSumD(arr: Expression): Expression =
    ArrayAggregate(notNull(arr), Literal(0.0d),
      lam2((a, x) => Add(a, Cast(x, DoubleType))), lam(a => a))
  private def truthy(e: Expression): Expression =
    Not(EqualTo(Cast(e, DoubleType), Literal(0.0d)))
  private def nullUnless(cond: Expression, value: Expression): Expression =
    If(truthy(cond), value, Literal.create(null, NullType))
  private def collectAgg(e: Expression): Expression =
    new CollectList(e).toAggregateExpression()
  private def struct(kvs: (String, Expression)*): Expression =
    CreateNamedStruct(kvs.flatMap { case (k, v) => Seq(Literal(k), v) })
  private def emptyInts: Expression =
    Literal.create(Seq.empty[Int], ArrayType(IntegerType, false))

  /** A base aggregate in the value model. `elem` builds the per-row
    * input element (bare value for single-arg bases, a named struct for
    * multi-arg); `fromInputs` folds a collected array of elements into a
    * state; `mergeStates` folds an array of states into one; `finish`
    * turns a state into the observable result.
    */
  private trait Kernel {
    def nArgs: Int
    def finishIsIdentity: Boolean = false
    def elem(data: Seq[Expression]): Expression =
      if (nArgs == 1) data.head
      else struct(data.zipWithIndex.map { case (e, i) => s"c${i + 1}" -> e }: _*)
    def fromInputs(arr: Expression): Expression
    def finish(st: Expression): Expression = st
    def mergeStates(sts: Expression): Expression
  }

  // ===== base kernels ======================================================

  private object SumK extends Kernel {
    val nArgs = 1
    override val finishIsIdentity = true
    def fromInputs(arr: Expression): Expression = foldSumD(arr)
    def mergeStates(sts: Expression): Expression = foldSumD(sts)
  }
  private object CountK extends Kernel {
    val nArgs = 1
    override val finishIsIdentity = true
    def fromInputs(arr: Expression): Expression =
      Cast(Size(notNull(arr)), LongType)
    def mergeStates(sts: Expression): Expression =
      Cast(foldSumD(sts), LongType)
  }
  private final class MinMaxK(isMin: Boolean) extends Kernel {
    val nArgs = 1
    override val finishIsIdentity = true
    private def pick(arr: Expression): Expression =
      if (isMin) ArrayMin(arr) else ArrayMax(arr)
    def fromInputs(arr: Expression): Expression = pick(arr)
    def mergeStates(sts: Expression): Expression = pick(sts)
  }
  private final class AnyK(last: Boolean) extends Kernel {
    val nArgs = 1
    override val finishIsIdentity = true
    def fromInputs(arr: Expression): Expression =
      ElementAt(notNull(arr), Literal(if (last) -1 else 1), None, false)
    def mergeStates(sts: Expression): Expression =
      ElementAt(notNull(sts), Literal(if (last) -1 else 1), None, false)
  }
  private object AvgK extends Kernel {
    val nArgs = 1
    def fromInputs(arr: Expression): Expression =
      struct("s" -> foldSumD(arr),
        "c" -> Cast(Size(notNull(arr)), LongType))
    override def finish(st: Expression): Expression =
      Divide(fld(st, "s"), Cast(fld(st, "c"), DoubleType))
    def mergeStates(sts: Expression): Expression =
      struct(
        "s" -> foldSumD(ArrayTransform(sts, lam(s => fld(s, "s")))),
        "c" -> Cast(foldSumD(ArrayTransform(sts, lam(s => fld(s, "c")))),
          LongType))
  }
  private object GroupArrayK extends Kernel {
    val nArgs = 1
    override val finishIsIdentity = true
    def fromInputs(arr: Expression): Expression = notNull(arr)
    def mergeStates(sts: Expression): Expression = Flatten(sts)
  }
  private object GroupUniqArrayK extends Kernel {
    val nArgs = 1
    override val finishIsIdentity = true
    def fromInputs(arr: Expression): Expression = ArrayDistinct(notNull(arr))
    def mergeStates(sts: Expression): Expression =
      ArrayDistinct(Flatten(sts))
  }
  /** uniq family: the value-model state is the distinct set (same shape
    * the registered `uniqState` produces), the result its size. Multiple
    * arguments count distinct TUPLES (00533's uniqArray over parallel
    * arrays), carried as the struct element.
    */
  private final class UniqK(upTo: Option[Expression], val nArgs: Int)
      extends Kernel {
    def fromInputs(arr: Expression): Expression = ArrayDistinct(notNull(arr))
    override def finish(st: Expression): Expression = upTo match {
      case Some(n) => Least(Seq(Cast(Size(st), LongType),
        Add(Cast(n, LongType), Literal(1L))))
      case None => Cast(Size(st), LongType)
    }
    def mergeStates(sts: Expression): Expression =
      ArrayDistinct(Flatten(sts))
  }
  /** argMin/argMax(v, k): the state is the winning (v, k) pair —
    * first-by-sort over k (reference AggregateFunctionArgMinMax.h keeps
    * the extremum of k and its v).
    */
  private final class ArgK(isMin: Boolean) extends Kernel {
    val nArgs = 2
    private def best(pairs: Expression): Expression = {
      val keyed = ArrayFilter(pairs, lam(p => IsNotNull(fld(p, "c2"))))
      val cmp = lam2 { (a, b) =>
        val ka = fld(a, "c2"); val kb = fld(b, "c2")
        val lt = if (isMin) LessThan(ka, kb) else GreaterThan(ka, kb)
        val gt = if (isMin) GreaterThan(ka, kb) else LessThan(ka, kb)
        CaseWhen(Seq((lt, Literal(-1)), (gt, Literal(1))), Some(Literal(0)))
      }
      ElementAt(ArraySort(keyed, cmp), Literal(1), None, false)
    }
    def fromInputs(arr: Expression): Expression = best(arr)
    override def finish(st: Expression): Expression = fld(st, "c1")
    def mergeStates(sts: Expression): Expression = best(notNull(sts))
  }
  /** Variance/stddev via the (n, Σx, Σx²) moment state. */
  private final class MomentsK(sample: Boolean, sqrt: Boolean) extends Kernel {
    val nArgs = 1
    def fromInputs(arr: Expression): Expression =
      struct("n" -> Cast(Size(notNull(arr)), DoubleType),
        "sx" -> foldSumD(arr),
        "sxx" -> foldSumD(ArrayTransform(notNull(arr),
          lam(x => Multiply(Cast(x, DoubleType), Cast(x, DoubleType))))))
    override def finish(st: Expression): Expression = {
      val n = fld(st, "n"); val sx = fld(st, "sx"); val sxx = fld(st, "sxx")
      val denom = if (sample) Subtract(n, Literal(1.0d)) else n
      val v = Divide(Subtract(sxx, Divide(Multiply(sx, sx), n)), denom)
      if (sqrt) Sqrt(v) else v
    }
    def mergeStates(sts: Expression): Expression =
      struct(
        "n" -> foldSumD(ArrayTransform(sts, lam(s => fld(s, "n")))),
        "sx" -> foldSumD(ArrayTransform(sts, lam(s => fld(s, "sx")))),
        "sxx" -> foldSumD(ArrayTransform(sts, lam(s => fld(s, "sxx")))))
  }

  /** sumMap(keys, values): (sorted distinct keys, per-key sums) tuple
    * (reference AggregateFunctionSumMap.h). State = the tuple itself;
    * merge re-aggregates over the concatenated key/sum arrays.
    */
  private object SumMapK extends Kernel {
    val nArgs = 2
    override val finishIsIdentity = true
    private def build(keys: Expression, vals: Expression): Expression = {
      val distinct = new SortArray(ArrayDistinct(keys))
      val sums = ArrayTransform(distinct, lam(k =>
        ArrayAggregate(
          ZipWith(keys, vals, lam2((kk, vv) =>
            If(EqualTo(kk, k), Cast(vv, LongType), Literal(0L)))),
          Literal(0L), lam2((a, x) => Add(a, x)), lam(a => a))))
      struct("col1" -> distinct, "col2" -> sums)
    }
    def fromInputs(arr: Expression): Expression = build(
      Flatten(ArrayTransform(arr, lam(e => fld(e, "c1")))),
      Flatten(ArrayTransform(arr, lam(e => fld(e, "c2")))))
    def mergeStates(sts: Expression): Expression = build(
      Flatten(ArrayTransform(sts, lam(s => fld(s, "col1")))),
      Flatten(ArrayTransform(sts, lam(s => fld(s, "col2")))))
  }

  /** deltaSum[Timestamp]: sum of the positive value deltas, in timestamp
    * order (reference AggregateFunctionDeltaSumTimestamp.h) or in arrival
    * order for the bare deltaSum (AggregateFunctionDeltaSum.h). The
    * value-model state is the collected (v, t) sequence, so out-of-order
    * -State/-Merge recombinations re-sort exactly like the reference's
    * boundary-aware merge.
    */
  private final class DeltaSumK(withTs: Boolean) extends Kernel {
    val nArgs = if (withTs) 2 else 1
    override def elem(data: Seq[Expression]): Expression =
      if (withTs) struct("v" -> data.head, "t" -> data(1)) else data.head
    def fromInputs(arr: Expression): Expression = arr
    def mergeStates(sts: Expression): Expression = Flatten(sts)
    override def finish(st: Expression): Expression = {
      val ordered =
        if (withTs) ArrayTransform(
          new SortArray(ArrayTransform(st,
            lam(e => struct("k" -> fld(e, "t"), "x" -> fld(e, "v"))))),
          lam(p => fld(p, "x")))
        else st
      val n = Size(ordered)
      val deltas = If(GreaterThan(n, Literal(1)),
        ArrayTransform(
          new Sequence(Literal(2), n, Some(Literal(1))),
          lam(i => Greatest(Seq(Literal(0.0d), Subtract(
            Cast(ElementAt(ordered, i, None, false), DoubleType),
            Cast(ElementAt(ordered, Subtract(i, Literal(1)), None, false),
              DoubleType)))))),
        Literal.create(Seq.empty[Double], ArrayType(DoubleType, false)))
      foldSumD(deltas)
    }
  }

  /** groupArrayInsertAt([default,])(x, pos): x placed at position pos,
    * gaps filled with the default (reference
    * AggregateFunctionGroupArrayInsertAt.h). State = collected (pos, x).
    */
  private final class InsertAtK(default: Option[Expression],
      resizeTo: Option[Expression]) extends Kernel {
    val nArgs = 2
    override def elem(data: Seq[Expression]): Expression =
      struct("x" -> data.head, "p" -> Cast(data(1), IntegerType))
    def fromInputs(arr: Expression): Expression = arr
    def mergeStates(sts: Expression): Expression = Flatten(sts)
    override def finish(st: Expression): Expression = {
      // 2nd parameter forces every group's array to that length
      // (GroupArrayInsertAt.h length_to_resize; out-of-range inserts
      // are dropped — 00459's k=10 row is all defaults)
      val maxPos = resizeTo match {
        case Some(l) => Subtract(Cast(l, IntegerType), Literal(1))
        case None => Coalesce(Seq(
          ArrayMax(ArrayTransform(st, lam(e => fld(e, "p")))), Literal(-1)))
      }
      val xs = ArrayTransform(st, lam(e => fld(e, "x")))
      val fill = default.getOrElse(ClickHouseAliases.chArrElemDefault(xs))
      If(LessThan(maxPos, Literal(0)),
        new Slice(xs, Literal(1), Literal(0)), // empty, element-typed
        ArrayTransform(
          new Sequence(Literal(0), maxPos, Some(Literal(1))),
          lam(p => {
            val hit = ArrayFilter(st, lam(e => EqualTo(fld(e, "p"), p)))
            If(GreaterThan(Size(hit), Literal(0)),
              fld(ElementAt(hit, Literal(1), None, false), "x"), fill)
          })))
    }
  }

  /** groupArraySample(k[, seed])(x): seeded reservoir — the surviving
    * indices come from the exact pcg32_fast port
    * (graft.functions.ReservoirSample), mapped onto the collected values.
    */
  private final class SampleK(k: Expression, seed: Expression) extends Kernel {
    val nArgs = 1
    def fromInputs(arr: Expression): Expression = arr
    def mergeStates(sts: Expression): Expression = Flatten(sts)
    override def finish(st: Expression): Expression = {
      val idx = StaticInvoke(
        graft.functions.ReservoirSample.getClass,
        ArrayType(IntegerType, false), "indices",
        Seq(Size(st), Cast(k, IntegerType), Cast(seed, LongType)),
        Seq(IntegerType, IntegerType, LongType),
        propagateNull = false, returnNullable = false)
      ArrayTransform(idx, lam(i => ElementAt(st, i, None, false)))
    }
  }

  /** Quantile family over a collected-multiset state. `mode` selects the
    * finisher: interpolated (quantile/median/Deterministic — reference
    * QuantileReservoirSampler below its reservoir size), exact
    * nth-element (QuantileExact.h), exact-weighted threshold
    * (QuantileExactWeighted.h), or the exact timing sketch port
    * (graft.functions.TimingQuantile).
    */
  private final class QuantileK(levels: Seq[Expression], mode: String,
      weighted: Boolean, many: Boolean, extraArgs: Int) extends Kernel {
    val nArgs = (if (weighted) 2 else 1) + extraArgs
    override def elem(data: Seq[Expression]): Expression =
      if (weighted) struct("v" -> data.head, "w" -> Cast(data(1), DoubleType))
      else data.head
    def fromInputs(arr: Expression): Expression =
      if (weighted) ArrayFilter(arr, lam(p => IsNotNull(fld(p, "v"))))
      else notNull(arr)
    def mergeStates(sts: Expression): Expression = Flatten(sts)
    private def interpAt(sorted: Expression, level: Expression): Expression = {
      val n = Size(sorted)
      val pos = Add(Multiply(Cast(Subtract(n, Literal(1)), DoubleType),
        Cast(level, DoubleType)), Literal(1.0d))
      val lo = Cast(pos, IntegerType)
      val hi = Least(Seq(Add(lo, Literal(1)), n))
      val frac = Subtract(pos, Cast(lo, DoubleType))
      Add(
        Multiply(Cast(ElementAt(sorted, lo, None, false), DoubleType),
          Subtract(Literal(1.0d), frac)),
        Multiply(Cast(ElementAt(sorted, hi, None, false), DoubleType), frac))
    }
    override def finish(st: Expression): Expression = {
      val lvls = if (levels.nonEmpty) levels else Seq(Literal(0.5d))
      def results: Seq[Expression] = mode match {
        case "interp" =>
          val sorted = new SortArray(st)
          lvls.map(l => interpAt(sorted, l))
        case "exact" =>
          val sorted = new SortArray(st)
          lvls.map(l => ClickHouseAliases.exactElem(sorted, l))
        case "exactWeighted" =>
          val sorted = new SortArray(st)
          lvls.map(l => ClickHouseAliases.exactWeightedElem(sorted, l))
        case "timing" =>
          // clamp to the sketch domain BEFORE the integer cast: a huge
          // Float64 input (01914's 8.5e37) must saturate at 30000, not
          // overflow the ANSI cast; negatives floor at 0, NaN → 0
          def clamped(x: Expression): Expression = Cast(
            Least(Seq(
              Greatest(Seq(new NaNvl(Cast(x, DoubleType), Literal(0.0d)),
                Literal(0.0d))),
              Literal(30000.0d))), LongType)
          val vals =
            if (weighted) ArrayTransform(st, lam(p => clamped(fld(p, "v"))))
            else ArrayTransform(st, lam(x => clamped(x)))
          val ws =
            if (weighted) ArrayTransform(st,
              lam(p => Cast(fld(p, "w"), LongType)))
            else Literal.create(Seq.empty[Long], ArrayType(LongType, false))
          lvls.map(l => StaticInvoke(
            graft.functions.TimingQuantile.getClass, FloatType, "one",
            Seq(vals, ws, Cast(l, DoubleType)),
            Seq(ArrayType(LongType, false), ArrayType(LongType, false),
              DoubleType),
            propagateNull = false, returnNullable = false))
      }
      if (many) CreateArray(results) else results.head
    }
  }

  // ===== combinator wrappers ===============================================

  /** -If: trailing condition filters which rows reach the nested
    * aggregate (reference Combinators/AggregateFunctionIf.h).
    */
  private final case class IfC(k: Kernel) extends Kernel {
    val nArgs = k.nArgs + 1
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    override def elem(data: Seq[Expression]): Expression =
      struct("v" -> k.elem(data.init), "c" -> truthy(data.last))
    def fromInputs(arr: Expression): Expression =
      k.fromInputs(ArrayTransform(
        ArrayFilter(arr, lam(e => fld(e, "c"))), lam(e => fld(e, "v"))))
    override def finish(st: Expression): Expression = k.finish(st)
    def mergeStates(sts: Expression): Expression = k.mergeStates(sts)
  }

  /** -Array: the nested aggregate consumes every ELEMENT of every row's
    * array argument(s) (Combinators/AggregateFunctionArray.h; multi-arg
    * form zips the arrays positionally — 00533's uniqArray over three
    * parallel literals counts distinct tuples).
    */
  private final case class ArrayC(k: Kernel) extends Kernel {
    val nArgs = k.nArgs
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    override def elem(data: Seq[Expression]): Expression =
      if (k.nArgs == 1) ArrayTransform(data.head, lam(x => k.elem(Seq(x))))
      else {
        val zipped = ArraysZip(data,
          data.indices.map(i => Literal(s"z${i + 1}")))
        ArrayTransform(zipped, lam(z =>
          k.elem(data.indices.map(i => fld(z, s"z${i + 1}")))))
      }
    def fromInputs(arr: Expression): Expression =
      k.fromInputs(Flatten(notNull(arr)))
    override def finish(st: Expression): Expression = k.finish(st)
    def mergeStates(sts: Expression): Expression = k.mergeStates(sts)
  }

  /** -ForEach: element-wise ACROSS rows — result index i aggregates
    * exactly the rows whose array reaches index i (ragged inputs are
    * first-class, Combinators/AggregateFunctionForEach.h).
    */
  private final case class ForEachC(k: Kernel) extends Kernel {
    val nArgs = k.nArgs
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    // element = the row's array(s): bare array for single-arg bases, a
    // struct of parallel arrays otherwise
    override def elem(data: Seq[Expression]): Expression =
      if (k.nArgs == 1) data.head
      else struct(data.zipWithIndex.map { case (e, i) => s"a${i + 1}" -> e }: _*)
    private def len(r: Expression): Expression =
      if (k.nArgs == 1) Size(r) else Size(fld(r, "a1"))
    private def pick(r: Expression, i: Expression): Expression =
      if (k.nArgs == 1) k.elem(Seq(ElementAt(r, i, None, false)))
      else k.elem((1 to k.nArgs).map(j =>
        ElementAt(fld(r, s"a$j"), i, None, false)))
    private def perIndex(rows: Expression,
        reduce: Expression => Expression): Expression = {
      val maxLen = Coalesce(Seq(
        ArrayMax(ArrayTransform(rows, lam(r => len(r)))), Literal(0)))
      val idxs = If(GreaterThan(maxLen, Literal(0)),
        new Sequence(Literal(1), Cast(maxLen, IntegerType), Some(Literal(1))),
        emptyInts)
      ArrayTransform(idxs, lam(i =>
        reduce(ArrayTransform(
          ArrayFilter(rows, lam(r => GreaterThanOrEqual(len(r), i))),
          lam(r => pick(r, i))))))
    }
    def fromInputs(arr: Expression): Expression =
      perIndex(notNull(arr), k.fromInputs)
    override def finish(st: Expression): Expression =
      if (k.finishIsIdentity) st
      else ArrayTransform(st, lam(s => k.finish(s)))
    def mergeStates(sts: Expression): Expression = {
      // states are arrays of inner states; merge element-wise
      val maxLen = Coalesce(Seq(
        ArrayMax(ArrayTransform(sts, lam(s => Size(s)))), Literal(0)))
      val idxs = If(GreaterThan(maxLen, Literal(0)),
        new Sequence(Literal(1), Cast(maxLen, IntegerType), Some(Literal(1))),
        emptyInts)
      ArrayTransform(idxs, lam(i =>
        k.mergeStates(ArrayTransform(
          ArrayFilter(notNull(sts), lam(s => GreaterThanOrEqual(Size(s), i))),
          lam(s => ElementAt(s, i, None, false))))))
    }
  }

  /** -State: the observable value becomes the value-model state. When
    * the nested finish is not the identity the value is wrapped as
    * struct(__fin, __st) so BOTH finalizeAggregation (reads __fin) and a
    * downstream -Merge (reads __st) stay faithful.
    */
  private final case class StateC(k: Kernel) extends Kernel {
    val nArgs = k.nArgs
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    override def elem(data: Seq[Expression]): Expression = k.elem(data)
    def fromInputs(arr: Expression): Expression = k.fromInputs(arr)
    override def finish(st: Expression): Expression =
      if (k.finishIsIdentity) st
      else struct("__fin" -> k.finish(st), "__st" -> st)
    def mergeStates(sts: Expression): Expression = k.mergeStates(sts)
  }

  /** -Merge: the single argument is a column of nested states; `wrapped`
    * records (statically, at resolve time) whether those states carry
    * the generic struct(__fin, __st) envelope or the bare registered
    * shape (uniqState = the distinct set, avgState = (s, c), …).
    */
  private final case class MergeC(k: Kernel, wrapped: Boolean) extends Kernel {
    val nArgs = 1
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    // unwrap per ROW (not post-collect): a scalar-subquery state stays a
    // plain extract child — inside an ArrayTransform it would trip
    // Spark's no-subquery-in-higher-order-function rule (00905)
    override def elem(data: Seq[Expression]): Expression =
      if (wrapped) fld(data.head, "__st") else data.head
    def fromInputs(arr: Expression): Expression = k.mergeStates(arr)
    override def finish(st: Expression): Expression = k.finish(st)
    def mergeStates(sts: Expression): Expression = k.mergeStates(sts)
  }

  /** -Distinct: deduplicate the inputs before the nested aggregate. */
  private final case class DistinctC(k: Kernel) extends Kernel {
    val nArgs = k.nArgs
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    override def elem(data: Seq[Expression]): Expression = k.elem(data)
    def fromInputs(arr: Expression): Expression =
      k.fromInputs(ArrayDistinct(arr))
    override def finish(st: Expression): Expression = k.finish(st)
    def mergeStates(sts: Expression): Expression = k.mergeStates(sts)
  }

  /** -OrNull / -OrDefault: NULL (resp. the type default) instead of the
    * nested result when no row reached the aggregate; emptiness rides in
    * the state (reference Combinators/AggregateFunctionNull.h family).
    */
  private final case class OrElseC(k: Kernel, toNull: Boolean) extends Kernel {
    val nArgs = k.nArgs
    override def elem(data: Seq[Expression]): Expression = k.elem(data)
    def fromInputs(arr: Expression): Expression =
      struct("n" -> Cast(Size(arr), LongType), "s" -> k.fromInputs(arr))
    override def finish(st: Expression): Expression = {
      val nonEmpty = GreaterThan(fld(st, "n"), Literal(0L))
      val fin = k.finish(fld(st, "s"))
      if (toNull) If(nonEmpty, fin, Literal.create(null, NullType))
      else ChDispatch("orDefaultFinish", Seq(nonEmpty, fin)) { c =>
        // the -OrDefault default is the RESULT type's default ('' for
        // String, 0 otherwise — reference insertDefaultInto semantics;
        // Spark aggregate nullability is not CH Nullable-ness, so the
        // non-null default is used)
        If(c.head, c(1),
          ClickHouseAliases.chElemDefault(c(1).dataType, nullable = false))
      }
    }
    def mergeStates(sts: Expression): Expression =
      struct(
        "n" -> Cast(foldSumD(ArrayTransform(sts, lam(s => fld(s, "n")))),
          LongType),
        "s" -> k.mergeStates(ArrayTransform(sts, lam(s => fld(s, "s")))))
  }

  /** -OrderBy (ByConity extension, reference
    * src/AggregateFunctions/AggregateFunctionOrderBy.h): the trailing
    * `n` argument(s) are sort keys; parameters carry the ascending flags
    * REVERSED plus the key count (transformParameters reads
    * `params.rbegin()[i]` for key i-1).
    */
  private final case class OrderByC(k: Kernel, nKeys: Int,
      ascending: Seq[Boolean]) extends Kernel {
    val nArgs = k.nArgs + nKeys
    override def finishIsIdentity: Boolean = k.finishIsIdentity
    override def elem(data: Seq[Expression]): Expression =
      struct(("v" -> k.elem(data.dropRight(nKeys))) +:
        (1 to nKeys).map(j =>
          s"k$j" -> data(data.size - nKeys + j - 1)): _*)
    def fromInputs(arr: Expression): Expression = {
      val cmp = lam2 { (a, b) =>
        val branches = (1 to nKeys).flatMap { j =>
          val ka = fld(a, s"k$j"); val kb = fld(b, s"k$j")
          val (lt, gt) =
            if (ascending(j - 1)) (LessThan(ka, kb), GreaterThan(ka, kb))
            else (GreaterThan(ka, kb), LessThan(ka, kb))
          Seq((lt, Literal(-1)), (gt, Literal(1)))
        }
        CaseWhen(branches, Some(Literal(0)))
      }
      k.fromInputs(ArrayTransform(ArraySort(arr, cmp), lam(e => fld(e, "v"))))
    }
    override def finish(st: Expression): Expression = k.finish(st)
    def mergeStates(sts: Expression): Expression = k.mergeStates(sts)
  }

  // ===== base registry =====================================================

  /** `dataArity` -1 = variable (the base consumes whatever data args
    * remain, as a tuple); `paramCount` -1 = variable level-list head
    * (quantile family — then dataArity must be fixed).
    */
  private final case class Base(dataArity: Int, paramCount: Int,
      mk: (Seq[Expression], Int) => Kernel)

  private def fixed(arity: Int, mk: Seq[Expression] => Kernel): Base =
    Base(arity, 0, (ps, _) => mk(ps))

  private def quantBase(mode: String, weighted: Boolean, many: Boolean,
      extraArgs: Int = 0): Base =
    Base((if (weighted) 2 else 1) + extraArgs, -1,
      (ps, _) => new QuantileK(ps, mode, weighted, many, extraArgs))

  private def uniqBase(paramCount: Int): Base =
    Base(-1, paramCount, (ps, m) => new UniqK(ps.headOption, m))

  private val bases: Map[String, Base] = Map(
    "sum" -> fixed(1, _ => SumK),
    "count" -> fixed(1, _ => CountK),
    "min" -> fixed(1, _ => new MinMaxK(true)),
    "max" -> fixed(1, _ => new MinMaxK(false)),
    "any" -> fixed(1, _ => new AnyK(false)),
    "first" -> fixed(1, _ => new AnyK(false)),
    "anyLast" -> fixed(1, _ => new AnyK(true)),
    "avg" -> fixed(1, _ => AvgK),
    "groupArray" -> fixed(1, _ => GroupArrayK),
    "groupUniqArray" -> fixed(1, _ => GroupUniqArrayK),
    "uniq" -> uniqBase(0),
    "uniqExact" -> uniqBase(0),
    "uniqCombined" -> uniqBase(0),
    "uniqCombined64" -> uniqBase(0),
    "uniqHLL12" -> uniqBase(0),
    "uniqTheta" -> uniqBase(0),
    "uniqUpTo" -> uniqBase(1),
    "argMin" -> fixed(2, _ => new ArgK(true)),
    "argMax" -> fixed(2, _ => new ArgK(false)),
    "sumMap" -> fixed(2, _ => SumMapK),
    "deltaSum" -> fixed(1, _ => new DeltaSumK(false)),
    "deltaSumTimestamp" -> fixed(2, _ => new DeltaSumK(true)),
    "arbitrary" -> fixed(1, _ => new AnyK(false)),
    "groupArrayInsertAt" -> Base(2, -1,
      (ps, _) => new InsertAtK(ps.headOption, ps.lift(1))),
    "groupArraySample" -> Base(1, -1, (ps, _) => new SampleK(
      ps.headOption.getOrElse(Literal(Int.MaxValue)),
      ps.lift(1).getOrElse(Literal(123456L)))),
    "stddevPop" -> fixed(1, _ => new MomentsK(false, true)),
    "stddev_pop" -> fixed(1, _ => new MomentsK(false, true)),
    "stddevSamp" -> fixed(1, _ => new MomentsK(true, true)),
    "stddev_samp" -> fixed(1, _ => new MomentsK(true, true)),
    "varPop" -> fixed(1, _ => new MomentsK(false, false)),
    "var_pop" -> fixed(1, _ => new MomentsK(false, false)),
    "varSamp" -> fixed(1, _ => new MomentsK(true, false)),
    "var_samp" -> fixed(1, _ => new MomentsK(true, false)),
    "quantile" -> quantBase("interp", weighted = false, many = false),
    "median" -> quantBase("interp", weighted = false, many = false),
    "quantiles" -> quantBase("interp", weighted = false, many = true),
    "quantileExact" -> quantBase("exact", weighted = false, many = false),
    "medianExact" -> quantBase("exact", weighted = false, many = false),
    "quantilesExact" -> quantBase("exact", weighted = false, many = true),
    "quantileExactWeighted" ->
      quantBase("exactWeighted", weighted = true, many = false),
    "medianExactWeighted" ->
      quantBase("exactWeighted", weighted = true, many = false),
    "quantilesExactWeighted" ->
      quantBase("exactWeighted", weighted = true, many = true),
    "quantileTiming" -> quantBase("timing", weighted = false, many = false),
    "medianTiming" -> quantBase("timing", weighted = false, many = false),
    "quantilesTiming" -> quantBase("timing", weighted = false, many = true),
    "quantileTimingWeighted" ->
      quantBase("timing", weighted = true, many = false),
    "medianTimingWeighted" ->
      quantBase("timing", weighted = true, many = false),
    "quantilesTimingWeighted" ->
      quantBase("timing", weighted = true, many = true),
    // Deterministic: trailing determinator argument only steers the
    // reference's sampling — exact below reservoir size, so ignored
    "quantileDeterministic" ->
      quantBase("interp", weighted = false, many = false, extraArgs = 1),
    "medianDeterministic" ->
      quantBase("interp", weighted = false, many = false, extraArgs = 1),
    "quantilesDeterministic" ->
      quantBase("interp", weighted = false, many = true, extraArgs = 1))

  // longest-first so -OrNull wins over a hypothetical -Null etc.
  private val suffixes = Seq("OrDefault", "OrNull", "Distinct", "ForEach",
    "OrderBy", "Array", "Merge", "State", "If")

  /** Peel combinator suffixes right-to-left until a known base remains.
    * Returns (base, combinators innermost-first).
    */
  private def peel(name: String): Option[(String, List[String])] =
    if (bases.contains(name)) Some((name, Nil))
    else suffixes.iterator
      .filter(s => name.endsWith(s) && name.length > s.length)
      .flatMap(s => peel(name.dropRight(s.length))
        .map { case (b, cs) => (b, cs :+ s) })
      .nextOption()

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v, _) if v != null => v.toString.toDouble.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got $other (error 42 analog)")
  }

  private def composeAndBuild(baseName: String, combs: List[String],
      reg: String => Boolean, cs: Seq[Expression]): Expression = {
    val base = bases(baseName)
    val lastMerge = combs.lastIndexOf("Merge")
    val live = combs.drop(lastMerge + 1)
    val liveIfs = live.count(_ == "If")
    val hasOrderBy = live.contains("OrderBy")
    if (combs.count(_ == "OrderBy") > (if (hasOrderBy) 1 else 0))
      throw new IllegalArgumentException(
        s"$baseName: only one live -OrderBy combinator is supported")
    if (hasOrderBy && (base.dataArity < 0 || base.paramCount < 0) &&
        lastMerge < 0)
      throw new IllegalArgumentException(
        s"$baseName: -OrderBy over a variable-arity base is unsupported")
    val baseD: Int =
      if (lastMerge >= 0) 1
      else if (base.dataArity >= 0) base.dataArity
      else {
        // variable-arity base (uniq family): data = whatever remains
        val d = cs.size - base.paramCount - liveIfs
        if (d < 1) throw new IllegalArgumentException(
          s"$baseName${combs.mkString}: too few arguments (error 42 analog)")
        d
      }
    // arg-count arithmetic: cs = baseParams ++ (dirs, n)? ++ data; with
    // one OrderBy, n appears on BOTH sides, so it solves directly.
    val (nKeys, obParams) =
      if (!hasOrderBy) (0, 0)
      else {
        val rem = cs.size - baseD - liveIfs - 1
        if (rem < 2 || rem % 2 != 0) throw new IllegalArgumentException(
          s"$baseName: wrong number of arguments for -OrderBy " +
            "(error 42 analog)")
        (rem / 2, rem / 2 + 1)
      }
    val dataCount = baseD + liveIfs + nKeys
    if (cs.size < dataCount) throw new IllegalArgumentException(
      s"$baseName${combs.mkString}: too few arguments (error 42 analog)")
    val paramCount = cs.size - dataCount
    val baseParams = cs.take(paramCount - obParams)
    val obDirs = cs.slice(paramCount - obParams, paramCount - 1)
    if (hasOrderBy) {
      val declared = litInt(cs(paramCount - 1), "-OrderBy key count")
      if (declared != nKeys) throw new IllegalArgumentException(
        s"$baseName: -OrderBy declares $declared keys but " +
          s"$nKeys fit the argument count (error 42 analog)")
    }
    // ascending flags are reversed relative to the keys (reference
    // AggregateFunctionOrderBy.cpp: is_ascending[i-1] = params.rbegin()[i])
    val ascending = (1 to nKeys).map(j =>
      litInt(obDirs(nKeys - j), "-OrderBy direction") != 0)
    val baseArity =
      if (lastMerge >= 0)
        (if (base.dataArity >= 0) base.dataArity else 1)
      else baseD
    var kernel = base.mk(baseParams, baseArity)
    var innerName = baseName
    combs.foreach { c =>
      kernel = c match {
        case "If" => IfC(kernel)
        case "Array" => ArrayC(kernel)
        case "ForEach" => ForEachC(kernel)
        case "State" => StateC(kernel)
        case "Distinct" => DistinctC(kernel)
        case "OrNull" => OrElseC(kernel, toNull = true)
        case "OrDefault" => OrElseC(kernel, toNull = false)
        case "OrderBy" => OrderByC(kernel, nKeys, ascending)
        case "Merge" => MergeC(kernel,
          wrapped = !kernel.finishIsIdentity && !reg(innerName + "State"))
      }
      innerName += c
    }
    val data = cs.drop(paramCount)
    if (data.size != kernel.nArgs) throw new IllegalArgumentException(
      s"$baseName${combs.mkString}: expected ${kernel.nArgs} arguments, " +
        s"got ${data.size} (error 42 analog)")
    kernel.finish(kernel.fromInputs(collectAgg(kernel.elem(data))))
  }

  /** Exact timing-quantile aggregate (graft.functions.TimingQuantile)
    * shared with the registered quantileTiming* spellings — one
    * algorithm for the registered and the combinator-composed forms.
    */
  private[sql] def timingAgg(levels: Seq[Expression], value: Expression,
      weight: Option[Expression], many: Boolean): Expression = {
    val k = new QuantileK(levels, "timing", weight.isDefined, many, 0)
    val data = Seq(value) ++ weight.toSeq
    k.finish(k.fromInputs(collectAgg(k.elem(data))))
  }

  /** -Array entry shared with the registered uniqArray/uniqExactArray
    * spellings (multi-arg form counts distinct zipped tuples, 00533).
    */
  private[sql] def arrayBuild(baseName: String,
      cs: Seq[Expression]): Expression =
    composeAndBuild(baseName, List("Array"), _ => false, cs)

  /** The parameterized -OrderBy entry shared with the registered
    * groupArrayOrderBy/anyOrderBy spellings (which keep their simple
    * 2-arg form for backward compatibility).
    */
  private[sql] def orderByBuild(baseName: String,
      cs: Seq[Expression]): Expression =
    composeAndBuild(baseName, List("OrderBy"), _ => false, cs)

  /** Resolve an unregistered name into a composed builder, or None. */
  def resolve(name: String, reg: String => Boolean,
      regBuilder: String => Option[Seq[Expression] => Expression])
      : Option[Seq[Expression] => Expression] = {
    // fast path: -If over ANY registered aggregate — wrap its non-param
    // args in the null-unless-condition mask (null-skipping aggregates
    // then see exactly the matching rows)
    if (name.endsWith("If") && name.length > 2) {
      regBuilder(name.dropRight(2)) match {
        case Some(inner) =>
          return Some(cs => {
            if (cs.size < 2) throw new IllegalArgumentException(
              s"$name needs a trailing condition (error 42 analog)")
            inner(cs.init.map(a =>
              if (a.foldable) a else nullUnless(cs.last, a)))
          })
        case None =>
      }
    }
    // bare bases resolve too (medianTimingWeighted, quantileDeterministic
    // spellings the registry lacks), not just suffixed chains
    peel(name).map { case (baseName, combs) =>
      cs => composeAndBuild(baseName, combs, reg, cs)
    }
  }

  private val keywordSkip: Set[String] = Set(
    "select", "from", "where", "group", "order", "by", "having", "limit",
    "union", "all", "distinct", "as", "on", "join", "values", "insert",
    "create", "table", "with", "over", "partition", "and", "or", "not",
    "in", "exists", "between", "case", "when", "then", "else", "end")

  private val unresolvable =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // names WE registered: they must not count as "registered bare state
  // producers" when a -Merge in the same statement decides whether its
  // input states carry the generic (__fin, __st) envelope
  private val genericNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Scan a transpiled statement's tokens for `ident(` call shapes (a
    * plain ASCII identifier, then `(` as the next non-space token) and
    * register a composed builder for any combinator-chain name the
    * session registry cannot already resolve. Called from
    * ChTranspiler.transpile — every corpus execution path funnels
    * through it right before spark.sql.
    */
  def registerMissing(ts: Seq[ChLex.Tok]): Unit =
    SparkSession.getActiveSession.foreach { spark =>
      val fr = spark.sessionState.functionRegistry
      val calls = ts.indices.collect {
        case k if ts.lift(ChLex.nextSig(ts, k + 1)).contains(ChLex.Punct("(")) => ts(k)
      }.collect {
        case ChLex.Word(w) if (w.head == '_' || w.head.isLetter) &&
            w.forall(c => c < 128 && (c.isLetterOrDigit || c == '_')) => w
      }
      calls.distinct.foreach { name =>
        if (!keywordSkip.contains(name.toLowerCase) &&
            !unresolvable.contains(name) &&
            !fr.functionExists(FunctionIdentifier(name.toLowerCase))) {
          val reg: String => Boolean =
            n => fr.functionExists(FunctionIdentifier(n.toLowerCase)) &&
              !genericNames.contains(n.toLowerCase)
          val regBuilder: String => Option[Seq[Expression] => Expression] =
            n => if (genericNames.contains(n.toLowerCase)) None
              else fr.lookupFunctionBuilder(FunctionIdentifier(n.toLowerCase))
          resolve(name, reg, regBuilder) match {
            case Some(builder) =>
              genericNames.add(name.toLowerCase)
              fr.registerFunction(FunctionIdentifier(name.toLowerCase),
                new ExpressionInfo("graft.sql.ChCombinators", name), builder)
            case None =>
              // -If resolution depends on the SESSION's registry (the
              // fast path wraps a registered builder) — never cache its
              // failure across sessions
              if (!name.endsWith("If")) unresolvable.add(name)
          }
        }
      }
    }
}
