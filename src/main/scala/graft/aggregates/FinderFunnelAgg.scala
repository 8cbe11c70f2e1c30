package graft.aggregates

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** finderFunnel: per-user funnel levels broken down by watch slot
  * (reference /root/reference/src/AggregateFunctions/AggregateFunctionFinderFunnel.h:
  * parameters (watch_start, watch_step, watch_numbers, window); the output
  * is one funnel level per watch slot — the deepest step chain whose FIRST
  * event falls in that slot and whose last event completes within `window`
  * of the first; AggregateFunctionFunnelRep.h then folds those level
  * arrays into per-slot per-level user counts).
  *
  * Semantics here are the exact ones the reference approximates: a slot's
  * level is the maximum l such that SOME step-1 event s in the slot begins
  * a chain e1 <= e2 <= ... <= el (timestamps non-decreasing, one event per
  * step, step types distinct) with el <= s + window. The reference's main
  * loop tracks only two concurrent candidate chains
  * (AggregateFunctionFinderFunnel.h:86-99 `funnel_index`) as a bounded
  * approximation of this; computing the exact maximum is no more expensive
  * done right, so we do:
  *
  * For each level l, a single reverse sweep over the user's time-sorted
  * events maintains, per step k, the earliest completion time E_k of a
  * chain of steps k..l starting at-or-after the sweep position (ties
  * handled group-wise so non-decreasing chains may use same-timestamp
  * events). At a step-1 event s, level l is reached iff
  * min E_2(at-or-after s) <= s + window. O(n·L^2) per user with no
  * quadratic pair scan, so per-user cost stays linear in events — the
  * property that matters when the group-by runs over billions of users.
  *
  * Distribution shape: identical to [[WindowFunnelAgg]] — the partial
  * buffer is the packed (ts, step) long array, merged by concatenation, so
  * map-side combine works and the shuffle carries one buffer per user.
  */
case class FinderFunnelAgg(
    tsExpr: Expression,
    stepExpr: Expression,
    watchStartUs: Long,
    watchStepUs: Long,
    watchNumbers: Int,
    windowUs: Long,
    nSteps: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FunnelBuf] with BinaryLike[Expression] {

  require(nSteps >= 1 && nSteps <= 63, s"nSteps must be in [1, 63], got $nSteps")
  require(watchStepUs > 0 && watchNumbers > 0, "watch grid must be non-empty")

  override def left: Expression = tsExpr
  override def right: Expression = stepExpr
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "finder_funnel"

  override def createAggregationBuffer(): FunnelBuf = new FunnelBuf()

  override def update(b: FunnelBuf, input: InternalRow): FunnelBuf = {
    val ts = tsExpr.eval(input)
    val st = stepExpr.eval(input)
    if (ts != null && st != null) {
      val us = ts.asInstanceOf[Number].longValue()
      val step = st.asInstanceOf[Number].intValue()
      if (us >= 0 && step >= 1 && step <= nSteps)
        b.add(FunnelCore.pack(us, step))
    }
    b
  }

  override def merge(b: FunnelBuf, other: FunnelBuf): FunnelBuf = b.addAll(other)

  override def eval(b: FunnelBuf): Any = {
    java.util.Arrays.sort(b.arr, 0, b.n)
    val n = b.n
    val ts = new Array[Long](n)
    val step = new Array[Int](n)
    var i = 0
    while (i < n) {
      ts(i) = b.arr(i) >>> FunnelCore.StepBits
      step(i) = (b.arr(i) & FunnelCore.StepMask).toInt
      i += 1
    }
    val win = if (windowUs <= 0) Long.MaxValue / 4 else windowUs
    // reach(p) for step-1 positions: deepest level of a chain starting at p.
    val reach = new Array[Int](n)
    i = 0
    while (i < n) { if (step(i) == 1) reach(i) = 1; i += 1 }
    val Max = Long.MaxValue
    var l = 2
    while (l <= nSteps) {
      // sufmin(k) = min earliest-completion E_k over events strictly after
      // the current tie group; groupMin(k) = same over the current group.
      val sufmin = Array.fill(nSteps + 2)(Max)
      val groupMin = new Array[Long](nSteps + 2)
      var hi = n - 1
      while (hi >= 0) {
        var lo = hi
        while (lo > 0 && ts(lo - 1) == ts(hi)) lo -= 1
        java.util.Arrays.fill(groupMin, Max)
        var k = l
        while (k >= 2) {
          // Chains may use same-timestamp events, so the (k+1)-minimum
          // includes this group's own — computed already since k descends.
          val bestNext =
            if (k == l) 0L // unused: E_l is the event's own time
            else math.min(sufmin(k + 1), groupMin(k + 1))
          var p = lo
          while (p <= hi) {
            if (step(p) == k) {
              val e = if (k == l) ts(p) else bestNext
              if (e < groupMin(k)) groupMin(k) = e
            }
            p += 1
          }
          k -= 1
        }
        // Evaluate this group's step-1 events against clicks at-or-after.
        val m2 = math.min(sufmin(2), groupMin(2))
        if (m2 != Max) {
          var p = lo
          while (p <= hi) {
            if (step(p) == 1 && m2 - ts(p) <= win && reach(p) < l) reach(p) = l
            p += 1
          }
        }
        k = 2
        while (k <= l) {
          if (groupMin(k) < sufmin(k)) sufmin(k) = groupMin(k)
          k += 1
        }
        hi = lo - 1
      }
      l += 1
    }
    // Credit each start's watch slot with the deepest level reached.
    val levels = new Array[Int](watchNumbers)
    i = 0
    while (i < n) {
      if (step(i) == 1) {
        val off = ts(i) - watchStartUs
        if (off >= 0) {
          val slot = off / watchStepUs
          if (slot < watchNumbers && reach(i) > levels(slot.toInt))
            levels(slot.toInt) = reach(i)
        }
      }
      i += 1
    }
    new GenericArrayData(levels)
  }

  override def serialize(b: FunnelBuf): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): FunnelBuf = FunnelBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(n: Int): FinderFunnelAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FinderFunnelAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FinderFunnelAgg =
    copy(tsExpr = newLeft, stepExpr = newRight)
}

object FinderFunnelAgg {
  /** Column form: `finderFunnel(watchStartUs, watchStepUs, watchNumbers,
    * windowUs, nSteps)(ts, step)` → array of `watchNumbers` levels.
    */
  def finderFunnel(watchStartUs: Long, watchStepUs: Long, watchNumbers: Int,
                   windowUs: Long, nSteps: Int)(ts: Column, step: Column): Column =
    ColumnBridge.column(
      FinderFunnelAgg(ColumnBridge.expression(ts), ColumnBridge.expression(step),
        watchStartUs, watchStepUs, watchNumbers, windowUs, nSteps)
        .toAggregateExpression())
}
