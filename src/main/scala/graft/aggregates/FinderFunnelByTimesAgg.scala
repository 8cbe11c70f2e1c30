package graft.aggregates

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** finderFunnelByTimes (reference
  * AggregateFunctionFinderFunnelByTimes.h:68 `calculateFunnel`): unlike
  * finderFunnel's one-deepest-level-per-slot, the ByTimes family counts
  * EVERY funnel run — the reference's greedy forward scan anchors a
  * chain at a step-1 event inside the current watch slot, extends it
  * with the next-level events in time order, and when the chain
  * completes, the window expires, or input ends, credits one run at the
  * chain's depth (levels 1..depth) to the run's slot and to the total,
  * marks the chain's events consumed, and restarts from `last_start` —
  * the first start event it had to skip (ByTimes.h:199-201,324-327). A
  * user who converts three times contributes three runs.
  *
  * Output layout mirrors the reference's levels buffer: (watchNumbers+1)
  * × nSteps counts — block 0 is the total, block s+1 is watch slot s,
  * entry e counts runs of depth > e.
  *
  * Port simplifications, both exact: events before watch start are
  * dropped at update (they can neither anchor — negative slot — nor
  * extend a chain, which always starts at-or-after its anchor); the
  * attr / relative-window / step-range template modes are not carried
  * (the plain registration is the one the reference exposes as
  * finderFunnelByTimes).
  *
  * Same distribution shape as [[FinderFunnelAgg]]: packed (ts, step)
  * longs merged by concatenation, greedy scan only at finish.
  */
case class FinderFunnelByTimesAgg(
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
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "finder_funnel_by_times"

  override def createAggregationBuffer(): FunnelBuf = new FunnelBuf()

  override def update(b: FunnelBuf, input: InternalRow): FunnelBuf = {
    val ts = tsExpr.eval(input)
    val st = stepExpr.eval(input)
    if (ts != null && st != null) {
      val us = ts.asInstanceOf[Number].longValue()
      val step = st.asInstanceOf[Number].intValue()
      if (us >= watchStartUs && step >= 1 && step <= nSteps)
        b.add(FunnelCore.pack(us - watchStartUs, step))
    }
    b
  }

  override def merge(b: FunnelBuf, other: FunnelBuf): FunnelBuf = b.addAll(other)

  override def eval(b: FunnelBuf): Any = {
    java.util.Arrays.sort(b.arr, 0, b.n)
    val n = b.n
    val ts = new Array[Long](n)
    val step = new Array[Int](n)
    var p = 0
    while (p < n) {
      ts(p) = b.arr(p) >>> FunnelCore.StepBits
      step(p) = (b.arr(p) & FunnelCore.StepMask).toInt
      p += 1
    }
    val win = if (windowUs <= 0) Long.MaxValue / 4 else windowUs
    val consumed = new Array[Boolean](n)
    val levels = new Array[Long]((watchNumbers + 1) * nSteps)
    val chain = new scala.collection.mutable.ArrayBuffer[Int](nSteps)

    def countChain(slotIdx: Long): Unit = {
      val depth = chain.size
      if (depth > 0) {
        var e = 0
        while (e < nSteps) {
          if (depth > e) {
            levels(e) += 1
            levels(((slotIdx + 1) * nSteps + e).toInt) += 1
          }
          e += 1
        }
        chain.foreach(consumed(_) = true)
        chain.clear()
      }
    }

    var i = 0
    var done = false
    while (!done) {
      chain.clear()
      var lastStart = -1
      var windowStart = -1L
      var windowEnd = 0L
      var slotBegin = 0L
      var slotEnd = 0L
      var slotIdx = if (i < n) ts(i) / watchStepUs else 0L

      var inner = true
      while (inner) {
        if (i >= n) {
          if (lastStart == -1) i += 1
          inner = false
        } else if (chain.size == nSteps) {
          inner = false // complete funnel — stop and count
        } else if (consumed(i)) {
          i += 1
        } else {
          val t = ts(i)
          val st = step(i)
          var advanced = false
          if (windowStart >= 0 && t > windowEnd) {
            // window over: record the current run, then either reopen in
            // the same slot or hand control back to the outer restart.
            countChain(slotIdx)
            if (t >= slotBegin && t < slotEnd) windowStart = -1L
            else { inner = false; advanced = true }
          }
          if (!advanced) {
            if (st == 1) {
              if (slotIdx >= watchNumbers) { i += 1 }
              else if (t / watchStepUs == slotIdx) {
                if (chain.nonEmpty) {
                  // a further start inside an active run: restart point
                  if (lastStart == -1) lastStart = i
                  i += 1
                } else {
                  chain += i
                  windowStart = t
                  windowEnd = t + win
                  slotBegin = slotIdx * watchStepUs
                  slotEnd = slotBegin + watchStepUs
                  i += 1
                }
              } else {
                // start in a LATER slot: future round's anchor
                if (lastStart == -1 && t / watchStepUs > slotIdx) lastStart = i
                i += 1
              }
            } else if (chain.nonEmpty && st == chain.size + 1) {
              chain += i
              i += 1
            } else {
              i += 1
            }
          }
        }
      }
      countChain(slotIdx)
      i = if (lastStart != -1) lastStart else i
      if (i >= n) done = true
    }
    new GenericArrayData(levels)
  }

  override def serialize(b: FunnelBuf): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): FunnelBuf = FunnelBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(n: Int): FinderFunnelByTimesAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FinderFunnelByTimesAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FinderFunnelByTimesAgg =
    copy(tsExpr = newLeft, stepExpr = newRight)
}

object FinderFunnelByTimesAgg {
  /** Column form: `finderFunnelByTimes(watchStartUs, watchStepUs,
    * watchNumbers, windowUs, nSteps)(ts, step)` → (watchNumbers+1)×nSteps
    * run counts (block 0 = total, block s+1 = slot s).
    */
  def finderFunnelByTimes(watchStartUs: Long, watchStepUs: Long, watchNumbers: Int,
      windowUs: Long, nSteps: Int)(ts: Column, step: Column): Column =
    ColumnBridge.column(
      FinderFunnelByTimesAgg(ColumnBridge.expression(ts), ColumnBridge.expression(step),
        watchStartUs, watchStepUs, watchNumbers, windowUs, nSteps)
        .toAggregateExpression())
}
