package graft.aggregates

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Shared windowFunnel core (reference getEventLevel,
  * /root/reference/src/AggregateFunctions/AggregateFunctionWindowFunnel.h:153-213)
  * over events packed as `(us << 6) | step` — step fits 6 bits (the
  * reference caps events_size at 32), epoch-µs timestamps fit 57 bits, and
  * packed longs sort exactly like (ts, step) pairs.
  */
object FunnelCore {

  final val StepBits = 6
  final val StepMask = (1L << StepBits) - 1
  /** Packing contract: 0 <= us < 2^57 (epoch-µs until year ~4500),
    * 0 <= step <= 63. Negative timestamps would decode wrongly through
    * the unsigned shift and are rejected at update time (the reference's
    * timestamps are unsigned — AggregateFunctionWindowFunnel.h templates
    * on UInt types).
    */
  def pack(us: Long, step: Int): Long = (us << StepBits) | step

  /** `events(0 until n)` must be sorted ascending. */
  def eventLevel(
      events: Array[Long], n: Int, windowUs: Long, nSteps: Int,
      strictDeduplication: Boolean, strictOrder: Boolean,
      strictIncrease: Boolean): Int = {
    if (n == 0) return 0
    if (!strictOrder && nSteps == 1) return 1
    val slotAnchor = new Array[Long](nSteps)
    val slotLast = new Array[Long](nSteps)
    val slotSet = new Array[Boolean](nSteps)
    def maxLevel(): Int = {
      var lvl = nSteps
      while (lvl > 0 && !slotSet(lvl - 1)) lvl -= 1
      lvl
    }
    var firstEvent = false
    var i = 0
    while (i < n) {
      val us = events(i) >>> StepBits
      val idx = (events(i) & StepMask).toInt - 1
      if (idx == -1) {
        if (strictOrder && firstEvent) return maxLevel()
      } else if (idx == 0) {
        slotAnchor(0) = us; slotLast(0) = us; slotSet(0) = true
        firstEvent = true
      } else if (strictDeduplication && slotSet(idx)) {
        return (events(i - 1) & StepMask).toInt
      } else if (strictOrder && firstEvent && !slotSet(idx - 1)) {
        var lvl = 0
        while (lvl < nSteps && slotSet(lvl)) lvl += 1
        return lvl
      } else if (slotSet(idx - 1)) {
        val anchor = slotAnchor(idx - 1)
        var timeMatched = windowUs <= 0 || us <= anchor + windowUs
        if (strictIncrease) timeMatched = timeMatched && slotLast(idx - 1) < us
        if (timeMatched) {
          slotAnchor(idx) = anchor; slotLast(idx) = us; slotSet(idx) = true
          if (idx + 1 == nSteps) return nSteps
        }
      }
      i += 1
    }
    maxLevel()
  }
}

/** Growable packed-event buffer: plain long array + length, serialized as
  * its count then raw big-endian longs — no object headers, no kryo. The
  * buffer of every packed-event funnel aggregate (windowFunnel,
  * finderFunnel, finderFunnelByTimes): partial buffers merge by
  * concatenation, and `eval` sorts.
  */
final class FunnelBuf(var arr: Array[Long], var n: Int) {
  def this() = this(new Array[Long](8), 0)

  def add(v: Long): Unit = {
    if (n == arr.length) {
      val next = new Array[Long](math.max(8, arr.length * 2))
      System.arraycopy(arr, 0, next, 0, n)
      arr = next
    }
    arr(n) = v
    n += 1
  }

  def addAll(other: FunnelBuf): FunnelBuf = {
    var i = 0
    while (i < other.n) { add(other.arr(i)); i += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(arr(i)); i += 1 }
    bb.array()
  }
}

object FunnelBuf {
  def deserialize(bytes: Array[Byte]): FunnelBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Long](math.max(8, n))
    var i = 0
    while (i < n) { arr(i) = bb.getLong; i += 1 }
    new FunnelBuf(arr, n)
  }
}

/** windowFunnel(window, steps)(ts_us, step): the max funnel level reached
  * (0..nSteps), by [[FunnelCore.eventLevel]]. Events sort by (ts, step); a
  * level-0 slot re-anchors on EVERY step-1 event; a step-k event extends
  * the chain when the (k-1) slot is set and its ts is within `windowUs` of
  * that chain's own step-1 anchor (windowUs <= 0 → unbounded). Equal
  * timestamps count by default; the flags mirror the reference's
  * `strict_deduplication`, `strict_order` and `strict_increase`
  * parameters (for strict_order, feed non-funnel events as step 0).
  *
  * A TypedImperativeAggregate: the partial-aggregate buffer is a raw long
  * array that merges by concatenation and serializes to its packed binary
  * form, so update is an array append and serialize is one memcopy. The
  * SQL spelling (`ClickHouseAliases` "windowFunnel") and the Column form
  * [[WindowFunnelAgg.funnel]] both build this aggregate.
  */
case class WindowFunnelAgg(
    tsExpr: Expression,
    stepExpr: Expression,
    windowUs: Long,
    nSteps: Int,
    strictDeduplication: Boolean = false,
    strictOrder: Boolean = false,
    strictIncrease: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FunnelBuf] with BinaryLike[Expression] {

  require(nSteps >= 1 && nSteps <= 63, s"nSteps must be in [1, 63], got $nSteps")

  override def left: Expression = tsExpr
  override def right: Expression = stepExpr
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "window_funnel"

  override def createAggregationBuffer(): FunnelBuf = new FunnelBuf()

  override def update(b: FunnelBuf, input: InternalRow): FunnelBuf = {
    val ts = tsExpr.eval(input)
    val st = stepExpr.eval(input)
    if (ts != null && st != null) {
      val us = ts.asInstanceOf[Number].longValue()
      val step = st.asInstanceOf[Number].intValue()
      if (us >= 0 && ((step >= 1 && step <= nSteps) || (strictOrder && step == 0)))
        b.add(FunnelCore.pack(us, step))
    }
    b
  }

  override def merge(b: FunnelBuf, other: FunnelBuf): FunnelBuf = b.addAll(other)

  override def eval(b: FunnelBuf): Any = {
    java.util.Arrays.sort(b.arr, 0, b.n)
    FunnelCore.eventLevel(b.arr, b.n, windowUs, nSteps,
      strictDeduplication, strictOrder, strictIncrease)
  }

  override def serialize(b: FunnelBuf): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): FunnelBuf = FunnelBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(n: Int): WindowFunnelAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): WindowFunnelAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowFunnelAgg =
    copy(tsExpr = newLeft, stepExpr = newRight)
}

object WindowFunnelAgg {
  /** Column form: funnel(windowUs, nSteps[, strict flags])(ts_us, step). */
  def funnel(windowUs: Long, nSteps: Int,
             strictDeduplication: Boolean = false,
             strictOrder: Boolean = false,
             strictIncrease: Boolean = false)(ts: Column, step: Column): Column =
    ColumnBridge.column(
      WindowFunnelAgg(ColumnBridge.expression(ts), ColumnBridge.expression(step),
        windowUs, nSteps, strictDeduplication, strictOrder, strictIncrease)
        .toAggregateExpression())
}
