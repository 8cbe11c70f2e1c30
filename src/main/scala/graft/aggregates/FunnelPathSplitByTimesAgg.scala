package graft.aggregates

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** funnelPathSplitByTimes (reference
  * /root/reference/src/AggregateFunctions/AggregateFunctionFunnelPathSplitByTimes.h:140):
  * unlike funnelPathSplit (one path — the deepest run), EVERY step-1
  * event opens a path bucket and the result is the array of all paths.
  * The reference's insertResultInto bucket rules, reimplemented:
  *
  *  - a step-1 event always opens a NEW bucket (level 1);
  *  - a funnel event with index k+1 levels exactly ONE bucket currently
  *    at level k — candidates are visited in bucket-creation order;
  *    a candidate outside the window is retired from level candidacy
  *    as it is passed over; the first in-window candidate takes the
  *    node, levels up, and is retired if it reaches max depth
  *    (tryAddNodeAsLevelNode / tryUpdateBucket);
  *  - a funnel event with no eligible bucket, and every common event,
  *    appends to EVERY window-reachable bucket (the reference's
  *    addCommonNodeIntoCurrentPath — the append is gated by the window
  *    only; depth exhaustion only stops future level-ups);
  *  - the window is measured from each bucket's begin time.
  *
  * The extra-prop node and terminating-event template variants are not
  * carried (prop-flag parameterization — the plain event/param form is
  * the dominant usage); events sort by (time, index, param) for
  * determinism where the reference's time-only sort is unspecified.
  *
  * Same distribution shape as funnelPathSplit: concat-merged
  * (packed ts+index, param) buffers, one per user across the shuffle;
  * the bucket walk is per-user at finish.
  */
case class FunnelPathSplitByTimesAgg(
    tsExpr: Expression,
    indexExpr: Expression,
    paramExpr: Expression,
    windowUs: Long,
    maxSessionDepth: Int,
    levels: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PathBuf] with TernaryLike[Expression] {

  require(levels >= 1 && levels <= 63, "levels must be in [1, 63]")
  require(maxSessionDepth >= 1, "maxSessionDepth must be >= 1")

  override def first: Expression = tsExpr
  override def second: Expression = indexExpr
  override def third: Expression = paramExpr

  private val node = StructType(Seq(
    StructField("ev", IntegerType, nullable = false),
    StructField("param", StringType, nullable = false)))
  override def dataType: DataType =
    ArrayType(ArrayType(node, containsNull = false), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "funnel_path_split_by_times"

  override def createAggregationBuffer(): PathBuf = new PathBuf()

  override def update(b: PathBuf, input: InternalRow): PathBuf = {
    val ts = tsExpr.eval(input)
    val ix = indexExpr.eval(input)
    if (ts != null && ix != null) {
      val us = ts.asInstanceOf[Number].longValue()
      val idx = ix.asInstanceOf[Number].intValue()
      val pm = paramExpr.eval(input)
      val param = if (pm == null) "" else pm.toString
      if (us >= 0 && idx >= 0 && idx <= levels)
        b.add(FunnelCore.pack(us, idx), param)
    }
    b
  }

  override def merge(b: PathBuf, other: PathBuf): PathBuf = b.addAll(other)

  private final class Bucket(val begin: Long) {
    var level: Int = 1
    var candidate: Boolean = true
    val path: ArrayBuffer[(Int, String)] = ArrayBuffer.empty
  }

  override def eval(b: PathBuf): Any = {
    val n = b.n
    val order = (0 until n).sortBy(i => (b.packed(i), b.params(i)))
    val buckets = ArrayBuffer.empty[Bucket]

    def commonAdd(us: Long, idx: Int, param: String): Unit = {
      var bi = 0
      while (bi < buckets.length) {
        val bk = buckets(bi)
        val reach = us - bk.begin <= windowUs
        if (reach) bk.path += ((idx, param))
        if (!(reach && bk.path.length < maxSessionDepth)) bk.candidate = false
        bi += 1
      }
    }

    order.foreach { p =>
      val us = b.packed(p) >>> FunnelCore.StepBits
      val idx = (b.packed(p) & FunnelCore.StepMask).toInt
      val param = b.params(p)
      if (idx == 1) {
        // addFirstNodeIntoBucket: no size check on creation — the
        // reference retires on depth only at later adds
        val bk = new Bucket(us)
        bk.path += ((1, param))
        buckets += bk
      } else if (idx >= 2 && idx <= levels) {
        var success = false
        var bi = 0
        while (!success && bi < buckets.length) {
          val bk = buckets(bi)
          if (bk.candidate && bk.level == idx - 1) {
            if (us - bk.begin > windowUs) bk.candidate = false
            else {
              bk.path += ((idx, param))
              bk.level += 1
              // tryUpdateBucket: retired (UNREACHED) only on depth
              // exhaustion — a top-level bucket just never matches again
              if (bk.path.length >= maxSessionDepth) bk.candidate = false
              success = true
            }
          }
          bi += 1
        }
        if (!success) commonAdd(us, idx, param)
      } else {
        commonAdd(us, idx, param)
      }
    }

    new GenericArrayData(buckets.map { bk =>
      new GenericArrayData(bk.path.map { case (ev, pm) =>
        InternalRow(ev, UTF8String.fromString(pm))
      }.toArray[Any]): Any
    }.toArray[Any])
  }

  override def serialize(b: PathBuf): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): PathBuf = PathBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(n: Int): FunnelPathSplitByTimesAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FunnelPathSplitByTimesAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): FunnelPathSplitByTimesAgg =
    copy(tsExpr = f, indexExpr = s, paramExpr = t)
}

object FunnelPathSplitByTimesAgg {
  /** Column-API form: funnelPathSplitByTimes(window, depth, levels)(ts, idx, param). */
  def funnelPathSplitByTimes(
      windowUs: Long, maxSessionDepth: Int, levels: Int)(
      ts: Column, idx: Column, param: Column): Column =
    ColumnBridge.column(
      FunnelPathSplitByTimesAgg(
        ColumnBridge.expression(ts), ColumnBridge.expression(idx),
        ColumnBridge.expression(param), windowUs, maxSessionDepth, levels)
        .toAggregateExpression())
}
