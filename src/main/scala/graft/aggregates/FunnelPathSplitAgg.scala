package graft.aggregates

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** funnelPathSplit: the session path of a user's deepest funnel run
  * (reference /root/reference/src/AggregateFunctions/AggregateFunctionFunnelPathSplit.h:
  * sessions are anchored at funnel step-1 events; the walk from an anchor
  * appends every event — funnel or common — until the window or
  * max-session-depth is exceeded, levelling up when an event's index is
  * exactly the next funnel step; the output is the path of the FIRST
  * session achieving the maximum level, as (event, param) nodes).
  *
  * The reference's anchor chaining (`next_first_event` +
  * `find_first_event`, .h:131-158) visits exactly the step-1 events in
  * time order with first-strictly-greater-wins selection and early exit at
  * `level_flag`; this implementation walks those anchors directly.
  *
  * Events sort by (ts, index, param) — the explicit tiebreak makes the
  * result deterministic where the reference's time-only sort leaves
  * same-timestamp order unspecified.
  *
  * Distribution shape: partial buffers are (packed ts+index, param) pair
  * arrays merged by concatenation — map-side combine works, one buffer per
  * user crosses the shuffle, and the walk itself is O(anchors × depth)
  * after the per-user sort.
  */
case class FunnelPathSplitAgg(
    tsExpr: Expression,
    indexExpr: Expression,
    paramExpr: Expression,
    windowUs: Long,
    maxSessionDepth: Int,
    levelFlag: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PathBuf] with TernaryLike[Expression] {

  require(levelFlag >= 1 && levelFlag <= 63, "levelFlag must be in [1, 63]")
  require(maxSessionDepth >= 1, "maxSessionDepth must be >= 1")

  override def first: Expression = tsExpr
  override def second: Expression = indexExpr
  override def third: Expression = paramExpr

  private val node = StructType(Seq(
    StructField("ev", IntegerType, nullable = false),
    StructField("param", StringType, nullable = false)))
  override def dataType: DataType = ArrayType(node, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "funnel_path_split"

  override def createAggregationBuffer(): PathBuf = new PathBuf()

  override def update(b: PathBuf, input: InternalRow): PathBuf = {
    val ts = tsExpr.eval(input)
    val ix = indexExpr.eval(input)
    if (ts != null && ix != null) {
      val us = ts.asInstanceOf[Number].longValue()
      val idx = ix.asInstanceOf[Number].intValue()
      val pm = paramExpr.eval(input)
      val param = if (pm == null) "" else pm.toString
      // Common events are index 0; funnel steps 1..levelFlag. Others drop.
      if (us >= 0 && idx >= 0 && idx <= levelFlag)
        b.add(FunnelCore.pack(us, idx), param)
    }
    b
  }

  override def merge(b: PathBuf, other: PathBuf): PathBuf = b.addAll(other)

  override def eval(b: PathBuf): Any = {
    val n = b.n
    val order = (0 until n).sortBy(i => (b.packed(i), b.params(i)))
    val us = new Array[Long](n)
    val idx = new Array[Int](n)
    val param = new Array[String](n)
    var i = 0
    while (i < n) {
      val p = order(i)
      us(i) = b.packed(p) >>> FunnelCore.StepBits
      idx(i) = (b.packed(p) & FunnelCore.StepMask).toInt
      param(i) = b.params(p)
      i += 1
    }
    var bestLevel = 0
    var bestStart = -1
    var bestLen = 0
    var a = 0
    while (a < n && bestLevel < levelFlag) {
      if (idx(a) == 1) {
        // Walk the session: anchor + events until window/depth breaks.
        var level = 1
        var len = 1
        var j = a + 1
        var continue = true
        while (continue && j < n) {
          if (us(j) - us(a) > windowUs || len >= maxSessionDepth) continue = false
          else {
            if (level < levelFlag && idx(j) == level + 1) level += 1
            len += 1
            j += 1
          }
        }
        if (level > bestLevel) { bestLevel = level; bestStart = a; bestLen = len }
      }
      a += 1
    }
    if (bestStart < 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](bestLen)
      var k = 0
      while (k < bestLen) {
        out(k) = InternalRow(idx(bestStart + k),
          UTF8String.fromString(param(bestStart + k)))
        k += 1
      }
      new GenericArrayData(out)
    }
  }

  override def serialize(b: PathBuf): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): PathBuf = PathBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(n: Int): FunnelPathSplitAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FunnelPathSplitAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): FunnelPathSplitAgg =
    copy(tsExpr = f, indexExpr = s, paramExpr = t)
}

/** Growable (packed ts+index, param) pair buffer of the funnelPathSplit
  * aggregates: partial buffers merge by concatenation, and serialize as
  * the count then, per pair, the packed long, the param's UTF-8 length
  * and its bytes (big-endian).
  */
final class PathBuf {
  var packed: Array[Long] = new Array[Long](8)
  var params: Array[String] = new Array[String](8)
  var n: Int = 0
  def add(p: Long, s: String): Unit = {
    if (n == packed.length) {
      val np = new Array[Long](packed.length * 2)
      val ns = new Array[String](packed.length * 2)
      System.arraycopy(packed, 0, np, 0, n)
      System.arraycopy(params, 0, ns, 0, n)
      packed = np
      params = ns
    }
    packed(n) = p
    params(n) = s
    n += 1
  }

  def addAll(other: PathBuf): PathBuf = {
    var i = 0
    while (i < other.n) { add(other.packed(i), other.params(i)); i += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    var bytes = 4
    var i = 0
    while (i < n) {
      bytes += 12 + params(i).getBytes(StandardCharsets.UTF_8).length
      i += 1
    }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(n)
    i = 0
    while (i < n) {
      bb.putLong(packed(i))
      val pb = params(i).getBytes(StandardCharsets.UTF_8)
      bb.putInt(pb.length)
      bb.put(pb)
      i += 1
    }
    bb.array()
  }
}

object PathBuf {
  def deserialize(bytes: Array[Byte]): PathBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new PathBuf()
    var i = 0
    while (i < n) {
      val packed = bb.getLong
      val len = bb.getInt
      val pb = new Array[Byte](len)
      bb.get(pb)
      b.add(packed, new String(pb, StandardCharsets.UTF_8))
      i += 1
    }
    b
  }
}

object FunnelPathSplitAgg {
  /** `funnelPathSplit(windowUs, maxDepth, levelFlag)(ts, index, param)` →
    * array of (ev, param) nodes of the deepest session's path.
    */
  def funnelPathSplit(windowUs: Long, maxDepth: Int, levelFlag: Int)(
      ts: Column, index: Column, param: Column): Column =
    ColumnBridge.column(
      FunnelPathSplitAgg(ColumnBridge.expression(ts),
        ColumnBridge.expression(index), ColumnBridge.expression(param),
        windowUs, maxDepth, levelFlag).toAggregateExpression())
}
