package graft.aggregates

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}
import org.roaringbitmap.longlong.Roaring64NavigableMap
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** BitMap64 user-set analytics (reference BitMap64 type over roaring
  * bitmaps — /root/reference/src/DataTypes/DataTypeBitMap64.h:25,
  * groupBitmap aggregates — AggregateFunctionGroupBitmap.cpp, scalar
  * bitmap functions — src/Functions/FunctionsBitmap.cpp), rebuilt on
  * org.roaringbitmap (bundled with Spark).
  *
  * The aggregate's shuffle payload is the serialized bitmap (KBs for
  * millions of members), so set-intersection analytics over 100 TB of
  * events reduce to exchanging compressed bitmaps — the same reason the
  * reference ships this type.
  */
object BitmapAggregates {

  def serialize(bm: Roaring64NavigableMap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream()
    bm.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64NavigableMap = {
    val bm = new Roaring64NavigableMap()
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    bm
  }

  /** groupBitmapState(x): build a roaring bitmap of the grouped int64s,
    * returned serialized (the reference's AggregateFunction-State column,
    * DataTypeAggregateFunction.h:14 — mergeable downstream). NULL inputs
    * contribute nothing, like the reference's -If combinator on
    * groupBitmap, so `groupBitmap(when(cond, x))` is a conditional build:
    * k of them in one aggregate replace k filtered scans and a cross join
    * with one scan and k map-side-combined bitmap states.
    */
  class GroupBitmap extends Aggregator[java.lang.Long, Roaring64NavigableMap, Array[Byte]] with Serializable {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, x: java.lang.Long): Roaring64NavigableMap = {
      if (x != null) b.addLong(x.longValue()); b
    }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = {
      a.or(b); a
    }
    def finish(b: Roaring64NavigableMap): Array[Byte] = serialize(b)
    def bufferEncoder: Encoder[Roaring64NavigableMap] = Encoders.kryo
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  val groupBitmap: UserDefinedFunction = udaf(new GroupBitmap, Encoders.LONG)

  /** bitmapCardinality(state). */
  val bitmapCardinality: UserDefinedFunction =
    udf((bytes: Array[Byte]) => deserialize(bytes).getLongCardinality)

  /** bitmapAndCardinality(a, b) — |A ∩ B|. */
  val bitmapAndCardinality: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.and(deserialize(b)); x.getLongCardinality
    })

  /** bitmapOrCardinality(a, b) — |A ∪ B|. */
  val bitmapOrCardinality: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.or(deserialize(b)); x.getLongCardinality
    })

  /** bitmapAndnotCardinality(a, b) — |A \ B|. */
  val bitmapAndnotCardinality: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.andNot(deserialize(b)); x.getLongCardinality
    })

  /** bitmapContains(state, x). */
  val bitmapContains: UserDefinedFunction =
    udf((bytes: Array[Byte], x: Long) => deserialize(bytes).contains(x))

  /** bitmapHasAll(a, b) — B ⊆ A (reference FunctionsBitmap.h:1832;
    * an empty B is a subset of anything, like the reference).
    */
  val bitmapHasAll: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(b); x.andNot(deserialize(a)); x.isEmpty
    })

  /** bitmapHasAny(a, b) — A ∩ B ≠ ∅. */
  val bitmapHasAny: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.and(deserialize(b)); !x.isEmpty
    })

  /** Fold state for the bitmapColumn* logic aggregates — AND needs the
    * reference's has_value flag (AggregateFunctionBitmapLogic.h:197: the
    * first bitmap seeds the accumulator; an unconditional AND with the
    * empty zero() would annihilate everything).
    */
  final class BitmapFoldState extends Serializable {
    var bm: Roaring64NavigableMap = new Roaring64NavigableMap()
    var hasValue: Boolean = false
  }

  /** bitmapColumnOr / bitmapColumnAnd / bitmapColumnXor /
    * bitmapColumnCardinality (reference AggregateFunctionBitmapLogic.cpp:
    * 94-97): fold a bitmap-typed column with the set operation —
    * commutative and associative, so the distributed merge order is
    * immaterial. Cardinality is the OR fold finishing in |·|.
    */
  class BitmapColumnFold(op: String, asCardinality: Boolean)
      extends Aggregator[Array[Byte], BitmapFoldState, Any] with Serializable {
    def zero: BitmapFoldState = new BitmapFoldState
    private def combine(s: BitmapFoldState, other: Roaring64NavigableMap): BitmapFoldState = {
      if (!s.hasValue) { s.bm = other; s.hasValue = true }
      else op match {
        case "or" => s.bm.or(other)
        case "and" => s.bm.and(other)
        case "xor" => s.bm.xor(other)
      }
      s
    }
    def reduce(b: BitmapFoldState, bytes: Array[Byte]): BitmapFoldState =
      if (bytes == null) b else combine(b, deserialize(bytes))
    def merge(a: BitmapFoldState, b: BitmapFoldState): BitmapFoldState =
      if (!b.hasValue) a
      else if (!a.hasValue) b
      else combine(a, b.bm)
    def finish(b: BitmapFoldState): Any =
      if (asCardinality) b.bm.getLongCardinality else serialize(b.bm)
    def bufferEncoder: Encoder[BitmapFoldState] = Encoders.kryo
    def outputEncoder: Encoder[Any] =
      (if (asCardinality) Encoders.scalaLong else Encoders.BINARY)
        .asInstanceOf[Encoder[Any]]
  }

  val bitmapColumnOr: UserDefinedFunction =
    udaf(new BitmapColumnFold("or", false), Encoders.BINARY)
  val bitmapColumnAnd: UserDefinedFunction =
    udaf(new BitmapColumnFold("and", false), Encoders.BINARY)
  val bitmapColumnXor: UserDefinedFunction =
    udaf(new BitmapColumnFold("xor", false), Encoders.BINARY)
  val bitmapColumnCardinality: UserDefinedFunction =
    udaf(new BitmapColumnFold("or", true), Encoders.BINARY)

  /** bitmapColumnHas(bitmap, key) (AggregateFunctionBitmapLogic.h:283):
    * whether ANY of the grouped bitmaps contains the key.
    */
  val bitmapColumnHas: UserDefinedFunction =
    udaf(new Aggregator[BitmapHasInput, Boolean, Boolean] {
      def zero: Boolean = false
      def reduce(b: Boolean, in: BitmapHasInput): Boolean =
        b || (in.bm != null && deserialize(in.bm).contains(in.key))
      def merge(a: Boolean, b: Boolean): Boolean = a || b
      def finish(b: Boolean): Boolean = b
      def bufferEncoder: Encoder[Boolean] = Encoders.scalaBoolean
      def outputEncoder: Encoder[Boolean] = Encoders.scalaBoolean
    }, Encoders.product[BitmapHasInput])

  /** subBitmap(state, offset, limit) — the elements at sorted POSITIONS
    * [offset, offset+limit) as a new bitmap (reference
    * FunctionsBitmap.h:713 — offset counts elements, not values).
    */
  val subBitmap: UserDefinedFunction =
    udf((bytes: Array[Byte], offset: Long, limit: Long) => {
      val bm = deserialize(bytes)
      val out = new Roaring64NavigableMap()
      val it = bm.getLongIterator
      var i = 0L
      while (it.hasNext && i < offset + limit) {
        val v = it.next()
        if (i >= offset) out.addLong(v)
        i += 1
      }
      serialize(out)
    })

  /** bitmapMin / bitmapMax (reference FunctionsBitmap.h — the reference
    * returns 0 / 0 on an empty bitmap; NULL is the Spark-idiomatic
    * missing here, documented divergence).
    */
  val bitmapMin: UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      val bm = deserialize(bytes)
      if (bm.isEmpty) None else Some(bm.first())
    })
  val bitmapMax: UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      val bm = deserialize(bytes)
      if (bm.isEmpty) None else Some(bm.last())
    })

  /** bitmapSubsetInRange(state, lo, hi) — elements with lo <= v < hi
    * (value range, unlike subBitmap's positional slice).
    */
  val bitmapSubsetInRange: UserDefinedFunction =
    udf((bytes: Array[Byte], lo: Long, hi: Long) => {
      val bm = deserialize(bytes)
      val out = new Roaring64NavigableMap()
      val it = bm.getLongIterator
      while (it.hasNext) {
        val v = it.next()
        if (v >= lo && v < hi) out.addLong(v)
      }
      serialize(out)
    })

  /** bitmapSubsetLimit(state, start, limit) — at most `limit` elements
    * with v >= start, in ascending order (reference FunctionsBitmap.h).
    */
  val bitmapSubsetLimit: UserDefinedFunction =
    udf((bytes: Array[Byte], start: Long, limit: Long) => {
      val bm = deserialize(bytes)
      val out = new Roaring64NavigableMap()
      val it = bm.getLongIterator
      var n = 0L
      while (it.hasNext && n < limit) {
        val v = it.next()
        if (v >= start) { out.addLong(v); n += 1 }
      }
      serialize(out)
    })

  /** bitmapTransform(state, from[], to[]) — values equal to from(i)
    * become to(i), others pass through (reference FunctionsBitmap.h).
    */
  val bitmapTransform: UserDefinedFunction =
    udf((bytes: Array[Byte], from: Seq[Long], to: Seq[Long]) => {
      require(from.length == to.length, "bitmapTransform: size mismatch")
      val mapping = from.zip(to).toMap
      val bm = deserialize(bytes)
      val out = new Roaring64NavigableMap()
      val it = bm.getLongIterator
      while (it.hasNext) {
        val v = it.next()
        out.addLong(mapping.getOrElse(v, v))
      }
      serialize(out)
    })

  /** Bitmap-valued set algebra (reference bitmapAnd/Or/Xor/Andnot). */
  val bitmapAnd: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.and(deserialize(b)); serialize(x)
    })
  val bitmapOr: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.or(deserialize(b)); serialize(x)
    })
  val bitmapXor: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.xor(deserialize(b)); serialize(x)
    })
  val bitmapAndnot: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.andNot(deserialize(b)); serialize(x)
    })
  val bitmapXorCardinality: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deserialize(a); x.xor(deserialize(b)); x.getLongCardinality
    })

  /** bitmapBuild(array) / bitmapToArray(state) (reference
    * FunctionsBitmap.h) — array<long> ↔ bitmap conversions.
    */
  val bitmapBuild: UserDefinedFunction =
    udf((xs: Seq[Long]) => {
      val bm = new Roaring64NavigableMap()
      xs.foreach(bm.addLong)
      serialize(bm)
    })
  val bitmapToArray: UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      val bm = deserialize(bytes)
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      val it = bm.getLongIterator
      while (it.hasNext) out += it.next()
      out.toSeq
    })
}

/** Input row for [[BitmapAggregates.bitmapColumnHas]]. */
final case class BitmapHasInput(bm: Array[Byte], key: Long)

/** SpaceSaving buffer: key→count map plus a count-ordered index
  * (Stream-Summary analogue — the reference keeps counts in sorted
  * buckets for the same reason, AggregateFunctionTopK.h:33) so displacing
  * the minimum is O(log capacity) instead of a full O(capacity) scan per
  * new key. The index is transient — Kryo ships only the map across the
  * shuffle and the receiver rebuilds the index lazily on first touch.
  */
final class TopKState extends Serializable {
  val counts = new java.util.HashMap[Long, Long]()
  @transient private var byCount: java.util.TreeMap[Long, java.util.TreeSet[Long]] = _

  private def index(): java.util.TreeMap[Long, java.util.TreeSet[Long]] = {
    if (byCount == null) {
      byCount = new java.util.TreeMap[Long, java.util.TreeSet[Long]]()
      counts.forEach((x, c) => indexAdd(x, c))
    }
    byCount
  }
  private def indexAdd(x: Long, c: Long): Unit = {
    var set = byCount.get(c)
    if (set == null) { set = new java.util.TreeSet[Long](); byCount.put(c, set) }
    set.add(x)
  }
  private def indexRemove(x: Long, c: Long): Unit = {
    val set = byCount.get(c)
    set.remove(x)
    if (set.isEmpty) byCount.remove(c)
  }

  def add(x: Long, cnt: Long, capacity: Int): Unit = {
    // r15 (guide §1.2 "per-task work"): the by-count index exists only to
    // find the eviction victim, and eviction can only happen once the
    // buffer is FULL — so don't pay two TreeMap updates per row while
    // below capacity. The index is built lazily by index() at the first
    // eviction and kept incrementally maintained from then on.
    val existing = counts.get(x)
    if (counts.containsKey(x)) {
      counts.put(x, existing + cnt)
      if (byCount != null) { indexRemove(x, existing); indexAdd(x, existing + cnt) }
    } else if (counts.size < capacity) {
      counts.put(x, cnt)
      if (byCount != null) indexAdd(x, cnt)
    } else {
      val idx = index()
      // SpaceSaving: displace the current minimum (smallest key among the
      // minimum-count entries, for deterministic eviction), inheriting
      // its count.
      val minEntry = idx.firstEntry()
      val minC = minEntry.getKey
      val minK = minEntry.getValue.first()
      indexRemove(minK, minC)
      counts.remove(minK)
      counts.put(x, minC + cnt)
      indexAdd(x, minC + cnt)
    }
  }
}

/** topK (SpaceSaving — reference AggregateFunctionTopK.h:33): heavy
  * hitters with bounded memory. With `capacity` ≥ true NDV the counts are
  * exact (how the oracle checks it at test scale); at production scale the
  * capacity bounds memory and the result is the usual SpaceSaving
  * approximation.
  */
class TopK(k: Int, capacity: Int)
    extends Aggregator[Long, TopKState, Seq[Long]] with Serializable {

  def zero: TopKState = new TopKState

  def reduce(b: TopKState, x: Long): TopKState = { b.add(x, 1L, capacity); b }
  def merge(a: TopKState, b: TopKState): TopKState = {
    b.counts.forEach((x, c) => a.add(x, c, capacity))
    a
  }
  def finish(b: TopKState): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    b.counts.asScala.toSeq.sortBy { case (x, c) => (-c, x) }.take(k).map(_._1)
  }
  def bufferEncoder: Encoder[TopKState] = Encoders.kryo
  def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoders.seqLong
}

object TopK {
  def apply(k: Int, capacity: Int = 1 << 16): UserDefinedFunction =
    udaf(new TopK(k, capacity), Encoders.scalaLong)
}

/** topKWeighted (reference AggregateFunctionTopK.cpp weighted
  * registration): SpaceSaving over a per-row integer weight instead of 1
  * — same state, same O(log capacity) displacement, exact when capacity
  * ≥ NDV (the oracle's check), bounded-memory approximation beyond.
  */
final case class TopKWeightedInput(x: Long, w: Long)

class TopKWeighted(k: Int, capacity: Int)
    extends Aggregator[TopKWeightedInput, TopKState, Seq[Long]] with Serializable {
  def zero: TopKState = new TopKState
  def reduce(b: TopKState, in: TopKWeightedInput): TopKState = {
    b.add(in.x, in.w, capacity); b
  }
  def merge(a: TopKState, b: TopKState): TopKState = {
    b.counts.forEach((x, c) => a.add(x, c, capacity))
    a
  }
  def finish(b: TopKState): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    b.counts.asScala.toSeq.sortBy { case (x, c) => (-c, x) }.take(k).map(_._1)
  }
  def bufferEncoder: Encoder[TopKState] = Encoders.kryo
  def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoders.seqLong
}

object TopKWeighted {
  def apply(k: Int, capacity: Int = 1 << 16): UserDefinedFunction =
    udaf(new TopKWeighted(k, capacity), Encoders.product[TopKWeightedInput])
}
