package graft.aggregates

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import org.roaringbitmap.longlong.Roaring64NavigableMap
import scala.collection.mutable

/** Keyed-bitmap lifecycle aggregate (reference
  * AggregateFunctionBitmapColumnDiff.h:154 `bitmapColumnDiff`;
  * `bitmapMaxLevel` is [[BitmapMaxLevelAgg]]).
  *
  * It consumes (key, bitmap-state) rows — the output of a per-key
  * [[BitmapAggregates.groupBitmap]] — so the expensive part (building
  * per-key user sets from raw events) is an ordinary distributed hash
  * aggregate whose shuffle payload is compressed bitmaps, and this final
  * single-group pass only combines one small bitmap per key.
  */
object BitmapLevels {

  /** (key, serialized roaring bitmap) input row. */
  final case class KeyedBitmap(key: Long, bm: Array[Byte])

  /** bitmapColumnDiff output element: key plus per-direction lost counts
    * (length 1 for forward/backward, 2 — [forward, backward] — for
    * bidirection), mirroring the reference's Array(Tuple(key, Array(cnt))).
    */
  final case class KeyDiffs(key: Long, diffs: Seq[Long])

  private type BmMap = mutable.HashMap[Long, Roaring64NavigableMap]

  private def orInto(m: BmMap, key: Long, bytes: Array[Byte]): BmMap = {
    val bm = BitmapAggregates.deserialize(bytes)
    m.get(key) match {
      case Some(acc) => acc.or(bm)
      case None      => m.update(key, bm)
    }
    m
  }

  private def mergeMaps(a: BmMap, b: BmMap): BmMap = {
    b.foreach { case (k, bm) =>
      a.get(k) match {
        case Some(acc) => acc.or(bm)
        case None      => a.update(k, bm)
      }
    }
    a
  }

  /** bitmapColumnDiff(direction, step): per key, how many ids are present
    * at that key but absent `step` positions away in key order. Positional
    * (not key-arithmetic) stepping over the sorted distinct keys, exactly
    * like the reference's sorted-vector sweep; trailing keys with no
    * neighbor emit 0 (the reference's empty bitmap).
    */
  class BitmapColumnDiff(direction: String, step: Int)
      extends Aggregator[KeyedBitmap, BmMap, Seq[KeyDiffs]] with Serializable {
    require(Seq("forward", "backward", "bidirection").contains(direction),
      s"bitmapColumnDiff: unknown direction '$direction'")
    require(step > 0, "bitmapColumnDiff: step must be positive")

    def zero: BmMap = mutable.HashMap.empty
    def reduce(b: BmMap, in: KeyedBitmap): BmMap = orInto(b, in.key, in.bm)
    def merge(a: BmMap, b: BmMap): BmMap = mergeMaps(a, b)
    def finish(b: BmMap): Seq[KeyDiffs] = {
      val asc = b.keys.toArray.sorted
      val n = asc.length
      def diffAt(i: Int, j: Int): Long =
        if (j < 0 || j >= n) 0L
        else {
          val x = new Roaring64NavigableMap()
          x.or(b(asc(i)))
          x.andNot(b(asc(j)))
          x.getLongCardinality
        }
      asc.indices.map { i =>
        val diffs = direction match {
          case "forward"     => Seq(diffAt(i, i + step))
          case "backward"    => Seq(diffAt(i, i - step))
          case "bidirection" => Seq(diffAt(i, i + step), diffAt(i, i - step))
        }
        KeyDiffs(asc(i), diffs)
      }.toSeq
    }
    def bufferEncoder: Encoder[BmMap] = Encoders.kryo
    def outputEncoder: Encoder[Seq[KeyDiffs]] = ExpressionEncoder[Seq[KeyDiffs]]()
  }

  def columnDiff(direction: String, step: Int): UserDefinedFunction =
    udaf(new BitmapColumnDiff(direction, step), Encoders.product[KeyedBitmap])
}
