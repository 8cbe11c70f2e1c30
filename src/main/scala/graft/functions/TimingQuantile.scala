package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Exact port of the reference's timing-quantile sketch semantics
  * (reference /root/reference/src/AggregateFunctions/QuantileTiming.h).
  * The sketch has three regimes chosen by how many values were inserted:
  *
  *  - Tiny/Medium (≤ 5672 single inserts): values are kept verbatim and
  *    the answer is `sorted[(size_t)(level * n)]` — NO interpolation
  *    (QuantileTimingTiny::get :96, QuantileTimingMedium::get :135).
  *  - Large: an exact histogram below 1024 ms and 16 ms-wide buckets up
  *    to the 30000 ms saturation point; the answer walks cumulative
  *    counts to `ceil(count * level)` and de-randomizes bucket keys with
  *    `intHash32(i) % 16 - 8` (QuantileTimingLarge :256-:260, get :399).
  *  - Weighted inserts skip Medium entirely: anything whose total weight
  *    exceeds the 31-element tiny buffer goes straight to Large
  *    (QuantileTiming::add(x, weight) :592).
  *
  * Values saturate at 30000 on insert; an empty sketch yields NaN
  * (getFloat). The conversion thresholds (31 tiny, 5672 medium) come
  * from the buffer-size arithmetic at QuantileTiming.h:233-:237 and
  * mediumIsWorthToConvertToLarge.
  */
object TimingQuantile {

  private final val BigThreshold = 30000
  private final val SmallThreshold = 1024
  private final val BigPrecision = 16
  private final val BigSize = (BigThreshold - SmallThreshold) / BigPrecision
  private final val TinyMax = 31
  private final val MediumMax = 5672

  private def clamp(x: Long): Int =
    if (x < 0) 0 else if (x > BigThreshold) BigThreshold else x.toInt

  /** sorted[(size_t)(level * n)] with the level-1 guard — the shared
    * Tiny/Medium rule.
    */
  private def sortedGet(sorted: Array[Int], level: Double): Float = {
    val n = sorted.length
    if (n == 0) return Float.NaN
    val idx = if (level < 1.0) (level * n).toInt else n - 1
    sorted(math.min(math.max(idx, 0), n - 1)).toFloat
  }

  private def largeGet(values: Array[Long], weights: Array[Long],
      level: Double): Float = {
    val small = new Array[Long](SmallThreshold)
    val big = new Array[Long](BigSize)
    var count = 0L
    var i = 0
    while (i < values.length) {
      val w = if (weights.length == 0) 1L else weights(i)
      if (w > 0) {
        val x = clamp(values(i))
        count += w
        if (x < SmallThreshold) small(x) += w
        else if (x < BigThreshold) big((x - SmallThreshold) / BigPrecision) += w
      }
      i += 1
    }
    if (count == 0) return Float.NaN
    val pos = math.ceil(count * level)
    var acc = 0.0
    var v = 0
    while (v < SmallThreshold) {
      if (small(v) > 0) {
        acc += small(v)
        if (acc >= pos) return v.toFloat
      }
      v += 1
    }
    var b = 0
    while (b < BigSize) {
      if (big(b) > 0) {
        acc += big(b)
        if (acc >= pos)
          return (b * BigPrecision + SmallThreshold +
            (HashOps.intHash32(b, salt = 0) % BigPrecision - BigPrecision / 2)).toFloat
      }
      b += 1
    }
    BigThreshold.toFloat
  }

  private def compute(values: Array[Long], weights: Array[Long],
      level: Double): Float = {
    if (values.length == 0) return Float.NaN
    if (weights.length == 0) {
      // unweighted: tiny/medium exact path up to the conversion point
      if (values.length <= MediumMax) {
        val sorted = values.map(clamp).sorted
        sortedGet(sorted, level)
      } else largeGet(values, weights, level)
    } else {
      var total = 0L
      var i = 0
      while (i < weights.length) { total += math.max(weights(i), 0L); i += 1 }
      if (total == 0) Float.NaN
      else if (total <= TinyMax) {
        // weighted tiny: expand — identical to repeated single inserts
        val buf = new Array[Int](total.toInt)
        var j = 0; i = 0
        while (i < values.length) {
          var w = weights(i)
          while (w > 0) { buf(j) = clamp(values(i)); j += 1; w -= 1 }
          i += 1
        }
        java.util.Arrays.sort(buf)
        sortedGet(buf, level)
      } else largeGet(values, weights, level)
    }
  }

  private def longs(a: ArrayData): Array[Long] =
    if (a == null) Array.empty[Long]
    else {
      val out = new Array[Long](a.numElements())
      var i = 0
      while (i < out.length) {
        out(i) = if (a.isNullAt(i)) 0L else a.getLong(i)
        i += 1
      }
      out
    }

  /** Single-level entry for StaticInvoke: values/weights arrive as
    * catalyst ArrayData (LongType elements; weights empty = unweighted).
    */
  def one(values: ArrayData, weights: ArrayData, level: Double): Float =
    compute(longs(values), longs(weights), level)

  /** Multi-level entry: one result per level, in the caller's order. */
  def many(values: ArrayData, weights: ArrayData, levels: ArrayData)
      : ArrayData = {
    val vs = longs(values)
    val ws = longs(weights)
    val out = new Array[Any](levels.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = compute(vs, ws, levels.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
