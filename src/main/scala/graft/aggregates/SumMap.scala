package graft.aggregates

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

/** sumMap (reference Map-combinator family,
  * /root/reference/src/AggregateFunctions/AggregateFunctionSumMap.cpp):
  * per-group map of key → running sum. Output key order is sorted so the
  * result is deterministic; merge is additive, so partial aggregation
  * combines map-side.
  *
  * Values are quantized to long millionths inside the buffer — matching
  * the repo's `graft.Num.D6` determinism convention — so the per-key sum
  * is exact integer arithmetic and independent of partition merge order.
  * Raw double accumulation would make the result depend on which executor
  * merged first. Long micros overflow at a per-key sum of ~9.2e12 units;
  * per-(group, map-key) sums stay far below that even at 100 TB (the
  * global-sum case where micros overflow uses `Num.dsum2` instead).
  *
  * r16 (guide §1.2 per-task work): the buffer is a MUTABLE java HashMap
  * updated in place — the old immutable TreeMap path-copied O(log k)
  * nodes per input row. Sorting moves to finish(), once per group
  * (O(k log k) over the group's distinct keys, not per row). reduce and
  * merge return their (mutated) left argument, which the Aggregator
  * contract explicitly permits.
  */
final case class SumMapInput(key: String, value: Double)

class SumMap extends Aggregator[SumMapInput, java.util.HashMap[String, Long], Map[String, Double]]
    with Serializable {
  def zero: java.util.HashMap[String, Long] = new java.util.HashMap
  def reduce(b: java.util.HashMap[String, Long], e: SumMapInput): java.util.HashMap[String, Long] = {
    b.put(e.key, b.getOrDefault(e.key, 0L) + math.rint(e.value * 1e6).toLong)
    b
  }
  def merge(a: java.util.HashMap[String, Long], b: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    b.forEach((k, v) => a.merge(k, v, _ + _))
    a
  }
  def finish(b: java.util.HashMap[String, Long]): Map[String, Double] =
    TreeMap.from(b.asScala.view.map { case (k, micros) => k -> micros / 1e6 })
  def bufferEncoder: Encoder[java.util.HashMap[String, Long]] = Encoders.kryo
  def outputEncoder: Encoder[Map[String, Double]] = ExpressionEncoders.mapStringDouble
}

object SumMap {
  def apply(): UserDefinedFunction = udaf(new SumMap, Encoders.product[SumMapInput])
}

/** minMap / maxMap (reference Map-combinator family alongside sumMap,
  * AggregateFunctionSumMap.cpp `minMap`/`maxMap` registrations): per-group
  * map of key → min/max value. Values stay raw doubles — min/max are
  * order-independent by nature, so no quantization is needed. Same
  * mutable-buffer shape as [[SumMap]].
  */
class MinMaxMap(isMin: Boolean)
    extends Aggregator[SumMapInput, java.util.HashMap[String, Double], Map[String, Double]]
    with Serializable {
  private def pick(a: Double, b: Double): Double =
    if (isMin) math.min(a, b) else math.max(a, b)
  def zero: java.util.HashMap[String, Double] = new java.util.HashMap
  def reduce(b: java.util.HashMap[String, Double], e: SumMapInput): java.util.HashMap[String, Double] = {
    b.merge(e.key, e.value, pick)
    b
  }
  def merge(a: java.util.HashMap[String, Double], b: java.util.HashMap[String, Double]): java.util.HashMap[String, Double] = {
    b.forEach((k, v) => a.merge(k, v, pick))
    a
  }
  def finish(b: java.util.HashMap[String, Double]): Map[String, Double] =
    TreeMap.from(b.asScala)
  def bufferEncoder: Encoder[java.util.HashMap[String, Double]] = Encoders.kryo
  def outputEncoder: Encoder[Map[String, Double]] = ExpressionEncoders.mapStringDouble
}

object MinMap {
  def apply(): UserDefinedFunction = udaf(new MinMaxMap(true), Encoders.product[SumMapInput])
}

object MaxMap {
  def apply(): UserDefinedFunction = udaf(new MinMaxMap(false), Encoders.product[SumMapInput])
}
