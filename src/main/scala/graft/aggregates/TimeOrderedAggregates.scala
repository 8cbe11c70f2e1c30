package graft.aggregates

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import scala.collection.mutable.ArrayBuffer

/** Aggregates whose result is defined over the TIME-SORTED input: xirr
  * (reference AggregateFunctionXirr.h:195 — internal rate of return by
  * Newton iteration over date-stamped cashflows) and deltaSumTimestamp
  * (reference AggregateFunctionDeltaSumTimestamp.h — deltaSum made
  * order-insensitive by carrying the timestamp).
  *
  * Both collect (time, value) pairs and sort once at finish — the same
  * state the reference keeps (XirrData.xirr_items is an unsorted vector,
  * sorted in insertResultInto). State is O(rows in the group); at 100 TB
  * these are per-entity aggregates (one portfolio / one user), so group
  * size is bounded by per-entity activity, not table size — identical to
  * the reference's memory contract.
  */
object TimeOrderedAggregates {

  final case class TimedValue(t: Long, v: Double)

  /** xirr: annualized IRR of the cashflow series, reference algorithm
    * verbatim — initial guess from the annualized-return heuristic
    * (AggregateFunctionXirr.h:165), then ≤50 Newton steps
    * with ε = 1e-10 on a 365-day year; NaN when not converged. Times are
    * day numbers (the reference's Date columns are days too).
    */
  class Xirr
      extends Aggregator[TimedValue, ArrayBuffer[TimedValue], Double]
      with Serializable {
    private val MaxLoops = 50
    private val Eps = 1e-10
    private val DaysPerYear = 365.0

    def zero: ArrayBuffer[TimedValue] = ArrayBuffer.empty
    def reduce(b: ArrayBuffer[TimedValue], a: TimedValue): ArrayBuffer[TimedValue] = { b += a; b }
    def merge(a: ArrayBuffer[TimedValue], b: ArrayBuffer[TimedValue]): ArrayBuffer[TimedValue] = { a ++= b; a }

    def finish(items0: ArrayBuffer[TimedValue]): Double = {
      if (items0.isEmpty) return Double.NaN
      val items = items0.sortBy(x => (x.t, x.v))
      newton(items, annualizedReturn(items))
    }

    /** pow(1 + endValue/debit, ±daysPerYear/span) − 1 (reference
      * calculateAnnualizedReturn) — sign of the exponent flips when the
      * first flow is a credit.
      */
    private def annualizedReturn(items: ArrayBuffer[TimedValue]): Double = {
      var debit = 0.0
      var endValue = 0.0
      items.foreach { it =>
        endValue += it.v
        if (it.v < 0.0) debit -= it.v
      }
      var power = DaysPerYear / (items.last.t - items.head.t).toDouble
      if (items.head.v > 0) power = -power
      math.pow(1 + endValue / debit, power) - 1
    }

    private def newton(items: ArrayBuffer[TimedValue], guess0: Double): Double = {
      val t0 = items.head.t
      var guess = guess0
      var i = 0
      while (i < MaxLoops) {
        var deriv = 0.0
        var result = items.head.v
        val r = guess + 1.0
        var j = 1
        while (j < items.length) {
          val years = (items(j).t - t0) / DaysPerYear
          val v = items(j).v
          val e = math.pow(r, years)
          result += v / e
          deriv -= years * v / (e * r)
          j += 1
        }
        val newRate = guess - result / deriv
        if (!java.lang.Double.isFinite(newRate)) return Double.NaN
        if (math.abs(newRate - guess) <= Eps || math.abs(result) < Eps) return newRate
        guess = newRate
        i += 1
      }
      Double.NaN
    }

    def bufferEncoder: Encoder[ArrayBuffer[TimedValue]] =
      ExpressionEncoder[ArrayBuffer[TimedValue]]()
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** deltaSumTimestamp: Σ max(0, v_i − v_{i−1}) over the input sorted by
    * (t, v). Deliberate behavioral divergence from the reference: it
    * applies deltas in raw ARRIVAL order within a partial state and uses
    * timestamps only to order whole states at merge, so for duplicate
    * timestamps or out-of-timestamp-order arrival its result depends on
    * scan order. This implementation fully sorts by (t, v) at finish —
    * deterministic under Spark's shuffle-order-agnostic merge, identical
    * to the reference whenever timestamps are unique and delivered in
    * order (the reference's own steady-state assumption). Each positive
    * delta is quantized to 6 decimals (HALF_UP) before summing so the
    * result is bit-stable and oracle-comparable per the repo's Num
    * convention.
    */
  class DeltaSumTimestamp
      extends Aggregator[TimedValue, ArrayBuffer[TimedValue], Double]
      with Serializable {
    def zero: ArrayBuffer[TimedValue] = ArrayBuffer.empty
    def reduce(b: ArrayBuffer[TimedValue], a: TimedValue): ArrayBuffer[TimedValue] = { b += a; b }
    def merge(a: ArrayBuffer[TimedValue], b: ArrayBuffer[TimedValue]): ArrayBuffer[TimedValue] = { a ++= b; a }
    def finish(items0: ArrayBuffer[TimedValue]): Double = {
      if (items0.isEmpty) return 0.0
      val items = items0.sortBy(x => (x.t, x.v))
      var acc = java.math.BigDecimal.ZERO
      var j = 1
      while (j < items.length) {
        val d = items(j).v - items(j - 1).v
        if (d > 0) acc = acc.add(
          new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP))
        j += 1
      }
      acc.doubleValue
    }
    def bufferEncoder: Encoder[ArrayBuffer[TimedValue]] =
      ExpressionEncoder[ArrayBuffer[TimedValue]]()
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  def xirr: UserDefinedFunction =
    udaf(new Xirr, Encoders.product[TimedValue])
  def deltaSumTimestamp: UserDefinedFunction =
    udaf(new DeltaSumTimestamp, Encoders.product[TimedValue])
}
