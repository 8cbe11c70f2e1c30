package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One named engine capability: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle used by the driver's
  * correctness gate. `oracle = None` → driver records a rows-only check.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** A query written as SQL text over the named tables, each registered
    * as a temp view under its own name, in the listed order. The oracle
    * is the same text: one ANSI SQL statement that runs verbatim on both
    * engines. Only the named tables are registered — `Tables.registerAll`
    * would read the footer of every table on each run.
    */
  def sql(name: String, tables: Seq[String], text: String): QueryDef =
    sql(name, tables, text, Some(text))

  /** Same, with an oracle text of its own (a builtin whose spelling or
    * semantics differ between the engines) or none (rows-only check).
    */
  def sql(name: String, tables: Seq[String], text: String, oracle: Option[String]): QueryDef =
    QueryDef(
      name,
      (s, dir) => {
        tables.foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(text)
      },
      oracle)
}

/** Numeric conventions shared by every query and its oracle.
  *
  * Spark aggregates doubles in nondeterministic partition order, so a raw
  * `sum(double)` is not reproducible bit-for-bit — let alone equal to
  * DuckDB's. Convention: compute per-row scalars in double (deterministic),
  * cast to an exact decimal *before* the aggregation (associative, order
  * independent), and cast the final aggregate back to double so the output
  * schema matches the oracle's. The reference avoids the same trap by using
  * exact Decimal arithmetic end to end
  * (/root/reference/src/DataTypes/DataTypesDecimal.h:50).
  */
object Num {
  val D2: DecimalType = DecimalType(18, 2)
  val D6: DecimalType = DecimalType(18, 6)

  /** Exact sum of a 2-decimal column, returned as double. */
  def dsum2(c: Column): Column = sum(c.cast(D2)).cast(DoubleType)

  /** Exact sum of a derived per-row double, quantized to 6 decimals. */
  def dsum6(c: Column): Column = sum(c.cast(D6)).cast(DoubleType)

  /** High-precision variant for knife-edge-sensitive intermediates: a
    * 6-decimal quantization of a per-row LN/χ² term rounds differently
    * across engines whenever the double sits within an ulp of a
    * `x.xxxxxx5` boundary, and a statistic summing hundreds of such terms
    * re-rolls that dice every data regeneration. Quantizing at 12 decimals
    * shrinks the boundary-hit probability by ~10⁶ while staying exact and
    * order-independent; round only FINAL statistics to 6.
    */
  val D12: DecimalType = DecimalType(28, 12)
  def dsum12(c: Column): Column = sum(c.cast(D12)).cast(DoubleType)

  /** Order-independent average: exact decimal sum / count. */
  def davg2(c: Column): Column = dsum2(c) / count(lit(1))
  def davg6(c: Column): Column = dsum6(c) / count(lit(1))

  /** Decimal-quantized double: ROUND(x, scale) routed through an exact
    * decimal and *back to double*, so Spark and the oracle derive
    * bit-identical doubles from the same exact decimal. Oracle mirror:
    * `CAST(CAST(ROUND(x, n) AS DECIMAL(18,n)) AS DOUBLE)`.
    *
    * Do NOT emit raw DECIMAL(18,s) output columns: the driver hashes the
    * decimal *representation*, and Spark parquet decimals differ at the
    * byte level from DuckDB result decimals (scale/trailing-zero/object
    * type) even when every value is equal — 13 such columns hash-failed
    * in round 6 while rows and schema matched.
    */
  def dq(c: Column, scale: Int): Column =
    round(c, scale).cast(DecimalType(18, scale)).cast(DoubleType)
  def dq6(c: Column): Column = dq(c, 6)

  /** Cents-long variant of [[dsum2]]: quantize to integer cents, sum
    * longs, divide back. For money-scale ≤2-decimal data this equals
    * dsum2 bit-for-bit (round(x*100) and CAST(x AS DECIMAL(18,2)) both
    * round the same half-up integer, and cents/100.0 = decimal→double on
    * the same rational) while skipping Spark's decimal aggregation path —
    * ~2.3× faster in the scan→agg hot loop. Overflow bound: a per-group
    * cents sum stays exact below 9.2e18 cents ≈ $9.2e16 — safe far past
    * 100 TB for money columns. (No 6-decimal micros variant on purpose:
    * micros sums DO overflow at that scale; dsum6's decimal buffer
    * auto-widens instead.)
    */
  def lsum2(c: Column): Column = sum(round(c * 100).cast(LongType)) / 100.0
  def lavg2(c: Column): Column = lsum2(c) / count(lit(1))
}
