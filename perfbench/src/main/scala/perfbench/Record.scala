package perfbench

import scala.collection.mutable

/** Thread-safe record of one run: operations attempted and failed (with
  * the name and error of each failure), latency samples per kind, and
  * free-form facts that go into the run record file.
  */
final class Record {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val failures0 = mutable.ArrayBuffer.empty[(String, String)]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val facts0 = mutable.LinkedHashMap.empty[String, Json.Value]

  def ok(kind: String, ms: Double): Unit = synchronized {
    attempted0 += 1
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  /** A latency sample that is not an operation of its own (a per-query
    * breakdown of samples already recorded with [[ok]]).
    */
  def sample(kind: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  /** An operation that ran but whose output did not match, or that threw
    * or timed out: counts in `error_rate`, contributes no latency sample.
    */
  def fail(name: String, error: String): Unit = synchronized {
    attempted0 += 1
    failed0 += 1
    failures0 += name -> error
    System.err.println(s"[perfbench] FAILED $name: $error")
  }

  def fact(key: String, v: Json.Value): Unit = synchronized { facts0(key) = v }

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def failures: Seq[(String, String)] = synchronized(failures0.toList)
  def latencies(kind: String): Seq[Double] = synchronized(samples.get(kind).map(_.toList).getOrElse(Nil))
  /** Operation latencies by kind, in completion order. */
  def allLatencies: Seq[(String, Seq[Double])] =
    synchronized(samples.toList.filterNot(_._1.startsWith("q:")).map { case (k, v) => k -> v.toList })
  def facts: Seq[(String, Json.Value)] = synchronized(facts0.toList)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: returns (percentile, value). With fewer than 21
    * samples no percentile above the median has ten beyond it, so the
    * median is returned and the record says so.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    val idx = n - 11
    if (idx <= (n - 1) / 2) (50.0, median(s))
    else (100.0 * (idx + 1) / n, s(idx))
  }
}
