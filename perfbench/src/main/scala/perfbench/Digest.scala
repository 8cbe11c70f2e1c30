package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count plus an order-insensitive digest of a result: every row is
  * projected to its UnsafeRow bytes (one canonical encoding for a given
  * schema), hashed to 64 bits, and the hashes are summed. Equal multisets
  * of rows give equal digests whatever the partitioning or row order.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  def rowHash(bytes: AnyRef, offset: Long, len: Int): Long = {
    val hi = Murmur3_x86_32.hashUnsafeBytes(bytes, offset, len, 0x3c074a61)
    val lo = Murmur3_x86_32.hashUnsafeBytes(bytes, offset, len, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Execute `df`'s physical plan (through `QueryExecution.toRdd`, as
    * `graft.Bench` does) and digest its rows on the executors. For a
    * prepared frame the plan and its RDD are reused across calls.
    */
  def execute(df: DataFrame): Digest = {
    val schema = df.queryExecution.analyzed.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        n += 1
        h += rowHash(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes)
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
